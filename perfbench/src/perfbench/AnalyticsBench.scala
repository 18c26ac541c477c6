package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry

/** Fixed analytics tables in the testdata schemas (TESTDATA.md): the
  * tables `SparkEntry.queries` reads for the query set below, generated
  * as a pure function of the row index (seed 42, no RNG state), so every
  * run and every checkout sees the same bytes of input. The row counts
  * are those of the sf0.1 testdata tables.
  */
object AnalyticsData {
  val Lineitem = 600000L
  val Parts = 20000L
  val Documents = 5000L
  val Events = 100000L
  val Vectors = 2000L
  val Dim = 64

  private val Seed = 42L
  private val vocab = Array("row", "the", "query", "stream", "fast", "spark",
    "line", "small", "customer", "group", "value", "hash", "batch", "sort",
    "data", "big", "filter", "dup", "key", "agg", "scan", "slow", "table",
    "part", "a", "merge", "window", "order", "column", "join", "vector")
  private val langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val types = Array("ECONOMY", "STANDARD", "PROMO", "LARGE")
  private val eventTypes = Array("click", "view", "signup", "purchase", "error")

  /** SplitMix64 of (table, row, field): the only source of variation. */
  def mix(t: Long, i: Long, f: Long): Long = {
    var z = Seed * 0x9E3779B97F4A7C15L + t * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL + f
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def uni(t: Long, i: Long, f: Long, n: Long): Long =
    java.lang.Math.floorMod(mix(t, i, f), n)
  private def cents(t: Long, i: Long, f: Long, lo: Long, hi: Long): Double =
    (lo + uni(t, i, f, hi - lo + 1)) / 100.0

  /** Document text: random words; every 50th document (offset 7) repeats
    * an earlier one exactly, and every 50th (offset 23) is a near-copy of
    * the document 20 rows earlier (same source) with three words changed.
    */
  def docText(i: Long): String =
    if (i % 50 == 7) docText(i - 5)
    else if (i % 50 == 23) {
      val w = docText(i - 20).split(' ')
      (0 until 3).foreach(k => w(uni(3, i, 100 + k, w.length).toInt) = vocab(uni(3, i, 200 + k, vocab.length).toInt))
      w.mkString(" ")
    } else {
      val n = 8 + uni(3, i, 0, 80).toInt
      (0 until n).map(k => vocab(uni(3, i, 1 + k, vocab.length).toInt)).mkString(" ")
    }

  def write(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val day = 86400L
    val ship0 = 788659200L // 1995-01-02
    spark.range(Lineitem).map { i =>
      val q = 1 + uni(1, i, 4, 50)
      val price = q * cents(1, i, 5, 90000, 210000)
      (i / 4, uni(1, i, 1, Parts), uni(1, i, 2, 100), (i % 4 + 1).toInt, q.toDouble,
        math.round(price * 100) / 100.0, cents(1, i, 6, 0, 10), cents(1, i, 7, 0, 8),
        "ANR".charAt(uni(1, i, 8, 3).toInt).toString, "FO".charAt(uni(1, i, 9, 2).toInt).toString,
        ship0 + uni(1, i, 10, 2500) * day)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "ship_s")
      .withColumn("l_shipdate", timestamp_seconds($"ship_s")).drop("ship_s")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(Parts).map { i =>
      (i, s"part ${vocab(uni(2, i, 0, vocab.length).toInt)}", s"Brand#${1 + uni(2, i, 1, 25)}",
        types(uni(2, i, 2, types.length).toInt),
        (1 + uni(2, i, 3, 50)).toInt, cents(2, i, 4, 90000, 200000))
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    spark.range(Documents).map { i =>
      val text = docText(i)
      (i, text, langs(uni(3, i, 999, langs.length).toInt), s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val ts0 = 1704067200L // 2024-01-01
    spark.range(Events).map { i =>
      (i, ts0 + uni(4, i, 0, 30 * day), uni(4, i, 1, 150),
        eventTypes(uni(4, i, 2, eventTypes.length).toInt),
        cents(4, i, 3, 1, 49002), s"""{"k": ${uni(4, i, 4, 100)}}""")
    }.toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_seconds($"ts_s"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.range(Vectors).map { i =>
      val label = uni(5, i, 0, 10)
      // label centroid plus noise, unit length
      val v = Array.tabulate(Dim) { d =>
        (uni(5, label, 1000 + d, 2001) - 1000) / 1000.0 + (uni(5, i, 1 + d, 801) - 400) / 1000.0
      }
      val n = math.sqrt(v.map(x => x * x).sum)
      (i, v.map(x => (x / n).toFloat), label.toInt)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}

/** The analytics workload: a fixed query set over the fixed tables,
  * one query at a time; one warm-up pass is set-up, then passes run back
  * to back for the run's seconds (at least one).
  */
final class AnalyticsBench(a: Args, r: Report, t0: Long) {
  import AnalyticsBench._

  private val dir = Paths.get(a.work, "tables").toString

  private val expected: Map[String, (Long, String)] =
    Files.readAllLines(Paths.get(a.expected)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\\s+"); f(0) -> (f(1).toLong, f(2)) }.toMap

  /** Row count and order-independent checksum (sum of per-row xxhash64)
    * of one query's output: the action each pass times.
    */
  private def digest(df: DataFrame): (Long, String) = {
    val row = df.agg(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.map(c => df.col(s"`$c`")): _*)
        .cast("decimal(20,0)")), lit(0).cast("decimal(30,0)")).cast("string")).head()
    (row.getLong(0), row.getString(1))
  }

  private def checkResult(tag: String, q: String, got: (Long, String)): Unit = {
    val want = expected.get(q)
    r.check(want.contains(got),
      s"$tag $q: got rows=${got._1} checksum=${got._2}, expected ${want.getOrElse("none")}")
  }

  private def pass(spark: SparkSession, tag: String): Seq[(String, Double)] =
    Queries.map { q =>
      val t = System.nanoTime()
      val got = r.spans(s"SparkEntry.queries.$q")(digest(SparkEntry.queries(q)(spark, dir)))
      val s = (System.nanoTime() - t) / 1e9
      checkResult(tag, q, got)
      q -> s
    }

  /** The warm-up pass (set-up, untimed): the same queries and checks,
    * run four at a time so JIT and codegen warm-up overlap.
    */
  private def warmUp(spark: SparkSession): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futures = Queries.map(q => pool.submit(() => digest(SparkEntry.queries(q)(spark, dir))))
      Queries.zip(futures).foreach { case (q, f) => checkResult("warm-up", q, f.get()) }
    } finally pool.shutdown()
  }

  def run(): Unit = {
    val spark = r.spans("setup") {
      val s = r.spans("session")(Main.session(a, a.cores4N))
      r.spans("tables")(AnalyticsData.write(s, dir))
      r.spans("warmup")(warmUp(s))
      s
    }
    r.e2e("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    val start = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    while (passes.isEmpty || (System.nanoTime() - start) / 1e9 < a.seconds) {
      System.gc()
      val n0 = Host.noise()
      val qs = pass(spark, s"pass ${passes.size + 1}")
      passes += Map("queries" -> qs.toMap, "pass_s" -> qs.map(_._2).sum,
        "host_noise" -> Host.noiseDelta(n0))
    }
    val wall = passes.map(_("pass_s").asInstanceOf[Double]).toSeq
    r.e2e("items_per_s", Queries.size * passes.size / wall.sum, "1/s")
    r.e2e("step_s_p50", Main.median(wall), "s")
    r.artifact("passes") = passes.toSeq
    r.artifact("queries") = Queries
    r.artifact("tables") = Map("lineitem" -> AnalyticsData.Lineitem,
      "part" -> AnalyticsData.Parts, "documents" -> AnalyticsData.Documents,
      "events" -> AnalyticsData.Events, "embeddings" -> AnalyticsData.Vectors)
    if (a.trace) {
      val l = new StageListener
      spark.sparkContext.addSparkListener(l)
      val windows = Queries.map { q =>
        val f = System.currentTimeMillis()
        val t = System.nanoTime()
        val got = r.spans(s"traced.$q")(digest(SparkEntry.queries(q)(spark, dir)))
        val window = (q, f, System.currentTimeMillis() + 1, (System.nanoTime() - t) / 1e9)
        checkResult("traced", q, got)
        window
      }
      l.flush(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      windows.foreach { case (q, f, e, s) =>
        val ss = l.stagesIn(f, e)
        r.layer(s"query.$q.wall_s", s, "s")
        r.layer(s"query.$q.cpu_s", ss.map(_.cpuNs).sum / 1e9, "s")
        r.layer(s"query.$q.shuffle_bytes", ss.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
      }
      Extract.report(r)
    }
    spark.stop()
  }
}

object AnalyticsBench {
  /** The eight headline queries of `graft.Bench` plus the extraction,
    * ANN and corpus-dedup queries.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q05_join_agg", "q08_exact_dedup",
    "q12_sessionize", "q13_ngram_jaccard", "q14_cosine_topk",
    "q16_minhash_lsh", "q20_window_rollup", "q24_article_extract",
    "q31_ann_ivf", "q37_ann_pq", "q41_ann_ivfpq", "q42_dedup_corpus")
}
