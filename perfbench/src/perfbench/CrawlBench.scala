package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.crawl.{CrawlJob, FrontierStore, Status}
import graft.synth.WebGen

object CrawlBench {

  /** Web geometry and wave plan. Every host but the mega-host has
    * `PagesPerHost` pages; the mega-host holds `MegaShare` of all pages.
    * A run ramps `RampWaves` waves from the seed list and runs one more
    * (lead-in or resume) wave; the timed waves that follow are cap-bound
    * (`Budget` URLs scheduled from every host).
    */
  val Hosts = 48
  val PagesPerHost = 700
  val MegaShare = 0.05
  val Budget = 48
  val RampWaves = 2

  /** The most waves an untraced run times: those `expected_hits.tsv` covers. */
  val MaxTimedWaves = 4

  /** Per-leg result: `CrawlJob.run` entry and the wave-ready instant
    * before the first timed wave (nanoTime), the timed waves' walls and
    * committed ids, and the wall-clock (ms) wave-ready instants from the
    * one before the first timed wave to the last, which bound the stage
    * attribution.
    */
  final case class Leg(name: String, store: String, cores: Int,
                       startNs: Long, readyNs: Long, waveS: Seq[Double],
                       waves: Seq[Int], readyMs: Seq[Long],
                       noise: Map[String, Long]) {
    def totalS: Double = waveS.sum
    /** From `CrawlJob.run` entry to the first timed wave's start. */
    def readyS: Double = (readyNs - startNs) / 1e9
  }

  /** Per committed wave, read back from the store: scheduled rows that
    * were fetched (hits) and that missed the pages table; sampled fetched
    * pages, those with an article and a web row, and those whose article
    * text differs from the web table's.
    */
  final case class WaveCounts(hits: Long, misses: Long, sampled: Long,
                              joined: Long, differ: Long) {
    def scheduled: Long = hits + misses
  }
}

/** The `crawl_steady` workload. Every leg is one plain `CrawlJob.run`
  * (no attempts to choose between, no per-wave minima): the untraced run
  * crawls from the seed list, the traced run's legs resume their own
  * pristine copy of the ramped store.
  */
final class CrawlBench(a: Args, r: Report, t0: Long) {
  import CrawlBench._

  /** Timed waves per leg: one per five seconds of `--seconds` (two to
    * `MaxTimedWaves`) in the untraced run; one per leg in the traced run, which runs
    * three legs and must stay inside the per-run time limit.
    */
  private val timedWaves = if (a.trace) 1 else math.min(MaxTimedWaves, math.max(2, a.seconds / 5))
  private val root = Paths.get(a.work)
  private val webPath = root.resolve("web").toString
  private val rampStore = root.resolve("store_ramp")

  /** Seed → inputs: the seed offsets the page count by a multiple (0-7,
    * from a SplitMix64 hash of the seed, so neighbouring seeds differ) of
    * the host count and permutes the seed-URL order (WebGen has no RNG).
    */
  private val offset = java.lang.Math.floorMod(AnalyticsData.mix(0, a.seed, 0), 8L).toInt
  private val webCfg = {
    val regular = PagesPerHost.toLong * (Hosts - 1)
    val base = math.round(regular / (1 - MegaShare))
    WebGen.Config(nPages = base + offset.toLong * Hosts, nHosts = Hosts,
      megaShare = MegaShare)
  }
  private val seeds = new scala.util.Random(a.seed).shuffle(WebGen.seeds(webCfg))

  /** No in-loop pending compaction (as `graft.Bench` runs its crawl):
    * it would land in one of only two timed waves and double its wall.
    * The traced run compacts the ramped frontier once, before the legs
    * resume.
    */
  private def cfg(store: Path) = CrawlJob.Config(pagesPath = webPath,
    storeRoot = store.toString, seeds = seeds, hostBudget = Budget,
    compactEvery = 0)

  /** Scheduled URLs per timed wave when every host still has at least
    * `Budget` URLs pending: the politeness budget is the cap.
    */
  private val expectedPerWave = Hosts.toLong * Budget

  /** Fetched URLs per timed wave for this seed's page-count offset, as
    * recorded in `expected_hits.tsv` (offset, wave, hits). The crawl is
    * deterministic given the web, so the count depends only on the offset.
    */
  private val expectedHits: Map[Int, Long] =
    Files.readAllLines(Paths.get(a.expectedHits)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).filter(_(0).toInt == offset)
      .map(f => f(1).toInt -> f(2).toLong).toMap

  def run(): Unit = if (a.trace) runTraced() else runPlain()

  /** Untraced run: one `CrawlJob.run` from the seed list through the ramp
    * and one lead-in wave (together the set-up), then the timed waves at
    * 4N. These are the same waves the traced run's legs resume into.
    */
  private def runPlain(): Unit = {
    val spark = Main.session(a, a.cores4N)
    generateWeb(spark)
    val plain = leg(spark, "4n", lead = RampWaves + 1, traced = None)
    r.e2e("setup_s", (plain.readyNs - t0) / 1e9, "s")
    report(spark, plain)
    spark.stop()
  }

  /** Traced run: after the ramp, three legs each resume their own copy of
    * the ramped store for one resume wave plus the timed wave: 4N traced,
    * 4N untraced, and N untraced. The traced leg goes first, so any
    * warm-up the first resume still pays counts against tracing: the
    * reported overhead is an upper bound.
    */
  private def runTraced(): Unit = {
    val spark = r.spans("setup")(setup())
    val tr = new CrawlTrace(a, r, spark)
    val traced = leg(spark, "4n_traced", lead = 1, traced = Some(tr))
    val urlsTraced = report(spark, traced)
    val plain = leg(spark, "4n", lead = 1, traced = None)
    val urls4 = report(spark, plain)
    tr.report(traced, countsOf(spark, traced), urls4, urlsTraced, plain)
    spark.stop()
    val sparkN = Main.session(a, a.coresN)
    val legN = leg(sparkN, "n", lead = 1, traced = None)
    val urlsN = report(sparkN, legN)
    r.check(fetchedOf(sparkN, legN) == fetchedOf(sparkN, plain),
      s"fetched per wave differ between ${a.coresN} and ${a.cores4N} cores")
    tr.reportScaling(plain, legN, urls4, urlsN)
    sparkN.stop()
    Extract.report(r)
  }

  /** Check a leg's outputs, record it in the artifact, and return its
    * throughput (fetched URLs per second over the timed waves). The 4N
    * leg of an untraced run gives the end-to-end metrics.
    */
  private def report(spark: SparkSession, l: Leg): Double = {
    checkLeg(spark, l)
    val urls = fetchedOf(spark, l).sum / l.totalS
    if (!a.trace) {
      r.e2e("items_per_s", urls, "1/s")
      r.e2e("step_s_p50", Main.median(l.waveS), "s")
    }
    val legs = r.artifact.getOrElseUpdate("legs", mutable.ArrayBuffer.empty[Any])
    legs.asInstanceOf[mutable.ArrayBuffer[Any]] += Map(
      "leg" -> l.name, "cores" -> l.cores, "ready_s" -> l.readyS,
      "wave_s" -> l.waveS, "waves" -> l.waves, "fetched" -> fetchedOf(spark, l),
      "misses" -> countsOf(spark, l).map(_.misses), "urls_per_s" -> urls,
      "host_noise" -> l.noise)
    urls
  }

  private def generateWeb(spark: SparkSession): Unit = {
    r.spans("WebGen.generate")(WebGen.generate(spark, webCfg).write.parquet(webPath))
    r.artifact("web") = Map("offset" -> offset, "pages" -> webCfg.nPages, "hosts" -> webCfg.nHosts,
      "mega_share" -> webCfg.megaShare, "budget" -> Budget,
      "ramp_waves" -> RampWaves, "timed_waves" -> timedWaves)
  }

  /** Traced-run set-up: session start, web generation, ramp, compaction
    * of the ramped frontier, and one pristine store copy per leg.
    */
  private def setup(): SparkSession = {
    val spark = r.spans("session")(Main.session(a, a.cores4N))
    generateWeb(spark)
    val last = r.spans("CrawlJob.run.ramp")(
      CrawlJob.run(spark, cfg(rampStore), stopAfterWaves = RampWaves))
    r.check(last == RampWaves, s"ramp stopped at wave $last")
    r.spans("FrontierStore.compact")(new FrontierStore(rampStore.toString).compact(spark, last))
    Seq("4n", "4n_traced", "n").foreach { l =>
      r.spans("copy_store")(Files2.copyDir(rampStore, root.resolve(s"store_$l")))
    }
    spark
  }

  /** One leg: a single `CrawlJob.run` on the leg's store for `lead`
    * untimed waves (the resume wave, or the ramp plus one wave on an
    * empty store) and then the timed waves, stamping each wave-ready
    * instant.
    */
  private def leg(spark: SparkSession, name: String, lead: Int,
                  traced: Option[CrawlTrace]): Leg = {
    val store = root.resolve(s"store_$name")
    val c = cfg(store)
    val w0 = new FrontierStore(c.storeRoot).latestWave().getOrElse(0)
    traced.foreach(_.beforeLeg(c, w0, lastReplayed = w0 + lead + timedWaves - 1))
    val stamps = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    System.gc()
    val noise0 = Host.noise()
    val start = System.nanoTime()
    val last = r.spans(s"CrawlJob.run.$name") {
      CrawlJob.run(spark, c, stopAfterWaves = lead + timedWaves, onWaveDone = { w =>
        stamps += ((w, System.nanoTime(), System.currentTimeMillis()))
        traced.foreach(_.onWaveReady(w))
      })
    }
    val noise = Host.noiseDelta(noise0)
    // each timed wave is one operation; a frontier that runs dry fails
    // the waves it did not run
    (1 to timedWaves).foreach { i =>
      r.check(stamps.size >= lead + i, s"leg $name: frontier exhausted at wave $last")
    }
    if (stamps.size < lead + timedWaves)
      throw new IllegalStateException(s"leg $name truncated at wave $last")
    traced.foreach(_.afterLeg())
    val timed = stamps.drop(lead - 1)
    Leg(name, c.storeRoot, spark.sparkContext.defaultParallelism, start,
      timed.head._2, timed.sliding(2).map(p => (p(1)._2 - p(0)._2) / 1e9).toSeq,
      timed.tail.map(_._1).toSeq, timed.map(_._3).toSeq, noise)
  }

  private val counts = mutable.HashMap.empty[String, Seq[WaveCounts]]

  /** The timed waves' deltas of a leg's store, tagged with the wave id. */
  private def deltas(spark: SparkSession, l: Leg,
                     read: (FrontierStore, Int) => DataFrame): DataFrame = {
    val fs = new FrontierStore(l.store)
    l.waves.map(w => read(fs, w).withColumn("w", lit(w))).reduce(_ unionByName _)
  }

  /** Per timed wave, read back from the committed store (not from any
    * engine-side counter): hits (scheduled rows that were fetched),
    * misses (scheduled rows that failed or were re-queued for a retry),
    * and the byte-identity sample of the output checks.
    */
  private def countsOf(spark: SparkSession, l: Leg): Seq[WaveCounts] =
    counts.getOrElseUpdate(l.store, {
      val articles = new FrontierStore(l.store).readArticles(spark, l.waves.last).get
        .select(col("urlKey"), col("text"), lit(1).as("a"))
      val web = spark.read.parquet(webPath)
        .select(col("url"), col("text").as("expected"), lit(1).as("t"))
      val hit = col("status").isin(Status.Fetched, Status.Redirected) && col("scheduledRank") >= 0
      // sample: own-content fetches (redirected pages publish under their
      // canonical url) whose url hashes to 0 mod 8
      val sampled = col("status") === Status.Fetched && col("scheduledRank") >= 0 &&
        pmod(xxhash64(col("url")), lit(8)) === 0
      val both = sampled && col("a") === 1 && col("t") === 1
      def n(c: org.apache.spark.sql.Column) = sum(when(c, 1).otherwise(0)).cast("long")
      val o = deltas(spark, l, (fs, w) => fs.readOutcomes(spark, w))
        .select(col("w"), col("urlKey"), col("url"), col("status"), col("scheduledRank"))
        .join(articles, Seq("urlKey"), "left")
        .join(web, Seq("url"), "left")
        .groupBy("w").agg(n(hit), n(col("status") === Status.Failed), n(sampled), n(both),
          n(both && !(col("text") <=> col("expected"))))
        .collect().map(r => r.getInt(0) -> (1 to 5).map(r.getLong)).toMap
      val retried = deltas(spark, l, (fs, w) => fs.readPendadd(spark, w))
        .filter(col("attempts") >= 1).groupBy("w").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      l.waves.map { w =>
        val Seq(hits, failed, sample, joined, differ) = o.getOrElse(w, Seq.fill(5)(0L))
        WaveCounts(hits, failed + retried.getOrElse(w, 0L), sample, joined, differ)
      }
    })

  private def fetchedOf(spark: SparkSession, l: Leg): Seq[Long] =
    countsOf(spark, l).map(_.hits)

  /** Output checks of one leg: each timed wave must schedule exactly
    * the cap-bound count (hits plus misses: the early waves still retry
    * dangling links) and fetch exactly the recorded count for the seed,
    * and every sampled fetched page must have an article whose text is
    * byte-identical to the web table's `text` column.
    */
  private def checkLeg(spark: SparkSession, l: Leg): Unit =
    l.waves.zip(countsOf(spark, l)).foreach { case (w, c) =>
      r.check(c.scheduled == expectedPerWave,
        s"leg ${l.name} wave $w: scheduled ${c.scheduled}, expected $expectedPerWave")
      r.check(expectedHits.get(w).contains(c.hits),
        s"leg ${l.name} wave $w: fetched ${c.hits}, expected " +
          s"${expectedHits.get(w).fold("none recorded")(_.toString)} (offset $offset)")
      r.check(c.sampled > 0 && c.joined == c.sampled && c.differ == 0,
        s"leg ${l.name} wave $w: ${c.sampled} sampled pages, ${c.joined} with an " +
          s"article and a web row, ${c.differ} with text differing from the web table")
    }
}
