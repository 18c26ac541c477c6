package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark run (see `run.py`, which derives the
  * box-dependent values and launches this JVM).
  */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: String, coresN: Int,
                      cores4N: Int, conf: Seq[(String, String)],
                      expected: String, expectedHits: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Files.readAllLines(Paths.get(m("conf"))).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf('='); l.take(i).trim -> l.drop(i + 1).trim }
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("work"), m("cores-n").toInt, m("cores-4n").toInt,
      conf, m("expected"), m("expected-hits"))
  }
}

/** What one run found: the metrics, the outcome counts and the artifact
  * (raw per-wave and per-pass figures, host noise, spans, stages).
  */
final class Report(trace: Boolean) {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val artifact = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val spans = new Spans(trace)

  /** Count one operation or output check; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)
}

/** Box-level counters read around every run and leg. */
object Host {
  /** (steal, iowait) ticks of the aggregate `cpu` line of /proc/stat. */
  def noise(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      (f(8).toLong, f(5).toLong)
    } catch { case _: Exception => (0L, 0L) }

  def noiseDelta(from: (Long, Long)): Map[String, Long] = {
    val to = noise()
    Map("steal_ticks" -> (to._1 - from._1), "iowait_ticks" -> (to._2 - from._2))
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
}

object Files2 {
  def copyDir(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  /** (bytes, files) under `p`. */
  def du(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
}

/** The per-layer metric names and units, in output order. A traced run
  * prints all of them; a layer that does not run in the workload (the
  * query operators in a crawl, the crawl layers in the query mix) reads 0.
  */
object Metrics {
  val crawl: Seq[(String, String)] = Seq(
    "sched.wall_s" -> "s", "sched.cpu_s" -> "s", "sched.rows_in" -> "count",
    "sched.rows_out" -> "count", "sched.max_task_s" -> "s",
    "fetch.wall_s" -> "s", "fetch.shuffle_bytes" -> "bytes", "fetch.miss_ratio" -> "ratio",
    "parse.cpu_s" -> "s", "parse.gc_s" -> "s", "parse.core_ms_per_url" -> "ms",
    "expand.links" -> "count", "expand.candidates" -> "count",
    "expand.dup_ratio" -> "ratio", "expand.shuffle_bytes" -> "bytes",
    "seen.wall_s" -> "s", "seen.new_keys" -> "count",
    "bloom.probe_pos_ratio" -> "ratio", "bloom.fp_ratio" -> "ratio",
    "bloom.fpp" -> "ratio", "bloom.update_s" -> "s", "bloom.bytes" -> "bytes",
    "commit.wall_s" -> "s", "commit.bytes" -> "bytes", "pview.wall_s" -> "s",
    "store.read_s" -> "s", "store.files" -> "count", "store.resume_s" -> "s",
    "store.bytes_per_url" -> "bytes",
    "wave.jobs" -> "count", "wave.stages" -> "count", "wave.tasks" -> "count",
    "wave.floor_s" -> "s", "wave.parallel_core_s" -> "s",
    "crawl.urls_per_s_n" -> "1/s", "crawl.scaling_eff" -> "ratio",
    "trace.urls_per_s" -> "1/s", "trace.overhead_urls_per_s" -> "1/s")
  val common: Seq[(String, String)] = Seq(
    "extract.us_per_page" -> "us", "extract.alloc_bytes_per_page" -> "bytes",
    "host.steal_ticks" -> "count", "host.iowait_ticks" -> "count")
  val query: Seq[(String, String)] = AnalyticsBench.Queries.flatMap { q =>
    Seq(s"query.$q.wall_s" -> "s", s"query.$q.cpu_s" -> "s",
      s"query.$q.shuffle_bytes" -> "bytes")
  }
  val perLayer: Seq[(String, String)] = crawl ++ common ++ query

  /** Put the traced run's metrics in output order; zero-fill the layers
    * the workload does not run, and fail on a missing one it does run.
    */
  def complete(workload: String, got: collection.Map[String, (Double, String)]): Seq[(String, (Double, String))] = {
    val runs = common ++ (if (workload == "analytics_mix") query else crawl)
    val missing = runs.map(_._1).filterNot(got.contains)
    require(missing.isEmpty, s"traced run did not measure: ${missing.mkString(", ")}")
    perLayer.map { case (n, u) => n -> got.getOrElse(n, (0.0, u)) }
  }
}

object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case o => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

/** Entry point: runs one workload and prints, as its last stdout line,
  * `{"correct", "attempted", "failed", "metrics"}`. The artifact (raw
  * figures, host noise, spans, stage attribution) goes to
  * `<work>/artifact.json`; a summary of it is printed on the line before.
  */
object Main {

  def session(a: Args, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores4N.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    a.conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = Args.parse(argv)
    val noise0 = Host.noise()
    val r = new Report(a.trace)
    r.artifact("workload") = a.workload
    r.artifact("seed") = a.seed
    r.artifact("seconds") = a.seconds
    r.artifact("trace") = a.trace
    r.artifact("cores_n") = a.coresN
    r.artifact("cores_4n") = a.cores4N
    r.artifact("session") = a.conf.toMap
    a.workload match {
      case "crawl_steady" => new CrawlBench(a, r, t0).run()
      case "analytics_mix" => new AnalyticsBench(a, r, t0).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.e2e("peak_rss_mb", Host.peakRssMb(), "MB")
    val noise = Host.noiseDelta(noise0)
    r.artifact("host_noise") = noise
    r.artifact("wall_s") = (System.nanoTime() - t0) / 1e9
    r.artifact("failures") = r.failures.toSeq
    r.artifact("failed_ratio") = r.failed.toDouble / math.max(1L, r.attempted)
    if (a.trace) {
      r.layer("host.steal_ticks", noise("steal_ticks").toDouble, "count")
      r.layer("host.iowait_ticks", noise("iowait_ticks").toDouble, "count")
      r.artifact("spans") = r.spans.all.map(s => Map("id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_s" -> (s.startNs - t0) / 1e9,
        "dur_s" -> s.seconds))
      r.artifact("span_self_s") = r.spans.selfSeconds
    }
    val chosen = if (a.trace) Metrics.complete(a.workload, r.perLayer) else r.endToEnd.toSeq
    val full = r.artifact ++ Seq("end_to_end" -> r.endToEnd, "per_layer" -> r.perLayer)
    Files.writeString(Paths.get(a.work, "artifact.json"), Json(full) + "\n")
    val summary = r.artifact.filter { case (k, _) => !Set("spans", "stages").contains(k) }
    println("artifact " + Json(summary))
    println(Json(Map(
      "correct" -> (r.failed == 0 && r.attempted > 0),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "metrics" -> mutable.LinkedHashMap(chosen.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
  }
}
