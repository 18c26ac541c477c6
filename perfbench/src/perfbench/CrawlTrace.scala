package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.crawl.{CrawlJob, FrontierStore, ShardedBloom}

/** The traced crawl leg: stage attribution inside `CrawlJob.run`, Bloom
  * filter snapshots at every wave-ready instant, store reads at resume,
  * and the per-layer rollup. Per-wave figures are means over the timed
  * waves.
  */
final class CrawlTrace(a: Args, r: Report, spark: SparkSession) {
  private val listener = new StageListener
  private var cfg: CrawlJob.Config = _
  private var lastReplayed = 0
  private def snapDir(w: Int) = s"${a.work}/bloom_snap/w$w"

  /** `lastReplayed`: the last wave whose successor is timed; only the
    * filters at its wave-ready instant and before are replayed.
    */
  def beforeLeg(c: CrawlJob.Config, w0: Int, lastReplayed: Int): Unit = {
    cfg = c
    this.lastReplayed = lastReplayed
    // store reads at resume, as the benchmark's own calls
    val store = new FrontierStore(c.storeRoot)
    val t = System.nanoTime()
    r.spans("FrontierStore.pendingView")(store.pendingView(spark, w0).count())
    r.spans("FrontierStore.allKeys")(store.allKeys(spark, w0).count())
    r.layer("store.read_s", (System.nanoTime() - t) / 1e9, "s")
    spark.sparkContext.addSparkListener(listener)
  }

  /** At wave-ready `w` the filters hold every key committed through `w`:
    * exactly what the next wave probes. Keep a copy for the FPR replay.
    */
  def onWaveReady(w: Int): Unit =
    if (w <= lastReplayed) r.spans("bloom_snapshot")(
      Files2.copyDir(Paths.get(new FrontierStore(cfg.storeRoot).bloomDir), Paths.get(snapDir(w))))

  def afterLeg(): Unit = {
    listener.flush(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
  }

  private def wallUnionS(ss: Seq[StageRec]): Double = {
    val iv = ss.map(s => (s.submitMs, s.completeMs)).sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total / 1000.0
  }

  /** A wave's directory: the parent of its delta (manifest, delta). */
  private def waveDir(w: Int) = Paths.get(new FrontierStore(cfg.storeRoot).deltaPath(w)).getParent

  private def manifestField(w: Int, key: String): Long = {
    val p = waveDir(w).resolve("manifest.json")
    if (!Files.exists(p)) 0L
    else s""""$key"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(Files.readString(p))
      .map(_.group(1).toLong).getOrElse(0L)
  }

  def report(leg: CrawlBench.Leg, counts: Seq[CrawlBench.WaveCounts],
             urlsUntraced: Double, urlsTraced: Double, plain: CrawlBench.Leg): Unit = {
    val k = leg.waves.size.toDouble
    // One steady-state period per timed wave. Each wave ends with a
    // synchronous Bloom update, and only then launches its commit, which
    // overlaps the next wave's compute and is joined before the next
    // update. So the window from the end of the predecessor's update to
    // the end of the timed wave's own update holds the timed wave's
    // compute and Bloom update plus exactly one commit: the predecessor's.
    val bounds = leg.readyMs.map(ms => listener.lastCompleted("bloom", ms).getOrElse(
      throw new IllegalStateException(s"no Bloom update stage completed before $ms")))
    val (fromMs, toMs) = (bounds.head, bounds.last)
    r.artifact("window") = Map("from_ms" -> fromMs, "to_ms" -> toMs)
    val ss = listener.stagesIn(fromMs, toMs)
    def incl(l: String) = ss.filter(_.layers.contains(l))
    def prim(l: String) = ss.filter(_.primary == l)
    val fetched = counts.map(_.hits).sum.toDouble
    val scheduled = counts.map(_.scheduled).sum.toDouble
    val store = new FrontierStore(cfg.storeRoot)

    // politeness select: rows in = the pending view each wave scheduled from
    val rowsIn = r.spans("FrontierStore.pendingView")(
      leg.waves.map(w => store.pendingView(spark, w - 1).count()).sum)
    r.layer("sched.wall_s", wallUnionS(incl("sched")) / k, "s")
    r.layer("sched.cpu_s", prim("sched").map(_.cpuNs).sum / 1e9 / k, "s")
    r.layer("sched.rows_in", rowsIn / k, "count")
    r.layer("sched.rows_out", scheduled / k, "count")
    r.layer("sched.max_task_s", (0L +: incl("sched").map(_.maxTaskMs)).max / 1000.0, "s")

    r.layer("fetch.wall_s", wallUnionS(incl("fetch")) / k, "s")
    r.layer("fetch.shuffle_bytes", incl("fetch").map(_.shuffleReadBytes).sum / k, "bytes")
    r.layer("fetch.miss_ratio", (scheduled - fetched) / math.max(1.0, scheduled), "ratio")

    r.layer("parse.cpu_s", prim("parse").map(_.cpuNs).sum / 1e9 / k, "s")
    r.layer("parse.gc_s", prim("parse").map(_.gcMs).sum / 1000.0 / k, "s")
    r.layer("parse.core_ms_per_url", prim("parse").map(_.runMs).sum / math.max(1.0, fetched), "ms")

    // link expansion: rows out of the link explode vs deduplicated candidates
    val links = ss.map(_.sqlRows("Generate:posexplode")).sum.toDouble
    val newKeys = leg.waves.map(w => manifestField(w, "new_links")).sum.toDouble
    val cands = newKeys + leg.waves.map(w => manifestField(w, "dup_links")).sum
    r.layer("expand.links", links / k, "count")
    r.layer("expand.candidates", cands / k, "count")
    r.layer("expand.dup_ratio", if (links > 0) 1 - cands / links else 0.0, "ratio")
    r.layer("expand.shuffle_bytes", prim("expand").map(_.shuffleWriteBytes).sum / k, "bytes")

    // Bloom replay: a key first seen in wave w was NOT in the filters the
    // wave probed (snapshot at w-1), so a positive probe is a false
    // positive that the exact anti-join then cleared
    val (fp, probedNew) = r.spans("ShardedBloom.mightContain") {
      leg.waves.map { w =>
        val keys = spark.read.parquet(store.keysPath(w)).select("urlKey")
          .collect().map(_.getLong(0))
        val dir = snapDir(w - 1)
        (keys.count(k => ShardedBloom.mightContain(dir, cfg.bloomShards, w.toLong, k)).toLong,
          keys.length.toLong)
      }.foldLeft((0L, 0L)) { case ((x, y), (p, n)) => (x + p, y + n) }
    }
    val seen = cands - newKeys
    r.layer("seen.wall_s", wallUnionS(incl("seen")) / k, "s")
    r.layer("seen.new_keys", probedNew / k, "count")
    r.layer("bloom.probe_pos_ratio", if (cands > 0) (seen + fp) / cands else 0.0, "ratio")
    r.layer("bloom.fp_ratio", fp.toDouble / math.max(1L, probedNew), "ratio")
    r.layer("bloom.fpp", cfg.bloomFpp, "ratio")
    r.layer("bloom.update_s", wallUnionS(incl("bloom")) / k, "s")
    r.layer("bloom.bytes", Files2.du(Paths.get(store.bloomDir))._1.toDouble, "bytes")

    // store: what the timed waves committed, and the resume read side;
    // the commit inside the window is the predecessor's
    def bytesOf(w: Int) =
      Files2.du(waveDir(w))._1 + Files2.du(Paths.get(store.basePath(w)).getParent)._1
    val waveBytes = leg.waves.map(bytesOf).sum.toDouble
    r.layer("commit.wall_s", wallUnionS(incl("commit")) / k, "s")
    r.layer("commit.bytes", leg.waves.map(w => bytesOf(w - 1)).sum / k, "bytes")
    r.layer("pview.wall_s", wallUnionS(incl("pview")) / k, "s")
    r.layer("store.files", Files2.du(Paths.get(cfg.storeRoot))._2.toDouble, "count")
    r.layer("store.resume_s", plain.readyS, "s")
    r.layer("store.bytes_per_url", waveBytes / math.max(1.0, fetched), "bytes")

    r.layer("wave.jobs", listener.jobsIn(fromMs, toMs) / k, "count")
    r.layer("wave.stages", ss.size / k, "count")
    r.layer("wave.tasks", ss.map(_.tasks).sum / k, "count")
    r.layer("trace.overhead_urls_per_s", urlsUntraced - urlsTraced, "1/s")
    r.layer("trace.urls_per_s", urlsTraced, "1/s")

    r.artifact("attribution") = "stage-level: every stage is labelled with the " +
      "layers whose operators it contains; run time, CPU, GC and shuffle " +
      "bytes go to its first (primary) label; *.wall_s is the union of the " +
      "wall intervals of all stages carrying the label"
    r.artifact("layer_self_s") = StageListener.Layers.map { l =>
      l -> prim(l).map(_.runMs).sum / 1000.0
    }.toMap
    r.artifact("stages") = ss.map(s => Map("id" -> s.stageId, "name" -> s.name,
      "layers" -> s.layers, "tasks" -> s.tasks, "wall_s" -> s.wallMs / 1000.0,
      "run_s" -> s.runMs / 1000.0, "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1000.0,
      "shuffle_read" -> s.shuffleReadBytes, "shuffle_write" -> s.shuffleWriteBytes,
      "operators" -> s.operators.toSeq.filterNot(_.startsWith("WholeStageCodegen"))))
  }

  /** N-vs-4N legs: scaling and the affine fit t(c) = A/c + F of the mean
    * timed-wave wall (F: per-wave floor, A: parallel core-seconds).
    */
  def reportScaling(leg4: CrawlBench.Leg, legN: CrawlBench.Leg,
                    urls4: Double, urlsN: Double): Unit = {
    val t4 = leg4.totalS / leg4.waveS.size
    val tn = legN.totalS / legN.waveS.size
    val (c4, cn) = (a.cores4N.toDouble, a.coresN.toDouble)
    val par = (tn - t4) / (1 / cn - 1 / c4)
    r.layer("crawl.urls_per_s_n", urlsN, "1/s")
    r.layer("crawl.scaling_eff", urls4 / (c4 / cn * urlsN), "ratio")
    r.layer("wave.floor_s", t4 - par / c4, "s")
    r.layer("wave.parallel_core_s", par, "s")
  }
}
