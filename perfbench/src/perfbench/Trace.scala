package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One span: a benchmark-side call into a public layer. `parent` is the
  * id of the enclosing span (-1 at the top); one run's spans are written
  * together, in its artifact.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: spans are kept until the run ends and are
  * written out with the artifact. A disabled recorder runs the body only.
  */
final class Spans(val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  def all: Seq[Span] = done.sortBy(_.startNs).toSeq

  /** Self time per span name: each span's duration minus the part of it
    * that its direct children cover, summed over spans of that name.
    */
  def selfSeconds: Map[String, Double] = {
    val children = done.groupBy(_.parent)
    done.toSeq.groupMapReduce(_.name) { s =>
      val covered = children.getOrElse(s.id, Nil).map(_.seconds).sum
      math.max(0.0, s.seconds - covered)
    }(_ + _)
  }
}

/** One Spark stage, folded from listener events. `sqlRows` maps an
  * operator label to the rows it output inside this stage.
  */
final class StageRec(val stageId: Int, val name: String, val submitMs: Long) {
  var completeMs = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var maxTaskMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  val operators = mutable.LinkedHashSet.empty[String]
  val sqlRows = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  var layers: Seq[String] = Nil
  def primary: String = layers.headOption.getOrElse("other")
  def wallMs: Long = math.max(0L, completeMs - submitMs)
}

/** Stage-level attribution of Spark work to the engine's layers.
  *
  * `CrawlJob.run` fuses several layers into one Spark job: with AQE off,
  * the fetch join and the parse share a stage, and so do the politeness
  * window and the pending-view upkeep. The listener therefore works per
  * STAGE. It learns every SQL operator's metric accumulator ids from the
  * SQL execution events (operators without metrics, such as the parse's
  * `MapPartitions`, are attached to the nearest metric-bearing operator
  * below them in the same pipeline), sees which accumulators each
  * stage's tasks update, and so knows which operators ran in which
  * stage. Each stage is labelled with every layer whose operators it
  * contains; its run time, CPU, GC and shuffle bytes go to its first
  * (primary) label in [[StageListener.Layers]] order. This is stage-level
  * attribution, not operator-level timing.
  */
final class StageListener extends SparkListener {
  import StageListener._

  /** accumulator id → (operator labels, metric name) */
  private val accs = mutable.HashMap.empty[Long, (Seq[String], String)]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val jobStarts = mutable.ArrayBuffer.empty[Long]
  private val flushed = mutable.HashSet.empty[String]

  private def learn(p: SparkPlanInfo, above: List[String]): Unit = {
    val label = operatorLabel(p)
    if (p.metrics.isEmpty) p.children.foreach(learn(_, label :: above))
    else {
      p.metrics.foreach(m => accs(m.accumulatorId) = (label :: above, m.name))
      p.children.foreach(learn(_, Nil))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => learn(s.sparkPlanInfo, Nil)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => learn(u.sparkPlanInfo, Nil)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val desc: String = Option(j.properties).map(_.getProperty(DescriptionKey)).orNull
    if (desc != null && desc.startsWith(FlushTag)) flushed += desc
    else jobStarts += j.time
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    val i = s.stageInfo
    if (!stages.contains(i.stageId))
      stages(i.stageId) = new StageRec(i.stageId, i.name,
        i.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(t.stageId).foreach { r =>
      r.tasks += 1
      r.maxTaskMs = math.max(r.maxTaskMs, t.taskInfo.duration)
      val m = t.taskMetrics
      if (m != null) {
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
      t.taskInfo.accumulables.foreach { a =>
        accs.get(a.id).foreach { case (labels, metric) =>
          r.operators ++= labels
          if (metric == "number of output rows") a.update match {
            case Some(v: java.lang.Long) => r.sqlRows(labels.head) += v.longValue
            case _ =>
          }
        }
      }
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(s.stageInfo.stageId).foreach { r =>
      r.completeMs = s.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      r.layers = classify(r)
    }
  }

  /** Block until every event posted before this call has been handled:
    * runs a tagged one-task job and waits for its start event (the
    * listener bus delivers events in order).
    */
  def flush(sc: SparkContext): Unit = {
    val tag = s"$FlushTag-${System.nanoTime()}"
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while (synchronized(!flushed.contains(tag)) && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  /** Completed stages submitted in [fromMs, toMs). */
  def stagesIn(fromMs: Long, toMs: Long): Seq[StageRec] = synchronized {
    stages.values.filter(r => r.completeMs > 0 && r.submitMs >= fromMs && r.submitMs < toMs).toSeq
  }

  /** Completion time of the last stage carrying `layer` that completed
    * at or before `ms`.
    */
  def lastCompleted(layer: String, ms: Long): Option[Long] = synchronized {
    stages.values.filter(r => r.completeMs > 0 && r.completeMs <= ms && r.layers.contains(layer))
      .map(_.completeMs).maxOption
  }

  /** Jobs started in [fromMs, toMs). */
  def jobsIn(fromMs: Long, toMs: Long): Int = synchronized {
    jobStarts.count(t => t >= fromMs && t < toMs)
  }
}

object StageListener {
  val FlushTag = "perfbench-flush"
  private val DescriptionKey = "spark.job.description"

  /** The layers in precedence order: a stage's primary layer is the
    * first one its operators match.
    */
  val Layers: Seq[String] = Seq("bloom", "commit", "parse", "seen",
    "expand", "sched", "pview", "fetch", "other")

  /** Short operator label: the node name plus the parts of its
    * description that identify the engine step (object type, join type,
    * composite join key, Bloom probe, link explode).
    */
  def operatorLabel(p: SparkPlanInfo): String = {
    val s = p.simpleString
    val obj = """obj#\d+: ([\w.$]+)""".r.findFirstMatchIn(s)
      .map(m => ":" + m.group(1).split('.').last.split('$').last).getOrElse("")
    val join = Seq("LeftAnti", "LeftSemi", "LeftOuter", "Inner").find(s.contains)
      .filter(_ => p.nodeName.contains("Join")).map(":" + _).getOrElse("")
    val keys = if (join.nonEmpty && s.contains("ckey")) ":ckey" else ""
    val bloom = if (s.toLowerCase.contains("bloomprobe")) ":bloomprobe" else ""
    val gen = if (s.contains("posexplode")) ":posexplode" else ""
    p.nodeName.trim + obj + join + keys + bloom + gen
  }

  /** Layer labels of a stage, primary first. The rules name the engine
    * step each operator belongs to (see CrawlJob's wave steps 1-7).
    */
  def classify(r: StageRec): Seq[String] = {
    def has(f: String => Boolean) = r.operators.exists(f)
    val ls = mutable.HashSet.empty[String]
    if (r.name.contains("ShardedBloom")) ls += "bloom"
    if (r.name.contains("FrontierStore") ||
        has(o => o.startsWith("Execute InsertIntoHadoopFsRelationCommand")))
      ls += "commit"
    if (has(_.contains(":FetchedPage"))) ls += "parse"
    if (has(o => o.startsWith("Filter") && o.contains(":bloomprobe")) ||
        has(o => o.contains(":LeftAnti") && !o.contains(":ckey")))
      ls += "seen"
    if (has(_.contains(":posexplode"))) ls += "expand"
    if (has(o => o.startsWith("Window") || o.contains(":SchedRow"))) ls += "sched"
    if (has(o => o.startsWith("ShuffledHashJoin") && o.contains(":LeftAnti:ckey")))
      ls += "pview"
    if (has(o => o.startsWith("ShuffledHashJoin") && o.contains(":LeftOuter")))
      ls += "fetch"
    if (ls.isEmpty) ls += "other"
    Layers.filter(ls.contains)
  }
}
