package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into an engine layer. `op` is the timed op the call
  * belongs to (-1 during set-up); `parent` is the enclosing span (0 =
  * none). Times are epoch milliseconds plus a nanosecond duration. */
final case class SpanRec(id: Long, name: String, parent: Long, op: Long,
                         startMs: Long, endMs: Long, durNs: Long)

/** Spans recorded around the benchmark's calls into the engine. Jobs a
  * span launches are tied to it through Spark's job group (the
  * innermost open span's id), which the listener reads back from each
  * stage's submission properties. Inactive spans cost one branch. */
final class Tracer {
  @volatile var active = false
  private var sc: SparkContext = null
  private var nextId = 0L
  @volatile private var stack = List.empty[Long]
  private var op = -1L
  val spans = mutable.ArrayBuffer.empty[SpanRec]

  def attach(context: SparkContext): Unit = { sc = context; stack = Nil }
  def setOp(i: Long): Unit = op = i
  /** The innermost span open now, read from any thread. */
  def openSpan: Option[Long] = stack.headOption

  def span[T](name: String)(body: => T): T =
    if (!active || sc == null) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setJobGroup(Tracer.group(id), name)
      val ms0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        spans += SpanRec(id, name, parent, op, ms0, System.currentTimeMillis(), dur)
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Tracer.group(p), "")
          case None => sc.clearJobGroup()
        }
      }
    }
}

object Tracer {
  val Prefix = "graftbench-span-"
  def group(id: Long): String = Prefix + id
  def spanOf(group: String): Option[Long] =
    Option(group).filter(_.startsWith(Prefix)).map(_.drop(Prefix.length).toLong)
}

/** Counts tasks whose accumulator updates Spark could not apply: the
  * DAGScheduler logs "Failed to update accumulator <id> ... for task
  * <partition>" once per lost accumulator when a task ends after the
  * plan that owned its metrics was cleaned up. The listener cannot see
  * these tasks (their TaskEnd event looks like any success), so the log
  * lines are counted: one task's lines come back to back, with one
  * partition and no accumulator twice, so a new partition, a repeated
  * id or a pause of over 50 ms starts the next task. Each task is
  * attributed to the span open when it ended (0 = none). */
final class OrphanLog(tracer: Tracer) extends AbstractAppender(
    "graftbench-orphans", null, null, true, Property.EMPTY_ARRAY) {
  private val Line = """Failed to update accumulator (\d+) .*for task (\d+)""".r.unanchored
  private var partition = ""
  private var ids = Set.empty[String]
  private var lastMs = 0L
  val bySpan = new ConcurrentHashMap[Long, Int]()

  override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
    case Line(id, part) if e.getLoggerName.endsWith(".DAGScheduler") => synchronized {
      if (part != partition || ids(id) || e.getTimeMillis - lastMs > 50) {
        partition = part; ids = Set.empty
        bySpan.merge(tracer.openSpan.getOrElse(0L), 1, _ + _)
      }
      ids += id; lastMs = e.getTimeMillis
    }
    case _ =>
  }

  /** Listens beside the configured appenders, on the root logger. */
  def install(): Unit = {
    start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
    ctx.updateLoggers()
  }
}

/** Spark job/stage/task accounting. Tasks are attributed to the span
  * whose job group their stage was submitted under. Orphans count as
  * failed, like failed and killed tasks: a task that ends after its stage
  * attempt completed or was superseded, or after every job using its
  * stage ended. */
final class JobListener extends SparkListener {
  final case class Job(span: Option[Long], startMs: Long, var endMs: Long, callSite: String)
  final case class Task(runMs: Long, cpuNs: Long, shuffleWrite: Long,
                        spill: Long, failed: Boolean)

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val stageJobs = new ConcurrentHashMap[Int, Seq[Int]]()
  /** Latest submitted attempt per stage, and whether it has completed. */
  private val stageAttempt = new ConcurrentHashMap[Int, (Int, Boolean)]()
  val stageTasks = new ConcurrentHashMap[Int, java.util.List[Task]]()
  private val sqlCallSite = new ConcurrentHashMap[Long, String]()

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Tracer.spanOf(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    // a SQL job's user call site is its query execution's; the stage
    // name is Spark's short form for everything else (RDD jobs)
    val site = execId.flatMap(x => Option(sqlCallSite.get(x)))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
    val ids = e.stageInfos.map(_.stageId)
    jobs.put(e.jobId, Job(spanOf(e.properties), e.time, Long.MaxValue, site))
    ids.foreach(s => stageJobs.merge(s, Seq(e.jobId), (a, b) => a ++ b))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    stageAttempt.put(e.stageInfo.stageId, (e.stageInfo.attemptNumber(), false))
    spanOf(e.properties).foreach(s => stageSpan.put(e.stageInfo.stageId, s))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageAttempt.computeIfPresent(e.stageInfo.stageId, (_, a) =>
      if (a._1 == e.stageInfo.attemptNumber()) (a._1, true) else a)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val attemptDone = Option(stageAttempt.get(e.stageId)).exists { case (latest, done) =>
      e.stageAttemptId < latest || done }
    val orphan = attemptDone || Option(stageJobs.get(e.stageId)).exists(js =>
      js.nonEmpty && js.forall(j => Option(jobs.get(j)).exists(_.endMs != Long.MaxValue)))
    val t = Task(
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled,
      e.reason != Success || orphan)
    stageTasks.computeIfAbsent(e.stageId, _ => java.util.Collections.synchronizedList(
      new java.util.ArrayList[Task]())).add(t)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      sqlCallSite.put(s.executionId, s.details)
    case _ =>
  }

  def spanOfStage(stage: Int): Option[Long] = Option(stageSpan.get(stage))
}

/** Per-layer aggregation of spans plus listener events. */
object Layers {
  val Spans: Seq[String] = Seq("cascade.search", "cascade.rerank",
    "cascade_serve.sink", "index_store.commit", "index_store.prune",
    "ann.train", "dedup.minhash", "dedup.components",
    "dedup.ngram_jaccard", "curation.dup_spans")
  val Counters: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "jobs" -> "count", "tasks" -> "count",
    "task_cpu_ms" -> "ms", "cpu_util" -> "ratio", "driver_gap_ms" -> "ms",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "skew" -> "ratio", "failed_tasks" -> "count")
  val ModuleSpans: Seq[String] = Seq("cascade_serve.sink", "index_store.commit")
  val Modules: Seq[(String, String)] = Seq("Cascade" -> "Cascade.scala",
    "CascadeServe" -> "CascadeServe.scala", "IndexStore" -> "IndexStore.scala",
    "Ann" -> "Ann.scala")
  val WorkCounts: Seq[String] = Seq("cascade.search.rows", "dedup.minhash.pairs",
    "dedup.ngram_jaccard.pairs", "dedup.components.groups", "curation.dup_spans.spans")

  /** Every per-layer metric name with its unit, in report order. */
  def metricUnits: Seq[(String, String)] =
    Spans.flatMap(s => Counters.map { case (c, u) => s"$s.$c" -> u }) ++
      ModuleSpans.flatMap(s => Modules.map { case (m, _) => s"$s.jobs.$m" -> "count" }) ++
      WorkCounts.map(_ -> "count") :+ ("unattributed.failed_tasks" -> "count")

  private val FrameFile = """\(([A-Za-z0-9_$]+\.scala):\d+\)""".r
  private val ShortFile = """ at ([A-Za-z0-9_$]+\.scala):\d+""".r

  /** Source file of a call site: the first frame outside Spark, Scala
    * and the JDK in a long form, else the file of a short form. */
  def callSiteFile(site: String): Option[String] = {
    val frames = site.split("\n").toSeq.filterNot(l =>
      l.startsWith("org.apache.spark.") || l.startsWith("scala.") || l.startsWith("java."))
    frames.iterator.flatMap(l => FrameFile.findFirstMatchIn(l).map(_.group(1))).nextOption()
      .orElse(ShortFile.findFirstMatchIn(site).map(_.group(1)))
  }

  /** Milliseconds of [start, end] covered by none of `ivs`. */
  private def uncovered(start: Long, end: Long, ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L; var cur = start
    ivs.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    math.max(0L, (end - start) - covered)
  }

  /** Self time of each span: its duration minus the part its child
    * spans cover. */
  def selfMs(spans: Seq[SpanRec]): Map[Long, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs))
      s.id -> (uncovered(s.startMs, s.endMs, ch).toDouble.min(s.durNs / 1e6))
    }.toMap
  }

  /** Per-layer metrics over `spans`. wall_ms and driver_gap_ms are
    * medians per call; counts and bytes are means per call; cpu_util is
    * the layer's summed task CPU over its summed wall × `cores`; skew is
    * the largest max/median task run time among the layer's stages with
    * at least `cores` tasks. A layer with no calls reports 0.
    * failed_tasks adds the span's tasks in `orphans`;
    * unattributed.failed_tasks totals the failed tasks of stages run
    * under no span (the untimed warm-up and the untraced ops) and the
    * orphans that ended while no span was open. */
  def metrics(spans: Seq[SpanRec], l: JobListener, orphans: OrphanLog, cores: Int,
              work: Map[String, Seq[Double]]): Seq[(String, Double)] = {
    def orphansOf(span: Long): Int = orphans.bySpan.getOrDefault(span, 0)
    val allJobs = l.jobs.values().asScala.toSeq
    val jobsBySpan = allJobs.filter(_.span.isDefined).groupBy(_.span.get)
    val stagesBySpan = l.stageTasks.keySet().asScala.toSeq
      .flatMap(st => l.spanOfStage(st).map(_ -> st)).groupMap(_._1)(_._2)
    def tasksOf(st: Int): Seq[JobListener#Task] =
      Option(l.stageTasks.get(st)).map(ts => ts.synchronized(ts.asScala.toList)).getOrElse(Nil)

    // a layer called in the window is measured there; one called only
    // during set-up (ann.train) is measured in set-up
    def callsOf(name: String) = {
      val all = spans.filter(_.name == name)
      val timed = all.filter(_.op >= 0)
      if (timed.nonEmpty) timed else all
    }
    val perSpan = Spans.flatMap { name =>
      val calls = callsOf(name)
      val n = calls.size.toDouble
      if (calls.isEmpty) Counters.map { case (c, _) => s"$name.$c" -> 0.0 }
      else {
        val js = calls.flatMap(c => jobsBySpan.getOrElse(c.id, Nil))
        val stages = calls.flatMap(c => stagesBySpan.getOrElse(c.id, Nil))
        val tasks = stages.flatMap(tasksOf)
        val wallMs = calls.map(_.durNs / 1e6)
        val gaps = calls.map { c =>
          uncovered(c.startMs, c.endMs, jobsBySpan.getOrElse(c.id, Nil)
            .map(j => (j.startMs, math.min(j.endMs, c.endMs)))).toDouble
        }
        val cpuMs = tasks.map(_.cpuNs).sum / 1e6
        val skew = stages.map(tasksOf).filter(_.size >= cores).map { ts =>
          val rt = ts.map(_.runMs.toDouble)
          val med = Stats.median(rt)
          if (med <= 0) 1.0 else rt.max / med
        }.maxOption.getOrElse(0.0)
        Seq(
          "wall_ms" -> Stats.median(wallMs),
          "jobs" -> js.size / n,
          "tasks" -> tasks.size / n,
          "task_cpu_ms" -> cpuMs / n,
          "cpu_util" -> cpuMs / (wallMs.sum * cores),
          "driver_gap_ms" -> Stats.median(gaps),
          "shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum / n,
          "spill_bytes" -> tasks.map(_.spill).sum / n,
          "skew" -> skew,
          "failed_tasks" -> (tasks.count(_.failed) + calls.map(c => orphansOf(c.id)).sum) / n
        ).map { case (c, v) => s"$name.$c" -> v }
      }
    }
    val perModule = ModuleSpans.flatMap { name =>
      val calls = callsOf(name)
      val js = calls.flatMap(c => jobsBySpan.getOrElse(c.id, Nil))
      Modules.map { case (m, file) =>
        s"$name.jobs.$m" ->
          (if (calls.isEmpty) 0.0
           else js.count(j => callSiteFile(j.callSite).contains(file)) / calls.size.toDouble)
      }
    }
    val counts = WorkCounts.map { k =>
      val xs = work.getOrElse(k, Nil)
      k -> (if (xs.isEmpty) 0.0 else xs.sum / xs.size)
    }
    val unattributed = l.stageTasks.keySet().asScala.toSeq
      .filter(st => l.spanOfStage(st).isEmpty).map(st => tasksOf(st).count(_.failed)).sum + orphansOf(0L)
    perSpan ++ perModule ++ counts :+ ("unattributed.failed_tasks" -> unattributed.toDouble)
  }
}
