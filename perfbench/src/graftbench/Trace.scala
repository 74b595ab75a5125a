package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-pass Spark accounting for the traced run: job, stage and task
  * counts, task CPU and run time, scheduling wait, shuffle and spill
  * bytes, and the job intervals used for driver idle time. Each job is
  * attributed to the graft source file that issued it through its call
  * site ("count at ConsolidationPipeline.scala:288"). Spark 4 runs SQL
  * jobs on a pool thread, so a job's own `callSite.short` names that pool;
  * the call site of its SQL execution, captured on the calling thread,
  * is used instead, and the job's stage name for jobs outside SQL.
  */
final class PassListener extends SparkListener {
  import PassListener._

  private val lock = new Object
  private var jobs = 0L
  private var stages = 0L
  private var oneTaskStages = 0L
  private var tasks = 0L
  private var failedTasks = 0L
  private var maxTaskMs = 0L
  private var taskCpuNs = 0L
  private var taskRunMs = 0L
  private var schedWaitMs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val execSite = mutable.Map.empty[Long, String]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val siteJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val siteBusyMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  def reset(): Unit = lock.synchronized {
    jobs = 0; stages = 0; oneTaskStages = 0; tasks = 0; failedTasks = 0
    maxTaskMs = 0; taskCpuNs = 0; taskRunMs = 0; schedWaitMs = 0
    shuffleWrite = 0; shuffleRead = 0; spill = 0
    stageSubmitted.clear(); jobStart.clear(); execSite.clear(); intervals.clear()
    siteJobs.clear(); siteBusyMs.clear()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      lock.synchronized { execSite(x.executionId) = siteOf(x.description) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong))
    val site = exec.getOrElse(
      siteOf(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
    jobStart(e.jobId) = (e.time, site)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, site) =>
      jobs += 1
      siteJobs(site) += 1
      siteBusyMs(site) += math.max(0L, e.time - t0)
      intervals += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stages += 1
    if (e.stageInfo.numTasks == 1) oneTaskStages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val info = e.taskInfo
    if (info.failed || info.killed) failedTasks += 1
    maxTaskMs = math.max(maxTaskMs, info.duration)
    stageSubmitted.get(e.stageId).foreach(s =>
      schedWaitMs += math.max(0L, info.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      taskCpuNs += m.executorCpuTime
      taskRunMs += m.executorRunTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters of the jobs seen since the last reset; `passStartMs` and
    * `passEndMs` bound the window over which driver idle time (no job
    * running) is computed.
    */
  def snapshot(passStartMs: Long, passEndMs: Long): Map[String, Double] = lock.synchronized {
    val busy = unionLength(intervals.toSeq.map { case (a, b) =>
      (math.max(a, passStartMs), math.min(b, passEndMs)) })
    val base = Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.driver_idle_s" -> math.max(0L, passEndMs - passStartMs - busy) / 1e3,
      "spark.one_task_stages" -> oneTaskStages.toDouble,
      "spark.max_task_s" -> maxTaskMs / 1e3,
      "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.task_run_s" -> taskRunMs / 1e3,
      "spark.sched_wait_s" -> schedWaitMs / 1e3,
      "spark.shuffle_write_mb" -> shuffleWrite / Stats.MB,
      "spark.shuffle_read_mb" -> shuffleRead / Stats.MB,
      "spark.spill_mb" -> spill / Stats.MB,
      "spark.failed_tasks" -> failedTasks.toDouble)
    base ++ Sites.flatMap(s => Seq(
      s"site.$s.jobs" -> siteJobs(s).toDouble,
      s"site.$s.busy_s" -> siteBusyMs(s) / 1e3))
  }
}

object PassListener {
  /** Graft source files whose jobs are attributed by name; every other
    * call site lands in `other`, so the site job counts sum to spark.jobs.
    */
  val GraftFiles: Seq[String] = Seq("ConsolidationPipeline", "Audit",
    "StagedWorkbook", "XlsxIngress", "Merge", "Reconcile")
  val Sites: Seq[String] = GraftFiles :+ "other"

  private val SiteRe = """ at ([A-Za-z0-9_$]+)\.scala:\d+""".r

  def siteOf(callSite: String): String =
    SiteRe.findFirstMatchIn(callSite).map(_.group(1))
      .filter(GraftFiles.contains).getOrElse("other")

  /** Total length of the union of intervals, in their own unit. */
  def unionLength(xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** One traced interval: spans of a run share `runId`; `parent` is the
  * index of the enclosing span (-1 at the root).
  */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder; spans are written out once, when the run
  * ends. Disabled tracers record nothing and add no work to the pass.
  */
final class Tracer(val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val t0 = System.nanoTime()
      spans += Span(id, name, parent, runId, t0, t0)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span: its duration minus the part of its interval the
    * child spans cover.
    */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = PassListener.unionLength(kids.getOrElse(s.id, Nil).toSeq
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def write(path: Path): Unit = {
    val self = selfNs
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},""" +
        s""""run":${Json.str(s.runId)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ns":${self(s.id)}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)
}
