package graftbench

import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.pipeline.{Audit, ConsolidationPipeline, Report}

/** The consolidation workload: closed-loop `ConsolidationPipeline.run`
  * passes over a seeded landing folder, one client, each pass starting
  * from the same seeded store and audit. A file is one operation; its time
  * is `finished_at - started_at` from the run's own `file_log`.
  */
object Consolidate {

  def run(spark: SparkSession, a: Args, sessionS: Double): Outcome = {
    val ops = new Ops
    val tracer = new Tracer(a.trace, s"${a.workload}-${a.seed}")
    val listener = new PassListener
    var k = 0
    def setup(): (Plan, Layout) = {
      val layout = Layout(a.work.resolve(s"pass-$k"))
      k += 1
      val plan = Landing.small(a.seed)
      Landing.materialize(spark, plan, layout)
      (plan, layout)
    }
    def discard(in: (Plan, Layout)): Unit = Stats.deleteTree(in._2.root)
    def pass(in: (Plan, Layout), traced: Boolean): Pass = {
      val (plan, layout) = in
      val p = runPass(spark, plan, layout, ops, if (traced) Some(listener) else None)
      if (!traced) p
      else p.copy(layer = p.layer ++ Map(
        "audit.part_files" -> Stats.partFiles(layout.audit).toDouble,
        "store.part_files" -> Stats.partFiles(layout.store).toDouble,
        "store.mb" -> Stats.dirBytes(layout.store) / Stats.MB))
    }
    def warmUp(in: (Plan, Layout)): Unit = { runPass(spark, in._1, in._2, ops, None); discard(in) }
    // two untraced passes: one pass moves with host noise
    val m = Harness.measure(a, sessionS, tracer, minPlain = 2)(setup, warmUp, pass, discard)

    val probes = m.traced.lastOption.fold(Map.empty[String, Double]) { t =>
      val siteJobs = PassListener.Sites.map(s => t.layer(s"site.$s.jobs")).sum
      if (siteJobs != t.layer("spark.jobs"))
        ops.fail(s"trace: site jobs $siteJobs != spark.jobs ${t.layer("spark.jobs")}")
      val (plan, layout) = setup()
      spark.sparkContext.addSparkListener(listener)
      try tracer.span("probe") { Probes.consolidate(spark, plan, layout, tracer, listener) }
      finally { spark.sparkContext.removeSparkListener(listener); discard((plan, layout)) }
    }
    Harness.outcome(a, ops, tracer, m, probes)
  }

  /** One timed `ConsolidationPipeline.run`, then its output checks. A file
    * that fails a check, or every file of a pass that throws, counts as
    * failed and leaves no time sample.
    */
  def runPass(spark: SparkSession, plan: Plan, layout: Layout, ops: Ops,
      listener: Option[PassListener],
      beforeStoreWrite: String => Unit = _ => ()): Pass = {
    val cfg = ConsolidationPipeline.Config(layout.landing.toString,
      layout.store.toString, layout.audit.toString, layout.lifecycle.toString,
      beforeStoreWrite = beforeStoreWrite)
    val before = layout.outputBytes
    val t = Harness.timed(spark, listener) {
      try Right(ConsolidationPipeline.run(spark, cfg))
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    }
    val outMb = (layout.outputBytes - before) / Stats.MB
    val expected = plan.expect.processed
    val times = t.value match {
      case Left(e) =>
        expected.foreach(f => ops.fail(s"${f.name}: run threw ${e.getMessage}"))
        Nil
      case Right(r) =>
        val logged = fileLog(spark, layout, r.runUuid)
        val passErrors = checkPass(spark, plan.expect, layout, r)
        expected.flatMap { fe =>
          val err = passErrors.headOption.orElse(checkFile(fe, r, logged))
          err match {
            case Some(msg) => ops.fail(s"${fe.name}: $msg"); None
            case None =>
              val secs = logged(fe.name)._2
              ops.ok(secs)
              Some(fe.name -> secs)
          }
        }
    }
    Pass(t.wallS, t.cpuS, outMb, times.toMap, expected.size, t.layer)
  }

  /** This run's `file_log` rows: file name → (status, seconds). */
  private def fileLog(spark: SparkSession, layout: Layout,
      runUuid: String): Map[String, (String, Double)] =
    new Audit.Tracker(spark, layout.audit.toString).files
      .filter(col("run_uuid") === runUuid)
      .select("file_name", "status", "started_at", "finished_at")
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1),
        (r.getTimestamp(3).getTime - r.getTimestamp(2).getTime) / 1e3)))
      .toMap

  private def checkFile(fe: FileExpect, r: Report.ExecutionReport,
      logged: Map[String, (String, Double)]): Option[String] =
    r.files.find(_.fileName == fe.name) match {
      case None => Some("missing from the report")
      case Some(o) =>
        val got = FileExpect(o.fileName, o.status, o.rowsTotal, o.rowsValid,
          o.rowsError, o.inserted, o.unchanged)
        if (got != fe) Some(s"report $got, expected $fe")
        else if (!logged.get(fe.name).exists(_._1 == fe.status))
          Some(s"file_log ${logged.get(fe.name)}, expected ${fe.status}")
        else None
    }

  /** Run-level checks: report status, skipped files, the files left in
    * landing, the store row count and the run's `record_log` actions.
    */
  private def checkPass(spark: SparkSession, ex: Expect, layout: Layout,
      r: Report.ExecutionReport): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (r.status != ex.reportStatus)
      errs += s"report status ${r.status}, expected ${ex.reportStatus}: " +
        r.files.map(f => s"${f.fileName}=${f.status}").mkString(", ") +
        r.validationErrors.take(3).map(e => s"; $e").mkString
    val reported = r.files.map(_.fileName).toSet
    if (reported != ex.processed.map(_.name).toSet)
      errs += s"reported files $reported"
    val left = {
      val st = Files.list(layout.landing)
      try st.iterator().asScala.map(_.getFileName.toString).toSet
      finally st.close()
    }
    if (left != ex.returned.toSet) errs += s"landing left with $left, expected ${ex.returned}"
    val storeRows = spark.read.parquet(layout.store.toString).count()
    if (storeRows != ex.storeRows) errs += s"store has $storeRows rows, expected ${ex.storeRows}"
    val actions = new Audit.Tracker(spark, layout.audit.toString).records
      .filter(col("run_uuid") === r.runUuid).groupBy("action").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    if (actions != ex.actions) errs += s"record_log actions $actions, expected ${ex.actions}"
    errs.toSeq
  }
}
