package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Command-line options of one benchmark process. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: Path, tablesScript: Path)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("tables-script")).toAbsolutePath)
  }
}

/** The single session profile both sides of a comparison run under: the
  * settings of `graft.Bench`, with one local core per available processor.
  */
object Profile {
  def cores: Int = Runtime.getRuntime.availableProcessors

  val settings: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "32",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  def session(work: Path): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    settings.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** One workload's figures: end-to-end metrics, per-layer metrics and the
  * operation accounting.
  */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    errors: Seq[String], extra: String = "")

object Main {

  /** End-to-end metric names; their units live in BENCHMARK.json. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "run_s", "op_p50_s", "cpu_s", "retained_mb", "out_mb")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val t0 = System.nanoTime()
    val spark = Profile.session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val outcome =
      try a.workload match {
        case "consolidate_small" => Consolidate.run(spark, a, sessionS)
        case "query_mix" => QueryMix.run(spark, a, sessionS)
        case "selftest" => SelfTest.run(spark, a)
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()
    val layer = Names.perLayer.map(n => n -> 0.0).toMap ++ outcome.perLayer
    val metrics = (EndToEnd.map(n => n -> outcome.endToEnd.getOrElse(n, 0.0)) ++
      layer.toSeq.sortBy(_._1)).map { case (n, v) => s"${Json.str(n)}:${Json.num(v)}" }
    outcome.errors.foreach(e => System.err.println(s"[graftbench] FAIL $e"))
    // the launcher selects end-to-end or per-layer metrics from this line
    println("GRAFTBENCH " + s"""{"attempted":${outcome.attempted},"failed":${outcome.failed},""" +
      s""""cores":${Profile.cores},"metrics":{${metrics.mkString(",")}}${outcome.extra}}""")
  }
}

/** Every per-layer metric name. A run reports all of them; a layer its
  * workload does not exercise reads 0.
  */
object Names {
  val perLayer: Seq[String] =
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.jobs_per_op",
      "spark.driver_idle_s", "spark.one_task_stages", "spark.max_task_s",
      "spark.task_cpu_s", "spark.task_run_s", "spark.sched_wait_s",
      "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb",
      "spark.failed_tasks") ++
    PassListener.Sites.flatMap(s => Seq(s"site.$s.jobs", s"site.$s.busy_s")) ++
    Seq("sources.stage_s", "sources.extract_s", "sources.rows_out", "sources.jobs",
      "operators.validate_s", "operators.merge_s", "operators.reconcile_s",
      "operators.valid_ratio", "operators.insert_ratio",
      "audit.probe_s", "audit.write_s", "audit.part_files",
      "lifecycle.backup_s", "lifecycle.backup_mb", "store.part_files", "store.mb") ++
    QueryMix.Modules.map(m => s"queries.${m}_s") ++
    QueryMix.Mix.map(q => s"query.${q}_s") ++
    Seq("trace.overhead_s", "trace.spans", "fail_ratio", "ops.samples",
      "setup.session_s", "setup.warmup_s", "setup.inputs_s")
}
