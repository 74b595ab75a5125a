package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S8 — three-table audit trail as append-only parquet tables (reference:
  * smartbots-etl/src/infrastructure/sqlite_tracker.py:15-67). The
  * reference's SQLite WAL + executemany batching maps to Spark's atomic
  * parquet appends; `record_log` is the per-row lineage OUTPUT of the merge
  * (a DataFrame write, batched by construction), while run/file rows are
  * tiny driver-side appends.
  */
object Audit {

  final case class ExecutionRun(
      run_uuid: String, started_at: Timestamp, finished_at: Option[Timestamp],
      status: String, total_files: Long, total_records: Long, inserted: Long,
      updated: Long, unchanged: Long, errors: Long,
      source_total_amount: java.math.BigDecimal,
      output_total_amount: java.math.BigDecimal, message: Option[String])

  final case class FileLog(
      run_uuid: String, file_log_id: String, file_name: String,
      file_modified_time: Timestamp, schema_valid: Boolean,
      missing_columns: Seq[String], extra_columns: Seq[String],
      rows_total: Long, rows_valid: Long, rows_error: Long, status: String,
      started_at: Timestamp, finished_at: Option[Timestamp])

  final class Tracker(spark: SparkSession, auditDir: String) {
    import spark.implicits._

    private def path(t: String) = s"$auditDir/$t"

    def logRun(run: ExecutionRun): Unit =
      Seq(run).toDS().write.mode(SaveMode.Append).parquet(path("execution_runs"))

    def logFile(f: FileLog): Unit =
      Seq(f).toDS().write.mode(SaveMode.Append).parquet(path("file_log"))

    /** J2 output → record_log rows: (run_uuid, file_log_id, row_index, pk,
      * action, error_message). `attributed` must carry row_index,
      * invoice_number, reference_number, action and optionally
      * error_message.
      */
    def logRecords(runUuid: String, fileLogId: String,
        attributed: DataFrame): Unit = {
      val withErr =
        if (attributed.columns.contains("error_message")) attributed
        else attributed.withColumn("error_message", lit(null).cast("string"))
      withErr.select(
          lit(runUuid).as("run_uuid"), lit(fileLogId).as("file_log_id"),
          col("row_index").cast("long"), col("invoice_number"),
          col("reference_number"), col("action"), col("error_message"))
        .write.mode(SaveMode.Append).parquet(path("record_log"))
    }

    def runs: DataFrame = read("execution_runs")
    def files: DataFrame = read("file_log")
    def records: DataFrame = read("record_log")

    private def read(t: String): DataFrame =
      // ONLY a missing table (first run) reads as empty. Corruption or
      // transient IO failure must propagate: substituting an empty frame
      // there would answer "no history" to the J4 probe and silently
      // re-merge every completed file.
      if (!Files.exists(Paths.get(path(t)))) emptyFor(t)
      else spark.read.parquet(path(t))

    private def emptyFor(t: String): DataFrame = t match {
      case "execution_runs" => spark.emptyDataset[ExecutionRun].toDF()
      case "file_log" => spark.emptyDataset[FileLog].toDF()
      case _ => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("run_uuid",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("file_log_id",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("row_index",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("invoice_number",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("reference_number",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("action",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("error_message",
            org.apache.spark.sql.types.StringType))))
    }

    /** J4 — file-level idempotence probe for a whole landing listing in
      * ONE query: which (name, mtime) pairs have already COMPLETED?
      * (sqlite_tracker.py:232-240: an errored file IS reprocessed.) A
      * COMPLETED row gates the skip UNLESS a ROLLED_BACK supersession
      * appended by [[markRolledBack]] at the same or a later started_at
      * reverses it — only rollback undoes a completion (an unrelated ERROR
      * attempt never hides an earlier success), and the audit tables stay
      * append-only. Ties break toward reprocessing — the safe direction.
      * The query returns one row per (name, mtime, status) of the listed
      * names; the rule runs on the driver. Timestamps compare at the
      * microsecond precision the table stores.
      */
    def processedFiles(listing: Seq[(String, Timestamp)]): Set[(String, Timestamp)] =
      if (listing.isEmpty) Set.empty
      else {
        val latest = files.filter(col("file_name").isin(listing.map(_._1).distinct: _*))
          .groupBy(col("file_name"), col("file_modified_time"), col("status"))
          .agg(max(col("started_at")))
          .collect()
          .groupMap(r => (r.getString(0), micros(r.getTimestamp(1))))(
            r => r.getString(2) -> r.getTimestamp(3))
          .view.mapValues(_.toMap).toMap
        listing.filter { case (name, mtime) =>
          latest.get((name, micros(mtime))).exists(byStatus =>
            byStatus.get("COMPLETED").exists(done =>
              !byStatus.get("ROLLED_BACK").exists(rb => !rb.before(done))))
        }.toSet
      }

    /** [[processedFiles]] for one file. */
    def isFileProcessed(fileName: String, modifiedTime: Timestamp): Boolean =
      processedFiles(Seq(fileName -> modifiedTime)).nonEmpty

    private def micros(t: Timestamp): Long =
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)

    /** Run-level rollback supersession: for every file this run logged
      * COMPLETED, append a ROLLED_BACK row with the same (name, mtime) so
      * [[isFileProcessed]] reprocesses it next run. Append-only by design —
      * audit history keeps both the COMPLETED attempt and its reversal.
      * Driver-side collect is bounded by the run's file count (the run
      * already listed those files on the driver).
      */
    def markRolledBack(runUuid: String): Unit = {
      val ts = new Timestamp(System.currentTimeMillis())
      val reversals = files
        .filter(col("run_uuid") === runUuid && col("status") === "COMPLETED")
        .select("file_log_id", "file_name", "file_modified_time")
        .collect()
        .map(r => FileLog(runUuid, r.getString(0), r.getString(1),
          r.getTimestamp(2), schema_valid = true, Nil, Nil, 0, 0, 0,
          "ROLLED_BACK", ts, Some(ts)))
        .toSeq
      if (reversals.nonEmpty)
        reversals.toDS().write.mode(SaveMode.Append).parquet(path("file_log"))
    }
  }
}
