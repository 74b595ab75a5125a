package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.domain.InvoiceRecord

/** Aggregation / invariant operators — SURVEY.md §2.5 (A1, A2, A3, A5).
  *
  * Reconciliation runs BEFORE the sink commits (reference:
  * smartbots-etl/src/application/use_cases/consolidate_invoices.py:550-572):
  * (a) zero data loss — every source PK appears in the merge result;
  * (b) exact-decimal amount variance between source and the semi-joined
  * result subset must be <= 1. Sums are `DecimalType` (A1: exact, no
  * float drift).
  */
object Reconcile {

  final case class Report(
      missingPks: Long, sourcePks: Long,
      sourceTotal: java.math.BigDecimal, resultTotal: java.math.BigDecimal) {
    def dataLossPct: Double =
      if (sourcePks == 0) 0.0 else missingPks.toDouble / sourcePks * 100.0
    def variance: java.math.BigDecimal =
      sourceTotal.subtract(resultTotal).abs()
    def ok: Boolean =
      missingPks == 0 && variance.compareTo(java.math.BigDecimal.ONE) <= 0
  }

  final case class ReconciliationException(report: Report)
    extends RuntimeException(
      s"Reconciliación fallida: data_loss=${report.dataLossPct}% " +
        s"variance=${report.variance}")

  /** A2 — reconciliation check in ONE Spark query (A2 sits on the
    * critical path before every sink commit, so jobs matter at scale).
    * Source and result rows meet in one union grouped by key — no join:
    * each source key's group holds its source total and the total of
    * every result row with that key (exact when either side repeats a
    * key), and a key with no result row is missing. Result keys with a
    * null field never match, as in an equi-join. Throws
    * [[ReconciliationException]] when the invariant fails, mirroring
    * `ReconciliationError` (src/domain/exceptions.py:33-42).
    */
  def check(source: DataFrame, result: DataFrame, pk: Seq[String],
      amount: String): Report = {
    val amt = col(amount).cast(InvoiceRecord.money)
    val none = lit(null).cast(InvoiceRecord.money)
    val keyed = pk.map(col(_).isNotNull).reduce(_ && _)
    val tagged = source.select(pk.map(col) ++ Seq(amt.as("__src"),
        none.as("__res"), lit(true).as("__in_src")): _*)
      .unionByName(result.filter(keyed).select(pk.map(col) ++ Seq(
        none.as("__src"), amt.as("__res"), lit(false).as("__in_src")): _*))
    val perKey = tagged.groupBy(pk.map(col): _*).agg(
        sum(col("__src")).as("__src"), sum(col("__res")).as("__res"),
        max(col("__in_src")).as("__in_src"),
        min(col("__in_src")).as("__only_src"))
      .filter(col("__in_src"))
    val row = perKey.agg(
      count(lit(1)).as("pks"),
      count(when(col("__only_src"), lit(1))).as("missing"),
      sum(col("__src")).as("source_total"),
      sum(col("__res")).as("result_total")).head()
    def total(i: Int) =
      if (row.isNullAt(i)) java.math.BigDecimal.ZERO else row.getDecimal(i)
    val report = Report(missingPks = row.getLong(1), sourcePks = row.getLong(0),
      sourceTotal = total(2), resultTotal = total(3))
    if (!report.ok) throw ReconciliationException(report)
    report
  }

  /** A3 — merge action counters: inserted / updated / unchanged
    * (dtos.py:10-18).
    */
  def actionCounters(result: DataFrame): DataFrame =
    result.groupBy(col("status")).agg(count(lit(1)).as("n"))

  /** A5 — run-status roll-up over per-file outcomes
    * (consolidate_invoices.py:92-100,140-145).
    */
  def rollUp(totalFiles: Long, failedFiles: Long): String =
    if (totalFiles == 0) "NO_FILES"
    else if (failedFiles == 0) "SUCCESS"
    else if (failedFiles < totalFiles) "PARTIAL"
    else "ERROR"
}
