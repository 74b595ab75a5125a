package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.money_cross_check_ok

/** P6 — row-level domain validation with an error side channel.
  *
  * The reference enforces invariants in the entity constructor and routes
  * failures to a `validation_errors` list while good rows proceed
  * (reference: smartbots-etl/src/domain/entities.py:54-71, split loops at
  * use_cases/consolidate_invoices.py:439-473). Distributed translation:
  * the invariants become one `when`-chain producing an `error` column —
  * errors are DATA, never exceptions — and the stream splits into
  * `valid` / `errors` DataFrames. Both splits share one scan (Catalyst
  * collapses the common subplan; at scale this is a single pass).
  */
object Validate {

  final case class Split(valid: DataFrame, errors: DataFrame)

  /** The reference's invariant chain, in declaration order — first failing
    * rule wins, with the reference's exact messages (entities.py:54-71).
    * Parse failures (null date / null money from the scalar layer) map to the
    * transformer's messages (transformers.py:68, :101).
    */
  def errorColumn(
      invoiceNumber: Column, referenceNumber: Column, carrierName: Column,
      invoiceDate: Column, netAmount: Column, taxAmount: Column,
      totalAmount: Column): Column = {
    val blank = (c: Column) => c.isNull || trim(c) === ""
    when(blank(invoiceNumber), lit("invoice_number no puede estar vacío"))
      .when(blank(referenceNumber), lit("reference_number no puede estar vacío"))
      .when(blank(carrierName), lit("carrier_name no puede estar vacío"))
      .when(invoiceDate.isNull, lit("Formato de fecha no reconocido"))
      .when(totalAmount.isNull || netAmount.isNull || taxAmount.isNull,
        lit("Monto inválido"))
      .when(totalAmount < 0,
        concat(lit("total_amount no puede ser negativo: "), totalAmount.cast("string")))
      .when(!money_cross_check_ok(totalAmount, netAmount, taxAmount),
        concat(lit("total_amount ("), totalAmount.cast("string"),
          lit(") no coincide con net ("), netAmount.cast("string"),
          lit(") + tax ("), taxAmount.cast("string"), lit(") = "),
          (netAmount + taxAmount).cast("string")))
  }

  /** Adds the `error` column using canonical column names. */
  def withErrorColumn(df: DataFrame): DataFrame =
    df.withColumn("error", errorColumn(
      col("invoice_number"), col("reference_number"), col("carrier_name"),
      col("invoice_date"), col("net_amount"), col("tax_amount"),
      col("total_amount")))

  /** Splits into valid rows and the error channel
    * `(source_file, row_index, error)` — the reference's side-channel shape
    * (use_cases/consolidate_invoices.py:439-473).
    */
  def split(df: DataFrame, rowIndexCol: String = "row_index"): Split =
    splitFlagged(withErrorColumn(df), rowIndexCol)

  /** [[split]] over a frame that already carries the `error` column (e.g.
    * one materialized once, with its counters observed, and read by both
    * sides).
    */
  def splitFlagged(flagged: DataFrame, rowIndexCol: String = "row_index"): Split = {
    val errCols = Seq("source_file", rowIndexCol, "error")
      .filter(flagged.columns.contains) :+ "invoice_number"
    Split(
      valid = flagged.filter(col("error").isNull).drop("error"),
      errors = flagged.filter(col("error").isNotNull)
        .select(errCols.distinct.map(col): _*))
  }
}
