package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.domain.InvoiceRecord
import graft.functions._
import graft.operators.Canonicalize

/** The per-file ingestion sub-query (reference: smartbots-etl/src/
  * infrastructure/official_format_extractor.py:91-326): staged sheet →
  * canonical invoice rows + validation-error side channel. Two formats:
  *
  *   - MIXED (`_extract_mixed_format` :127-246): invoice-level values live
  *     in six fixed header cells and broadcast to every detail row; the
  *     detail table is discovered by header-row scan; P2/P3/P4 row filters
  *     apply; total = explicit `Total Servicio ($)` override else the sum
  *     of 7 charge components (F7); net = total, tax = 0 (F8).
  *   - SIMPLE tabular (`_extract_simple_tabular` :248-326): direct column
  *     mapping from row 11, stop at the first empty `N° Factura` (P5
  *     take-while), NaN money → 0.
  *
  * Output schema (both paths): row_index, invoice_number, reference_number,
  * carrier_name, ship_name, dispatch_guides, invoice_date, description,
  * net_amount, tax_amount, total_amount, currency, aprobado_por.
  */
object OfficialFormatExtract {

  val money = InvoiceRecord.money

  val MixedMoneyComponents = Seq(
    "Flete($)", "Underslung($)", "Planta Adicional ($)", "Retiro Cruzado ($)",
    "Porteo($)", "Sobre Estadía Planta ($)", "Sobre Estadía Puerto ($)")

  val MixedKnownHeaders: Set[String] = Set(
    "Fecha Servicio", "Unidad", "Conductor", "Contenedor", "Patente Camión",
    "Órdenes de Embarque", "Guías de Despacho", "Total Servicio ($)") ++
    MixedMoneyComponents

  private def cOpt(df: DataFrame, name: String): Column =
    if (df.columns.contains(name)) col(s"`$name`") else lit(null).cast("string")

  /** Mixed-format extraction over an already-projected detail table
    * (from [[StagedWorkbook.table]]) plus the file's fixed cells.
    */
  def mixedFormat(detail: DataFrame, fc: StagedWorkbook.FixedCells,
      dateFormat: String = "dd-MM-yyyy"): DataFrame = {
    val allCols = detail.columns.filterNot(_ == "row_index").toSeq
    // P2: fully-empty rows; P3: blank reference; P4: NETO/IVA/TOTAL rows —
    // ONE filter. Chained, the three filters over the aliased detail
    // columns make Catalyst's constraint propagation grow exponentially
    // with the column count (the reference's 27-column layout exhausted a
    // 3 GB heap while optimizing); fused, it plans in milliseconds.
    val filtered = detail.filter(Canonicalize.anyNonNull(allCols) &&
      Canonicalize.nonBlank("Órdenes de Embarque") &&
      Canonicalize.notSummaryRow(allCols))
    val total = row_total_override(
      parse_clp_money(cOpt(filtered, "Total Servicio ($)")),
      MixedMoneyComponents.map(c => parse_clp_money(cOpt(filtered, c))))
    filtered.select(
      col("row_index"),
      lit(fc.numeroFactura.map(_.trim).orNull).as("invoice_number"),
      // reference_number defaults to "N/A" when blank (extractor :187)
      coalesce(nullif(clean_string(col("`Órdenes de Embarque`")), lit("")),
        lit("N/A")).as("reference_number"),
      lit(fc.empresaTransporte.map(_.trim).orNull).as("carrier_name"),
      lit(fc.nave.map(_.trim).orNull).as("ship_name"),
      clean_string(cOpt(filtered, "Guías de Despacho")).as("dispatch_guides"),
      parse_multi_date(lit(fc.fechaEmision.orNull), dateFormat).as("invoice_date"),
      clean_string(cOpt(filtered, "Observaciones")).as("description"),
      total.as("net_amount"),             // F8: net := total
      lit(0).cast(money).as("tax_amount"), // F8: tax := 0
      total.as("total_amount"),
      lit("CLP").as("currency"),
      lit(fc.responsable.map(stripAprobado).orNull).as("aprobado_por"))
  }

  private def stripAprobado(s: String): String =
    s.replaceFirst("^Aprobado por: ", "").trim

  val SimpleColumns = Seq(
    "N° Factura", "N° Referencia", "Transportista", "Fecha Factura",
    "Descripción", "Monto Neto", "IVA", "Monto Total", "Moneda")

  /** Simple-tabular extraction: direct mapping with the P5 take-while at
    * the first empty `N° Factura` (row order by `row_index`; the whole file
    * is one take-while partition). NaN/blank money → 0 for net/tax
    * (transformers.py:16-18), total parsed strictly.
    */
  def simpleTabular(detail: DataFrame,
      dateFormat: String = "dd-MM-yyyy"): DataFrame = {
    val stopped = Canonicalize.takeWhile(detail,
      cOpt(detail, "N° Factura").isNull ||
        trim(cOpt(detail, "N° Factura")) === "",
      col("row_index"), Seq(lit(1)))
    val nonEmpty = Canonicalize.dropFullyEmpty(stopped,
      detail.columns.filterNot(_ == "row_index").toSeq)
    nonEmpty.select(
      col("row_index"),
      clean_string(cOpt(nonEmpty, "N° Factura")).as("invoice_number"),
      clean_string(cOpt(nonEmpty, "N° Referencia")).as("reference_number"),
      clean_string(cOpt(nonEmpty, "Transportista")).as("carrier_name"),
      lit(null).cast("string").as("ship_name"),
      lit(null).cast("string").as("dispatch_guides"),
      parse_multi_date(cOpt(nonEmpty, "Fecha Factura"), dateFormat).as("invoice_date"),
      clean_string(cOpt(nonEmpty, "Descripción")).as("description"),
      coalesce(parse_clp_money(cOpt(nonEmpty, "Monto Neto")),
        parse_clp_money(cOpt(nonEmpty, "Monto Total"))).as("net_amount"),
      coalesce(parse_clp_money(cOpt(nonEmpty, "IVA")), lit(0).cast(money))
        .as("tax_amount"),
      parse_clp_money(cOpt(nonEmpty, "Monto Total")).as("total_amount"),
      upper(coalesce(nullif(clean_string(cOpt(nonEmpty, "Moneda")), lit("")),
        lit("CLP"))).as("currency"),
      lit(null).cast("string").as("aprobado_por"))
  }

  /** A staged sheet's detected layout: its fixed cells, the format they
    * select and the detail table under the discovered header row.
    */
  final case class Layout(fc: StagedWorkbook.FixedCells, mixed: Boolean,
      detail: DataFrame) {
    /** Columns the schema pre-flight demands of this format. */
    def required: Seq[String] =
      if (mixed) Seq("Órdenes de Embarque")
      else Seq("N° Factura", "N° Referencia", "Transportista", "Monto Total")

    /** The matching extraction path. */
    def extract(dateFormat: String = "dd-MM-yyyy"): DataFrame =
      if (mixed) mixedFormat(detail, fc, dateFormat)
      else simpleTabular(detail, dateFormat)
  }

  /** Fixed cells → format detect → header discovery, all from the sheet's
    * driver-side head (no Spark job). Mirrors `extract()` :91-125.
    */
  def layout(sheet: DataFrame, head: StagedWorkbook.Head): Layout = {
    val fc = StagedWorkbook.fixedCells(head)
    val mixed = StagedWorkbook.isMixedFormat(fc)
    val headerRow =
      if (mixed) StagedWorkbook.discoverHeaderRow(head, "Órdenes de Embarque",
        MixedKnownHeaders)
      else StagedWorkbook.discoverHeaderRow(head, "N° Factura",
        SimpleColumns.toSet)
    Layout(fc, mixed, StagedWorkbook.table(sheet, head, headerRow))
  }

  /** Full per-file extraction over a staged sheet (one head read). */
  def extract(sheet: DataFrame, dateFormat: String = "dd-MM-yyyy"): DataFrame =
    layout(sheet, StagedWorkbook.readHead(sheet)).extract(dateFormat)
}
