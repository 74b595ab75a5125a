package graft.sources

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.Validate

/** Mixed-format extraction over the reference's full 27-column detail
  * layout: the P2/P3/P4 row filters must keep their semantics and the
  * plan must stay cheap to optimize as the column count grows.
  */
class OfficialFormatExtractSpec extends SparkSpec {

  /** The 16 columns the extractor reads plus 11 it only filters over. */
  private val headers: Seq[String] =
    OfficialFormatExtract.MixedKnownHeaders.toSeq.sorted ++ Seq("Observaciones",
      "Patente Carro", "Planta", "Cliente", "Booking", "Naviera", "Destino",
      "Origen", "Tipo Servicio", "Hora Llegada", "Hora Salida", "Estado")

  test("27-column mixed sheet extracts its rows and optimizes in under 2 s") {
    assert(headers.size == 27 && headers.distinct.size == 27)
    val h = headers.zipWithIndex.toMap
    def row(cells: (String, String)*): Seq[String] = {
      val out = Array.fill(headers.size)("")
      cells.foreach { case (k, v) => out(h(k)) = v }
      out.toSeq
    }
    def at(cells: (Int, String)*): Seq[String] = {
      val m = cells.toMap
      (1 to headers.size).map(i => m.getOrElse(i, ""))
    }
    val detail = (1 to 4).map(i => row("Fecha Servicio" -> "01-01-2026",
      "Órdenes de Embarque" -> s"OE-$i", "Guías de Despacho" -> s"G-$i",
      "Total Servicio ($)" -> s"${1000 * i}", "Planta" -> "Norte"))
    val sheet = Seq(
      at(), at(),
      at(7 -> "15-01-2026"),                      // G3
      at(6 -> "Aprobado por: Ana Díaz"),         // F4
      at(),
      at(3 -> "Transportes Chile Ltda", 8 -> "MSC AURORA"), // C6, H6
      at(),
      at(3 -> "FAC-270"),                        // C8
      at(), at(),
      headers) ++                                 // row 11
      detail ++ Seq(
        Seq.fill(headers.size)(null),             // P2: fully empty
        row("Planta" -> "Sur", "Flete($)" -> "5"), // P3: blank reference
        row("Órdenes de Embarque" -> "OE-X",      // P4: summary row
          "Estado" -> "Total neto"))
    val extracted = OfficialFormatExtract.extract(StagedWorkbook.fromRows(spark, sheet))
    val checked = Validate.withErrorColumn(extracted)

    val t0 = System.nanoTime()
    checked.queryExecution.optimizedPlan
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 2.0, f"optimizing took $secs%.1f s")

    val got = checked.orderBy("row_index").collect().map(r => (
      r.getAs[String]("reference_number"), r.getAs[String]("invoice_number"),
      r.getAs[java.math.BigDecimal]("total_amount").longValue,
      Option(r.getAs[String]("error"))))
    assert(got.toSeq == (1 to 4).map(i => (s"OE-$i", "FAC-270", 1000L * i, None)))
    assert(checked.filter(col("aprobado_por") === "Ana Díaz").count() == 4)
  }
}
