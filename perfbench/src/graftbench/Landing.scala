package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.sql.{Date, Timestamp}
import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.util.Random

import org.apache.spark.sql.{Encoders, SparkSession}

import graft.domain.{InvoiceRecord, RecordAction}
import graft.pipeline.Audit
import graft.sources.{OfficialFormatExtract, XlsxEgress}

/** Where one pass's pipeline reads and writes. */
final case class Layout(root: Path) {
  val landing: Path = root.resolve("landing")
  val store: Path = root.resolve("consolidado.parquet")
  val audit: Path = root.resolve("audit")
  val lifecycle: Path = root.resolve("lifecycle")
  def outputBytes: Long =
    Stats.dirBytes(store) + Stats.dirBytes(audit) + Stats.dirBytes(lifecycle)
}

/** What the pipeline must report for one processed file. */
final case class FileExpect(name: String, status: String, rowsTotal: Long,
    rowsValid: Long, rowsError: Long, inserted: Long, unchanged: Long)

/** Expected outcome of one `ConsolidationPipeline.run` over a landing
  * folder, computed by the generator from the rows it planted.
  */
final case class Expect(processed: Seq[FileExpect], skipped: Seq[String],
    returned: Seq[String], reportStatus: String, storeRows: Long) {
  def actions: Map[String, Long] = Map(
    RecordAction.Insert -> processed.map(_.inserted).sum,
    RecordAction.Unchanged -> processed.map(_.unchanged).sum,
    RecordAction.ValidationError -> processed.map(_.rowsError).sum)
    .filter(_._2 > 0)
}

/** One landing file: its physical rows (row 1 first) and how to write it. */
final case class PlannedFile(name: String, format: String, mtimeMs: Long,
    rows: Seq[Seq[String]])

/** A whole seeded landing folder plus the store and audit it runs against. */
final case class Plan(files: Seq[PlannedFile], store: Seq[InvoiceRecord],
    completed: Seq[PlannedFile], expect: Expect)

/** A clean invoice line before rendering; total = net + tax. */
final case class Line(inv: String, ref: String, carrier: String,
    date: LocalDate, net: Long, tax: Long) {
  def total: Long = net + tax
}

/** Seeded landing-folder generator. Every file shape and error case comes
  * from the reference's fixtures: simple tabular sheets (CSV and real
  * XLSX), mixed-format sheets with fixed header cells, a schema-invalid
  * sheet (`Columna_Invalida`), files already COMPLETED in the audit (the
  * J4 skip path), `31-13-2026` dates, `N/A` money, a tax off by 2 and
  * store rows delivered again unchanged (keys that overlap the store). The
  * blank
  * `N° Factura` that ends extraction is only ever a file's last row.
  */
object Landing {

  val Carriers = Seq("Transportes Chile Ltda", "Logistica Andes SpA",
    "Cargas del Sur", "Fletes Pacifico")
  private val Dmy = DateTimeFormatter.ofPattern("dd-MM-yyyy")
  private val BaseMtime = 1768435200000L // 2026-01-15T00:00:00Z
  private val HeaderRow = 11

  /** Detail columns of the mixed-format sheets: 12 of the reference's 27.
    * Mixed-format extraction over the full 27-column layout does not finish
    * on this engine (Catalyst constraint propagation over the extractor's
    * per-column predicates grows exponentially with width: 12 columns
    * extract in ~2.5 s cold, 16 in ~4.8 s, 27 exhausts a 3 GB heap), so
    * the sheets keep every column the extractor reads plus enough others
    * for the summary-row and blank-cell paths.
    */
  val MixedHeaders: Seq[String] = Seq("Fecha Servicio", "Unidad", "Conductor",
    "Contenedor", "Patente Camión", "Patente Carro", "Órdenes de Embarque",
    "Guías de Despacho", "Flete($)", "Porteo($)", "Total Servicio ($)",
    "Observaciones")

  // ---- small: reference-sized workbooks ----------------------------------

  /** Rows of the seeded store. */
  val StoreRows = 300

  /** One workbook of each processed shape, tens of rows each, against a
    * store of [[StoreRows]] rows: a simple XLSX sheet with planted errors
    * and store overlaps, a mixed-format CSV sheet and a schema-invalid CSV
    * sheet; plus three simple CSV sheets the audit already completed.
    */
  def small(seed: Long): Plan = {
    val rng = new Random(seed)
    val store = (0 until StoreRows).map(i =>
      Line(s"S-${1000 + i / 3}", s"R${i % 3}", pick(rng, Carriers),
        day(rng), 10000L + rng.nextInt(900000), 0L))
    def rows() = 20 + rng.nextInt(20)
    val planned = Seq(
      simple(rng, "factura_0.xlsx", "xlsx", 0, freshLines(rng, "X", rows()), store),
      mixed(rng, "embarque_1.csv", 1, rows()))
    val bad = schemaInvalid(rng, "factura_invalida.csv", 2, 12)
    val done = (0 until 3).map(j => simple(rng, s"factura_previa_$j.csv", "csv", 3 + j,
      freshLines(rng, s"P$j", 15), store)._1)
    assemble(planned, Seq(bad), done, store)
  }

  // ---- plan assembly -------------------------------------------------------

  private def assemble(planned: Seq[(PlannedFile, FileExpect)],
      invalid: Seq[PlannedFile], completed: Seq[PlannedFile],
      store: Seq[Line]): Plan = {
    val expects = planned.map(_._2) ++ invalid.map(f =>
      FileExpect(f.name, "SCHEMA_ERROR", 0, 0, 0, 0, 0))
    val failed = expects.filter(_.status != "COMPLETED").map(_.name)
    Plan(
      files = planned.map(_._1) ++ invalid ++ completed,
      store = store.map(record),
      completed = completed,
      expect = Expect(
        processed = expects,
        skipped = completed.map(_.name),
        returned = failed ++ completed.map(_.name),
        reportStatus = graft.pipeline.Report.rollUp(expects.size, failed.size),
        storeRows = store.size + expects.map(_.inserted).sum))
  }

  private def pick[T](rng: Random, xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  private def day(rng: Random): LocalDate =
    LocalDate.of(2025, 1, 1).plusDays(rng.nextInt(365).toLong)

  private def freshLines(rng: Random, prefix: String, n: Int): IndexedSeq[Line] =
    (0 until n).map { i =>
      val net = 10000L + rng.nextInt(900000)
      Line(s"$prefix-${i / 2}", s"R${i % 2}", pick(rng, Carriers), day(rng),
        net, net * 19 / 100)
    }

  private def mtime(slot: Int): Long = BaseMtime + slot * 60000L

  private def record(l: Line): InvoiceRecord = InvoiceRecord(l.inv, l.ref,
    l.carrier, null, null, Date.valueOf(l.date), "seed",
    java.math.BigDecimal.valueOf(l.net), java.math.BigDecimal.valueOf(l.tax),
    java.math.BigDecimal.valueOf(l.total), "CLP", null, null, null, null,
    Some("seed.xlsx"), None, "new")

  private def blankRows: Seq[Seq[String]] = Seq.fill(HeaderRow - 1)(Seq.empty)

  /** A simple-tabular sheet over `lines`: one row of each planted error
    * kind, two store rows delivered again unchanged, and a closing row
    * with a blank `N° Factura`. No key repeats within the file:
    * `Reconcile.check` sums a repeated key's amount once per row on the
    * source side but once on the merged side, so the pipeline fails such a
    * file as a whole.
    */
  private def simple(rng: Random, name: String, format: String, slot: Int,
      lines: IndexedSeq[Line], store: Seq[Line]): (PlannedFile, FileExpect) = {
    val n = lines.size
    val idx = rng.shuffle((0 until n).toVector)
    val errKinds = Seq("date", "money", "tax")
    val errAt: Map[Int, String] = idx.zip(errKinds).toMap
    val rest = idx.drop(errKinds.size)
    // distinct store rows: a key delivered twice in one file is a repeat
    val overlapAt: Map[Int, Line] = rest.take(2)
      .zip(rng.shuffle(store.indices.toVector).map(store)).toMap
    val body = lines.indices.map { i =>
      val l = overlapAt.getOrElse(i, lines(i))
      val cells = Seq(l.inv, l.ref, l.carrier, Dmy.format(l.date),
        s"Flete ${l.ref}", l.net.toString, l.tax.toString, l.total.toString, "CLP")
      errAt.get(i) match {
        case Some("date") => cells.updated(3, "31-13-2026")
        case Some("money") => cells.updated(7, "N/A")
        case Some("tax") => cells.updated(6, (l.tax + 2).toString)
        case _ => cells
      }
    }
    val stop = Seq("", "FIN", "", "", "Fin del detalle", "", "", "", "")
    val rows = blankRows ++ Seq(OfficialFormatExtract.SimpleColumns) ++ body :+ stop
    val valid = n - errAt.size.toLong
    val inserted = valid - overlapAt.size
    (PlannedFile(name, format, mtime(slot), rows),
      FileExpect(name, "COMPLETED", n, valid, errAt.size, inserted, valid - inserted))
  }

  /** A mixed-format sheet: invoice-level fixed cells (C6, G3, C8, H6, H7,
    * F4) over a detail table keyed by `Órdenes de Embarque`, with one row
    * totalled from its components and a summary row.
    */
  private def mixed(rng: Random, name: String, slot: Int,
      n: Int): (PlannedFile, FileExpect) = {
    def put(row: Seq[String], col: Int, v: String) =
      row.padTo(col + 1, "").updated(col, v)
    val fixed = Vector.fill(HeaderRow - 1)(Seq.empty[String])
      .updated(2, put(Nil, 6, Dmy.format(day(rng))))
      .updated(3, put(Nil, 5, "Aprobado por: Ana Rojas"))
      .updated(5, put(put(Nil, 2, pick(rng, Carriers)), 7, "MSC GULSUN"))
      .updated(6, put(Nil, 7, "San Antonio"))
      .updated(7, put(Nil, 2, s"M-${70000 + slot}"))
    val h = MixedHeaders.zipWithIndex.toMap
    val componentRow = rng.nextInt(n)
    val body = (0 until n).map { i =>
      val order = s"OE-$slot-$i"
      val amount = 50000L + rng.nextInt(500000)
      val cells = Array.fill(MixedHeaders.size)("")
      cells(h("Fecha Servicio")) = Dmy.format(day(rng))
      cells(h("Unidad")) = s"U${rng.nextInt(90) + 10}"
      cells(h("Conductor")) = "Pedro Soto"
      cells(h("Contenedor")) = s"MSCU${1000000 + rng.nextInt(8999999)}"
      cells(h("Órdenes de Embarque")) = order
      cells(h("Guías de Despacho")) = (40000 + i).toString
      if (i == componentRow) {
        cells(h("Flete($)")) = (amount - 1000).toString
        cells(h("Porteo($)")) = "1000"
        cells(h("Total Servicio ($)")) = "0"
      } else cells(h("Total Servicio ($)")) = amount.toString
      cells(h("Observaciones")) = "sin novedad"
      cells.toSeq
    }
    val summary = Array.fill(MixedHeaders.size)("")
    summary(h("Patente Carro")) = "TOTAL"
    summary(h("Total Servicio ($)")) = "1"
    val rows = fixed ++ Seq(MixedHeaders) ++ body :+ summary.toSeq
    (PlannedFile(name, "csv", mtime(slot), rows),
      FileExpect(name, "COMPLETED", n, n, 0, n, 0))
  }

  private def schemaInvalid(rng: Random, name: String, slot: Int,
      n: Int): PlannedFile = {
    val header = OfficialFormatExtract.SimpleColumns
      .map(c => if (c == "Monto Total") "Columna_Invalida" else c)
    val body = freshLines(rng, "Z", n).map(l => Seq(l.inv, l.ref, l.carrier,
      Dmy.format(l.date), "x", l.net.toString, l.tax.toString, l.total.toString, "CLP"))
    PlannedFile(name, "csv", mtime(slot), blankRows ++ Seq(header) ++ body)
  }

  // ---- materialization ------------------------------------------------------

  /** Writes the landing files, the store and the seeded audit into a fresh
    * `layout`: every pass starts from the same seeded state.
    */
  def materialize(spark: SparkSession, plan: Plan, layout: Layout): Unit = {
    Stats.deleteTree(layout.root)
    Files.createDirectories(layout.landing)
    plan.files.foreach(f => writeFile(layout.landing.resolve(f.name), f))
    spark.createDataset(plan.store)(Encoders.product[InvoiceRecord]).toDF()
      .coalesce(1).write.parquet(layout.store.toString)
    val tracker = new Audit.Tracker(spark, layout.audit.toString)
    plan.completed.foreach { f =>
      val at = new Timestamp(f.mtimeMs + 1000)
      val n = f.rows.size - HeaderRow - 1
      tracker.logFile(Audit.FileLog("seed-run", s"seed-${f.name}", f.name,
        new Timestamp(f.mtimeMs), schema_valid = true, Nil, Nil, n, n, 0,
        "COMPLETED", at, Some(at)))
    }
  }

  def writeFile(path: Path, f: PlannedFile): Unit = {
    f.format match {
      case "xlsx" => XlsxEgress.write(path.toString, f.rows)
      case _ =>
        val width = f.rows.map(_.size).max
        val text = f.rows.map(r => r.padTo(width, "")
          .map(c => "\"" + c.replace("\"", "\"\"") + "\"").mkString(","))
          .mkString("", "\n", "\n")
        Files.write(path, text.getBytes(StandardCharsets.UTF_8))
    }
    Files.setLastModifiedTime(path, FileTime.fromMillis(f.mtimeMs))
  }
}
