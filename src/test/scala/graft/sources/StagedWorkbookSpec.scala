package graft.sources

import graft.SparkSpec

/** Ingestion-layer semantics: Excel addressing, header-row discovery by
  * marker / known-header vote / fallback, format detection, schema
  * pre-flight (reference: official_format_extractor.py:111-121, :376-396;
  * excel_handler.py:168-183).
  */
class StagedWorkbookSpec extends SparkSpec {

  private def sheet(rows: Seq[String]*) =
    StagedWorkbook.fromRows(spark, rows.map(_.toSeq))

  test("Excel column letters map to 1-indexed positions") {
    assert(StagedWorkbook.colIndex("A") == 1)
    assert(StagedWorkbook.colIndex("C") == 3)
    assert(StagedWorkbook.colIndex("Z") == 26)
    assert(StagedWorkbook.colIndex("AA") == 27)
  }

  test("fixedCell reads by address; blank/absent → None") {
    val s = sheet(
      Seq("", "", ""),
      Seq("", "", " FAC-9 "),
      Seq("", "  ", ""))
    assert(StagedWorkbook.fixedCell(s, "C2").contains("FAC-9")) // trimmed
    assert(StagedWorkbook.fixedCell(s, "B3").isEmpty)           // blank
    assert(StagedWorkbook.fixedCell(s, "A9").isEmpty)           // beyond rows
  }

  test("narrow and ragged sheets: absent cells read as None/null, never throw") {
    // 4 cells per row: G3/H6/H7 lie beyond the row (ANSI element_at would
    // throw INVALID_ARRAY_INDEX_IN_ELEMENT_AT on them)
    val narrow = sheet((1 to 12).map(_ => Seq("", "", "x", "")): _*)
    val fc = StagedWorkbook.fixedCells(narrow)
    assert(fc.fechaEmision.isEmpty && fc.nave.isEmpty && fc.puertoEmbarque.isEmpty)
    assert(fc.empresaTransporte.contains("x") && fc.numeroFactura.contains("x"))
    assert(StagedWorkbook.fixedCell(narrow, "H7").isEmpty)
    // a data row shorter than the header row: the missing cells are null
    val ragged = sheet(Seq("A", "B", "C"), Seq("1"), Seq("2", "3", "4"))
    val rows = StagedWorkbook.table(ragged, 1).orderBy("row_index").collect()
    assert(rows.map(r => (r.getString(1), r.getString(2), r.getString(3))).toSeq ==
      Seq(("1", null, null), ("2", "3", "4")))
  }

  test("head: one read answers fixed cells, header discovery and headers") {
    val rows = (1 to 20).map(i => Seq(s"r$i", if (i == 13) "N° Factura" else ""))
    val head = StagedWorkbook.readHead(sheet(rows: _*))
    assert(head.rows.keySet == (1 to StagedWorkbook.HeadRows).toSet)
    assert(head == StagedWorkbook.Head.of(rows))
    assert(StagedWorkbook.fixedCell(head, "A3").contains("r3"))
    assert(StagedWorkbook.fixedCell(head, "C3").isEmpty)
    assert(StagedWorkbook.discoverHeaderRow(head, "N° Factura", Set.empty) == 13)
    assert(StagedWorkbook.discoverHeaderRow(head, "NOPE", Set.empty) == 11)
    // a lookup below the rows read is a caller error, not a silent None
    intercept[IllegalArgumentException](head.row(StagedWorkbook.HeadRows + 1))
  }

  test("header discovery: marker wins, else >=3 known headers, else default") {
    val withMarker = sheet(
      Seq("junk", ""),
      Seq("", "Órdenes de Embarque"))
    assert(StagedWorkbook.discoverHeaderRow(withMarker, "Órdenes de Embarque",
      Set.empty) == 2)

    val withKnown = sheet(
      Seq("x", "y", "z"),
      Seq("Unidad", "Conductor", "Contenedor"))
    assert(StagedWorkbook.discoverHeaderRow(withKnown, "NOPE",
      Set("Unidad", "Conductor", "Contenedor", "Plantas")) == 2)

    val nothing = sheet(Seq("a"), Seq("b"))
    assert(StagedWorkbook.discoverHeaderRow(nothing, "NOPE", Set("Q")) == 11)
  }

  test("format detect: mixed requires BOTH C8 and C6 populated") {
    def fc(c6: Option[String], c8: Option[String]) =
      StagedWorkbook.FixedCells(c6, None, c8, None, None, None)
    assert(StagedWorkbook.isMixedFormat(fc(Some("Carrier"), Some("FAC"))))
    assert(!StagedWorkbook.isMixedFormat(fc(Some("Carrier"), None)))
    assert(!StagedWorkbook.isMixedFormat(fc(None, Some("FAC"))))
  }

  test("table projection: headers from the header row, dupes keep first, row_index carried") {
    val s = sheet(
      Seq("A", "B", "", "A"),   // row 1: headers (dup A, blank col 3)
      Seq("1", "2", "x", "9"),
      Seq("3", "4", "y", "8"))
    val t = StagedWorkbook.table(s, 1)
    assert(t.columns.toSeq == Seq("row_index", "A", "B"))
    val rows = t.orderBy("row_index").collect()
    assert(rows.map(_.getAs[String]("A")).toSeq == Seq("1", "3"))
    assert(rows.map(_.getInt(0)).toSeq == Seq(2, 3))
  }

  test("schema pre-flight reports missing and extra columns") {
    val (ok1, m1, e1) = StagedWorkbook.validateSchema(
      Seq("row_index", "A", "B", "X"), Seq("A", "B", "C"))
    assert(!ok1 && m1 == Seq("C") && e1 == Seq("X"))
    val (ok2, m2, e2) = StagedWorkbook.validateSchema(
      Seq("row_index", "A", "B"), Seq("A", "B"))
    assert(ok2 && m2.isEmpty && e2.isEmpty)
  }

  test("fromCsvDir: per-file row numbering from a file-partitioned window") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csvdir")
    def w(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), lines.mkString("\n"))
    w("a.csv", Seq("\"a1\"", "\"a2\"", "\"a3\""))
    w("b.csv", Seq("\"b1\"", "\"b2\""))
    val staged = StagedWorkbook.fromCsvDir(spark, dir.toString)
    val rows = staged.collect().map(r => (
      r.getAs[String]("source_file").split('/').last,
      r.getAs[Int]("_row_num"),
      r.getSeq[String](r.fieldIndex("cells")).head)).sortBy(x => (x._1, x._2))
    assert(rows.toSeq == Seq(
      ("a.csv", 1, "a1"), ("a.csv", 2, "a2"), ("a.csv", 3, "a3"),
      ("b.csv", 1, "b1"), ("b.csv", 2, "b2")))
    // the numbering window partitions by file, never a global single reducer
    val plan = staged.queryExecution.optimizedPlan.toString
    assert(plan.contains("source_file"))
  }
}
