package graft.sources

import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Real-bytes Excel I/O: XlsxEgress-written workbooks read back through
  * XlsxIngress must drive the S3–S5 extraction identically to the
  * staged-CSV path, including header discovery, fixed cells and the
  * mixed-format broadcast semantics.
  */
class XlsxSpec extends SparkSpec {

  private def tmpFile(suffix: String): String =
    Files.createTempFile("graft-xlsx", suffix).toString

  private val headers = Seq("N° Factura", "N° Referencia", "Transportista",
    "Fecha Factura", "Descripción", "Monto Neto", "IVA", "Monto Total", "Moneda")
  private val r1 = Seq("FAC-001", "REF-001", "Transportes Chile Ltda",
    "15-01-2026", "Flete Santiago-Valparaíso", "100000", "19000", "119000", "CLP")
  private val r2 = Seq("FAC-002", "REF-002", "Carrier Sur",
    "16-01-2026", "Porteo", "200000", "38000", "238000", "CLP")

  private def collectExtract(df: DataFrame) =
    df.orderBy("row_index").collect().map(r =>
      (r.getAs[String]("invoice_number"), r.getAs[String]("reference_number"),
        r.getAs[String]("carrier_name"),
        Option(r.getAs[java.math.BigDecimal]("total_amount")).map(_.longValue)))

  test("simple-tabular xlsx == staged-csv path through extract()") {
    // identical content through both ingress paths
    val filler = Seq.fill(10)(Seq.fill(headers.size)(""))
    val all = filler ++ Seq(headers) ++ Seq(r1, r2)

    val xlsx = tmpFile(".xlsx")
    XlsxEgress.write(xlsx, all.map(_.map(c => c: Any)))
    val csv = tmpFile(".csv")
    Files.writeString(java.nio.file.Paths.get(csv),
      all.map(_.map(c => "\"" + c.replace("\"", "\"\"") + "\"").mkString(","))
        .mkString("\n"))

    val viaXlsx = OfficialFormatExtract.extract(XlsxIngress.stage(spark, xlsx))
    val viaCsv = OfficialFormatExtract.extract(StagedWorkbook.fromCsv(spark, csv))
    val gx = collectExtract(viaXlsx)
    val gc = collectExtract(viaCsv)
    assert(gx.nonEmpty && gx.toSeq == gc.toSeq)
    assert(gx.head == (("FAC-001", "REF-001", "Transportes Chile Ltda", Some(119000L))))
  }

  test("mixed-format xlsx: fixed cells C6/G3/C8/H6/H7/F4 + detail rows on real bytes") {
    // sparse sheet: fixed header cells + detail table with header row 11
    val rows = Array.fill[Array[Any]](13)(Array.fill[Any](10)(null))
    def set(addr: String, v: Any): Unit = {
      val (letters, digits) = addr.partition(_.isLetter)
      rows(digits.toInt - 1)(StagedWorkbook.colIndex(letters) - 1) = v
    }
    set("C6", "Transportes Mixto SA")   // empresaTransporte
    set("G3", "20-02-2026")             // fechaEmision
    set("C8", "FAC-777")                // numeroFactura → mixed detect
    set("H6", "Nave Austral")           // nave
    set("F4", "Aprobado por: Ana Díaz") // responsable
    val detailHeaders = Seq("Fecha Servicio", "Órdenes de Embarque",
      "Guías de Despacho", "Flete($)", "Porteo($)", "Total Servicio ($)")
    detailHeaders.zipWithIndex.foreach { case (h, i) => rows(10)(i) = h }
    Seq(
      Seq[Any]("01-02-2026", "OE-1", "GD-1", 50000, 10000, null),
      Seq[Any]("02-02-2026", "OE-2", "GD-2", null, null, 75000)
    ).zipWithIndex.foreach { case (r, i) =>
      r.zipWithIndex.foreach { case (v, j) => rows(11 + i)(j) = v } }

    val xlsx = tmpFile(".xlsx")
    XlsxEgress.write(xlsx, rows.toSeq.map(_.toSeq))

    val sheet = XlsxIngress.stage(spark, xlsx)
    val fc = StagedWorkbook.fixedCells(sheet)
    assert(StagedWorkbook.isMixedFormat(fc))
    assert(fc.nave.contains("Nave Austral"))
    val out = OfficialFormatExtract.extract(sheet)
      .orderBy("row_index").collect()
    assert(out.length == 2)
    assert(out.forall(_.getAs[String]("invoice_number") == "FAC-777"))
    assert(out.forall(_.getAs[String]("carrier_name") == "Transportes Mixto SA"))
    assert(out.forall(_.getAs[String]("aprobado_por") == "Ana Díaz"))
    // F7: component sum (50000+10000) where no explicit total; override wins on row 2
    assert(out(0).getAs[java.math.BigDecimal]("total_amount").longValue == 60000L)
    assert(out(1).getAs[java.math.BigDecimal]("total_amount").longValue == 75000L)
  }

  test("consolidated egress formats: currency/date/int styles land in styles.xml") {
    val xlsx = tmpFile(".xlsx")
    XlsxEgress.write(xlsx, Seq(
      Seq[Any]("N° Factura", "Total Servicio ($)", "Fecha Emisión", "Observaciones"),
      Seq[Any](123, 119000.0, "15/01/2026", "ok")),
      XlsxEgress.ConsolidatedFormats)
    val zip = new java.util.zip.ZipFile(xlsx)
    def part(n: String) = new String(
      zip.getInputStream(zip.getEntry(n)).readAllBytes(), "UTF-8")
    try {
      val styles = part("xl/styles.xml")
      // reference COLUMN_FORMATS: integral invoice, CLP currency, dd/mm/yyyy
      assert(styles.contains("formatCode=\"0\""))
      assert(styles.contains("#,##0"))
      assert(styles.contains("dd/mm/yyyy"))
      assert(styles.contains("<alignment horizontal=\"center\"/>"))
      val sheet = part("xl/worksheets/sheet1.xml")
      // data cells styled, header cells not
      assert(sheet.contains("<c r=\"A2\" s="))
      assert(!sheet.contains("<c r=\"A1\" s="))
    } finally zip.close()
    // values still round-trip through the ingress reader
    val rows = XlsxIngress.readRows(xlsx)
    assert(rows(1)(0) == "123" && rows(1)(1) == "119000")
  }

  test("append semantics: rows land after the last populated row") {
    val xlsx = tmpFile(".xlsx")
    XlsxEgress.write(xlsx, Seq(Seq("h1", "h2"), Seq("a", 1)))
    XlsxEgress.append(xlsx, Seq("h1", "h2"), Seq(Seq("b", 2), Seq("c", 3)))
    val rows = XlsxIngress.readRows(xlsx)
    assert(rows.map(_.head) == Seq("h1", "a", "b", "c"))
    assert(rows(3)(1) == "3")
  }

  test("Egress.writeConsolidatedXlsx: store slice → styled workbook, appends on rerun") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_date}
    val store = Seq(
      ("123", "REF-1", "Carrier A", "2026-01-15", "119000.00"),
      ("FAC-9", "REF-2", "Carrier B", "2026-01-16", "238000.00"))
      .toDF("invoice_number", "reference_number", "carrier_name", "d", "t")
      .select(col("invoice_number"), col("reference_number"), col("carrier_name"),
        to_date(col("d")).as("invoice_date"),
        col("t").cast("decimal(18,2)").as("total_amount"))
    val xlsx = tmpFile(".xlsx")
    graft.pipeline.Egress.writeConsolidatedXlsx(store.filter(col("invoice_number") === "123"), xlsx)
    graft.pipeline.Egress.writeConsolidatedXlsx(store.filter(col("invoice_number") =!= "123"), xlsx)
    val rows = XlsxIngress.readRows(xlsx)
    assert(rows.head.head == "N° Factura")
    // F9: integral invoice renders as a number; non-integral stays text
    assert(rows(1).head == "123" && rows(2).head == "FAC-9")
    assert(rows(1)(5) == "119000") // Total Servicio ($) as number
    assert(rows(1)(6) == "15/01/2026") // dd/MM/yyyy
    assert(rows.length == 3) // header + 2 appended rows across two writes
  }

  test("pipeline consumes a real .xlsx landing file end-to-end") {
    val base = Files.createTempDirectory("graft-xlsx-pipe")
    val landing = Files.createDirectories(java.nio.file.Paths.get(s"$base/landing"))
    val filler = Seq.fill(10)(Seq.fill(headers.size)(""))
    XlsxEgress.write(s"$landing/facturas.xlsx",
      (filler ++ Seq(headers) ++ Seq(r1, r2)).map(_.map(c => c: Any)))
    val report = graft.pipeline.ConsolidationPipeline.run(spark,
      graft.pipeline.ConsolidationPipeline.Config(
        landingDir = s"$base/landing",
        consolidatedPath = s"$base/consolidado.parquet",
        auditDir = s"$base/audit",
        lifecycleDir = s"$base/lifecycle"))
    assert(report.status == "SUCCESS", report.toString)
    assert(report.inserted == 2)
    val store = spark.read.parquet(s"$base/consolidado.parquet")
    assert(store.filter(org.apache.spark.sql.functions.col("invoice_number")
      === "FAC-001").count() == 1)
  }

  test("a 4-column xlsx (only the required columns) completes end-to-end") {
    // narrower than column H: the fixed-cell lookups of G3/H6/H7 must read
    // as absent instead of failing the file
    val base = Files.createTempDirectory("graft-xlsx-narrow")
    val landing = Files.createDirectories(java.nio.file.Paths.get(s"$base/landing"))
    val required = Seq("N° Factura", "N° Referencia", "Transportista", "Monto Total")
    val body = Seq(Seq("FAC-401", "REF-401", "Carrier Uno", "119000"),
      Seq("FAC-402", "REF-402", "Carrier Dos", "238000"))
    XlsxEgress.write(s"$landing/angosta.xlsx",
      (Seq.fill(10)(Seq.fill(4)("")) ++ Seq(required) ++ body).map(_.map(c => c: Any)))
    assert(XlsxIngress.readRows(s"$landing/angosta.xlsx").forall(_.size == 4))
    val report = graft.pipeline.ConsolidationPipeline.run(spark,
      graft.pipeline.ConsolidationPipeline.Config(
        landingDir = s"$base/landing",
        consolidatedPath = s"$base/consolidado.parquet",
        auditDir = s"$base/audit",
        lifecycleDir = s"$base/lifecycle"))
    val file = report.files.head
    assert(file.status == "COMPLETED", report.toString)
    // no `Fecha Factura` column: every row is a date validation error
    assert(file.rowsTotal == 2 && file.rowsError == 2, file.toString)
    assert(file.errorDetail.forall(_.contains("Formato de fecha")), file.toString)
  }

  test("in-place append preserves images/drawings and copies last-row styles") {
    val xlsx = tmpFile(".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(xlsx)))
    def put(name: String, content: Array[Byte]): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content); zos.closeEntry()
    }
    def putS(name: String, content: String): Unit = put(name, content.getBytes("UTF-8"))
    putS("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Default Extension="png" ContentType="image/png"/></Types>""")
    putS("_rels/.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    putS("xl/workbook.xml", """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    putS("xl/_rels/workbook.xml.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    // a fake embedded image + a drawing reference inside the sheet
    val png = Array[Byte](0x50, 0x4E, 0x47, 1, 2, 3)
    put("xl/media/image1.png", png)
    putS("xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><cols><col min="1" max="1" width="25"/></cols><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>hdr</t></is></c></row><row r="2"><c r="A2" s="3" t="inlineStr"><is><t>old</t></is></c><c r="B2" s="7"><v>10</v></c></row></sheetData><drawing r:id="rId99"/></worksheet>""")
    zos.close()

    XlsxEgress.append(xlsx, Seq("hdr"), Seq(Seq[Any]("new1", 11), Seq[Any]("new2", 12)))

    val zip = new java.util.zip.ZipFile(xlsx)
    try {
      // media part survived byte-for-byte
      val media = zip.getInputStream(zip.getEntry("xl/media/image1.png")).readAllBytes()
      assert(media.toSeq == png.toSeq)
      val sheet = new String(zip.getInputStream(
        zip.getEntry("xl/worksheets/sheet1.xml")).readAllBytes(), "UTF-8")
      assert(sheet.contains("""<drawing r:id="rId99"/>"""), "drawing ref dropped")
      assert(sheet.contains("""<col min="1" max="1" width="25"/>"""), "col widths dropped")
      // appended rows land after row 2 and copy the last row's styles
      assert(sheet.contains("""<c r="A3" s="3" t="inlineStr">"""))
      assert(sheet.contains("""<c r="B3" s="7"><v>11</v></c>"""))
      assert(sheet.contains("""<c r="A4" s="3""""))
    } finally zip.close()
    val rows = XlsxIngress.readRows(xlsx)
    assert(rows.map(_.head) == Seq("hdr", "old", "new1", "new2"))
  }

  /** Hand-rolled TWO-sheet workbook ("Resumen" first, then `second`) with
    * one marker cell per sheet — the shape XlsxEgress never writes, needed
    * to prove name resolution picks by NAME, not position.
    */
  private def twoSheetWorkbook(second: String): String = {
    val xlsx = tmpFile(".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(xlsx)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("_rels/.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml", s"""<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Resumen" sheetId="1" r:id="rId1"/><sheet name="${second}" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml", """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>first-sheet</t></is></c></row></sheetData></worksheet>""")
    put("xl/worksheets/sheet2.xml", """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>second-sheet</t></is></c></row></sheetData></worksheet>""")
    zos.close()
    xlsx
  }

  test("stageByName: exact name wins over position, Sheet1 falls back, neither fails listing sheets") {
    // target sheet is SECOND — positional read would get "first-sheet"
    val byName = twoSheetWorkbook("Facturas")
    assert(XlsxIngress.readRowsByName(byName, "Facturas") == Seq(Seq("second-sheet")))
    assert(XlsxIngress.stageByName(spark, byName, "Facturas")
      .orderBy("_row_num").collect().map(_.getSeq[String](1).head).toSeq
      == Seq("second-sheet"))
    // absent name + a "Sheet1" present → the reference's fallback
    val withSheet1 = twoSheetWorkbook("Sheet1")
    assert(XlsxIngress.readRowsByName(withSheet1, "NoExiste") == Seq(Seq("second-sheet")))
    // absent name, no Sheet1 → fail loud, listing what exists
    val ex = intercept[IllegalArgumentException] {
      XlsxIngress.readRowsByName(byName, "NoExiste")
    }
    assert(ex.getMessage.contains("NoExiste"))
    assert(ex.getMessage.contains("Resumen") && ex.getMessage.contains("Facturas"))
  }

  test("inline rich-text cell: multiple <t> runs concatenate") {
    // XlsxEgress writes single-run inline strings only; hand-roll a cell
    // whose <is> carries one <t> per format span (bold half + plain half)
    val xlsx = tmpFile(".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(xlsx)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("_rels/.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml", """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml", """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c r="A1" t="inlineStr"><is><r><rPr><b/></rPr><t>Transportes</t></r><r><t xml:space="preserve"> Chile Ltda</t></r></is></c><c r="B1" t="inlineStr"><is><t>plain</t></is></c></row></sheetData></worksheet>""")
    zos.close()
    val rows = XlsxIngress.readRows(xlsx)
    assert(rows == Seq(Seq("Transportes Chile Ltda", "plain")))
  }

  test("oversized egress view fails fast with the row-limit message, not an OOM") {
    import spark.implicits._
    val df = (1 to 5).toDF("n")
    val ex = intercept[IllegalArgumentException] {
      XlsxEgress.writeDataFrame(tmpFile(".xlsx"), df, Map.empty, maxRows = 3)
    }
    assert(ex.getMessage.contains("excede el límite de 3 filas"))
    // at the limit exactly: succeeds
    val ok = tmpFile(".xlsx")
    XlsxEgress.writeDataFrame(ok, df.orderBy("n").limit(3), Map.empty, maxRows = 3)
    assert(XlsxIngress.readRows(ok).length == 4) // header + 3
  }

  test("append into a namespace-prefixed <x:sheetData> sheet fails loud, not silently") {
    val xlsx = tmpFile(".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(xlsx)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("_rels/.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml", """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    put("xl/worksheets/sheet1.xml", """<?xml version="1.0"?><x:worksheet xmlns:x="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><x:sheetData><x:row r="1"><x:c r="A1" t="inlineStr"><x:is><x:t>hdr</x:t></x:is></x:c></x:row></x:sheetData></x:worksheet>""")
    zos.close()
    val before = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(xlsx)).toSeq
    val ex = intercept[IllegalArgumentException] {
      XlsxEgress.append(xlsx, Seq("hdr"), Seq(Seq[Any]("new")))
    }
    assert(ex.getMessage.contains("sheetData no reconocido"))
    // empty-rows append against the same sheet is a no-op, not a failure
    XlsxEgress.append(xlsx, Seq("hdr"), Seq.empty)
    assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(xlsx)).nonEmpty)
    assert(before.nonEmpty)
  }

  test("append into a zero-row sheet with <rowBreaks> succeeds (no false r-less guard)") {
    val xlsx = tmpFile(".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(xlsx)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("_rels/.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml", """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>""")
    // zero data rows but a <rowBreaks> element: the unnumbered-row guard
    // must match actual <row> tags only, not <rowBreaks>
    put("xl/worksheets/sheet1.xml", """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData></sheetData><rowBreaks count="1" manualBreakCount="1"><brk id="5" max="16383" man="1"/></rowBreaks></worksheet>""")
    zos.close()
    XlsxEgress.append(xlsx, Seq("hdr"), Seq(Seq[Any]("fila1")))
    val zf = new java.util.zip.ZipFile(xlsx)
    val sheet = new String(
      zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml")).readAllBytes,
      "UTF-8")
    zf.close()
    assert("""<row r="1"""".r.findFirstIn(sheet).isDefined, sheet)
    assert(sheet.contains("rowBreaks")) // untouched sheet furniture survives
  }

  test("shared strings, r-less rows and numeric normalization parse correctly") {
    // hand-rolled workbook exercising the parts XlsxEgress never writes:
    // sharedStrings.xml (t="s") and rows/cells without r= attributes
    val xlsx = tmpFile(".xlsx")
    val zos = new ZipOutputStream(java.nio.file.Files.newOutputStream(
      java.nio.file.Paths.get(xlsx)))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name)); zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/></Types>""")
    put("_rels/.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>""")
    put("xl/workbook.xml", """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="S" sheetId="1" r:id="rId9"/></sheets></workbook>""")
    put("xl/_rels/workbook.xml.rels", """<?xml version="1.0"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId9" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/data.xml"/></Relationships>""")
    put("xl/sharedStrings.xml", """<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><si><t>hola</t></si><si><r><t>multi</t></r><r><t xml:space="preserve"> run</t></r></si></sst>""")
    put("xl/worksheets/data.xml", """<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row><c t="s"><v>0</v></c><c><v>119000.0</v></c><c t="s"><v>1</v></c></row><row r="3"><c r="B3"><v>1.2E5</v></c></row></sheetData></worksheet>""")
    zos.close()

    val rows = XlsxIngress.readRows(xlsx)
    assert(rows(0) == Seq("hola", "119000", "multi run"))
    assert(rows(1).forall(_ == null)) // empty row 2 present (dense)
    assert(rows(2)(1) == "120000")    // scientific notation normalized
  }
}
