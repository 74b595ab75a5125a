package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Staged-workbook ingestion — the Spark-side model of the reference's
  * Excel reading layer (reference: smartbots-etl/src/infrastructure/
  * official_format_extractor.py, excel_handler.py). A "sheet" is staged as
  * raw rows: `(_row_num: 1-indexed physical row, cells: array<string>)` —
  * the Excel→staging conversion itself (XLSX bytes → rows) is an ingress
  * formatter outside the engine, exactly as the egress Excel rendering is.
  *
  * Order-dependent semantics (header discovery S4, fixed cells S5,
  * take-while P5) key off `_row_num`, never off DataFrame order.
  */
object StagedWorkbook {

  val schema: StructType = StructType(Seq(
    StructField("_row_num", IntegerType, nullable = false),
    StructField("cells", ArrayType(StringType), nullable = false)))

  /** Stage a headerless CSV file as raw sheet rows (driver-side staging of
    * one workbook file — files are small; the DATA path stays distributed).
    */
  def fromCsv(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .option("header", "false")
      .option("quote", "\"")
      .option("escape", "\"")
      .schema(StructType((0 until 64).map(i =>
        StructField(s"_c$i", StringType))))
      .csv(path)
    val cellCols = df.columns.toIndexedSeq.map(col)
    df.withColumn("cells", array(cellCols: _*))
      .withColumn("_row_num",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(monotonically_increasing_id())).cast("int"))
      .select("_row_num", "cells")
  }

  /** Stage a whole DIRECTORY of headerless CSV workbooks in one read:
    * rows carry `source_file` and a per-file `_row_num` from a window
    * partitioned by file — unlike [[fromCsv]]'s single global window,
    * this parallelizes across files (one sort partition per file, skew
    * bounded by the largest workbook), so a million-file landing zone
    * numbers rows without a single-reducer bottleneck.
    */
  def fromCsvDir(spark: SparkSession, dir: String): DataFrame = {
    val df = spark.read
      .option("header", "false")
      .option("quote", "\"")
      .option("escape", "\"")
      .schema(StructType((0 until 64).map(i =>
        StructField(s"_c$i", StringType))))
      .csv(s"$dir/*.csv")
      .withColumn("source_file", input_file_name())
    val cellCols = (0 until 64).map(i => col(s"_c$i"))
    df.withColumn("cells", array(cellCols: _*))
      .withColumn("_row_num",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("source_file"))
          .orderBy(monotonically_increasing_id())).cast("int"))
      .select(col("source_file"), col("_row_num"), col("cells"))
  }

  /** Build a staged sheet from in-memory rows (test fixtures). */
  def fromRows(spark: SparkSession, rows: Seq[Seq[String]]): DataFrame = {
    val data = rows.zipWithIndex.map { case (cells, i) =>
      Row(i + 1, cells)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), schema)
  }

  /** Excel column letter → 1-indexed column number ("A"→1, "C"→3, "AA"→27). */
  def colIndex(letters: String): Int =
    letters.toUpperCase.foldLeft(0)((acc, c) => acc * 26 + (c - 'A' + 1))

  /** The first [[HeadRows]] physical rows of a sheet, held on the driver:
    * everything the per-file decisions read — the six fixed cells (rows
    * 3-8), header discovery (rows ≤ 15, default 11) and the header names.
    * One tiny read per file instead of one job per lookup. A row or cell
    * beyond what the sheet holds reads as absent, never as an error, so a
    * sheet narrower than column H is not a failure.
    */
  final case class Head(depth: Int, rows: Map[Int, IndexedSeq[String]]) {
    /** Cells of physical row `n` (empty when the sheet has no such row). */
    def row(n: Int): IndexedSeq[String] = {
      require(n <= depth, s"row $n lies below the $depth rows read")
      rows.getOrElse(n, IndexedSeq.empty)
    }
    /** Cell at 1-indexed (row, column); None when absent or null. */
    def cell(n: Int, column: Int): Option[String] =
      row(n).lift(column - 1).flatMap(Option(_))
  }

  object Head {
    /** Head of a sheet whose rows are already on the driver (XLSX ingress):
      * no Spark job. `rows(0)` is physical row 1.
      */
    def of(rows: Seq[Seq[String]]): Head =
      Head(HeadRows, rows.take(HeadRows).zipWithIndex
        .map { case (cells, i) => (i + 1) -> cells.toIndexedSeq }.toMap)
  }

  /** Rows read by [[readHead]]: header discovery scans 15 rows. */
  val HeadRows = 15

  /** One collect of the rows `_row_num ≤ depth` of a staged sheet. */
  def readHead(sheet: DataFrame, depth: Int = HeadRows): Head =
    Head(depth, sheet.filter(col("_row_num") <= depth).collect()
      .map(r => r.getInt(0) -> r.getSeq[String](1).toIndexedSeq).toMap)

  /** S5 — one fixed cell by Excel address ("C8"): value of column C at
    * physical row 8, None when blank or absent.
    */
  def fixedCell(head: Head, address: String): Option[String] = {
    val (letters, digits) = address.partition(_.isLetter)
    head.cell(digits.toInt, colIndex(letters)).map(_.trim).filter(_.nonEmpty)
  }

  /** [[fixedCell]] over a staged sheet (one collect). */
  def fixedCell(sheet: DataFrame, address: String): Option[String] =
    fixedCell(readHead(sheet, address.filter(_.isDigit).toInt), address)

  final case class FixedCells(
      empresaTransporte: Option[String], fechaEmision: Option[String],
      numeroFactura: Option[String], nave: Option[String],
      puertoEmbarque: Option[String], responsable: Option[String])

  /** S5 — the reference's six header cells (C6, G3, C8, H6, H7, F4 —
    * official_format_extractor.py:77-84, :455-476).
    */
  def fixedCells(head: Head): FixedCells = FixedCells(
    empresaTransporte = fixedCell(head, "C6"),
    fechaEmision = fixedCell(head, "G3"),
    numeroFactura = fixedCell(head, "C8"),
    nave = fixedCell(head, "H6"),
    puertoEmbarque = fixedCell(head, "H7"),
    responsable = fixedCell(head, "F4"))

  /** [[fixedCells]] over a staged sheet (one collect). */
  def fixedCells(sheet: DataFrame): FixedCells = fixedCells(readHead(sheet))

  /** Format auto-detect (official_format_extractor.py:111-121): mixed when
    * both C8 (invoice number) and C6 (carrier) are populated, else simple
    * tabular.
    */
  def isMixedFormat(fc: FixedCells): Boolean =
    fc.numeroFactura.isDefined && fc.empresaTransporte.isDefined

  /** S4 — header-row discovery: scan the first `maxScan` physical rows for
    * one containing `marker` or ≥ `minKnown` of `knownHeaders`; fall back
    * to `defaultRow` (official_format_extractor.py:376-396: marker
    * "Órdenes de Embarque", default row 11).
    */
  def discoverHeaderRow(head: Head, marker: String,
      knownHeaders: Set[String], maxScan: Int, minKnown: Int,
      defaultRow: Int): Int =
    (1 to maxScan).find { n =>
      val cells = head.row(n).filter(_ != null).map(_.trim)
      cells.contains(marker) || cells.count(knownHeaders.contains) >= minKnown
    }.getOrElse(defaultRow)

  def discoverHeaderRow(head: Head, marker: String,
      knownHeaders: Set[String]): Int =
    discoverHeaderRow(head, marker, knownHeaders, HeadRows, 3, 11)

  /** [[discoverHeaderRow]] over a staged sheet (one collect of ≤ `maxScan`
    * rows).
    */
  def discoverHeaderRow(sheet: DataFrame, marker: String,
      knownHeaders: Set[String], maxScan: Int = HeadRows, minKnown: Int = 3,
      defaultRow: Int = 11): Int =
    discoverHeaderRow(readHead(sheet, maxScan), marker, knownHeaders,
      maxScan, minKnown, defaultRow)

  /** Project the staged sheet into a named-column table: headers from
    * physical row `headerRow` of `head`, data from `headerRow + 1` on.
    * Blank/null header cells are dropped; duplicate headers keep the first
    * column; a row shorter than the header row reads null for the missing
    * cells. `_row_num` is carried (order-dependent operators need it).
    */
  def table(sheet: DataFrame, head: Head, headerRow: Int): DataFrame = {
    val named = head.row(headerRow).zipWithIndex
      .collect { case (h, i) if h != null && h.trim.nonEmpty => (h.trim, i) }
      .groupBy(_._1).map { case (h, xs) => (h, xs.head._2) }.toSeq
      .sortBy(_._2)
    sheet.filter(col("_row_num") > headerRow)
      .select(col("_row_num").as("row_index") +:
        named.map { case (h, i) =>
          try_element_at(col("cells"), lit(i + 1)).as(h) }: _*)
  }

  /** [[table]] with the header row read from the sheet (one collect). */
  def table(sheet: DataFrame, headerRow: Int): DataFrame =
    table(sheet, readHead(sheet, headerRow), headerRow)

  /** Schema pre-flight (excel_handler.py:168-183): actual vs expected
    * column sets → (isValid, missing, extra).
    */
  def validateSchema(actual: Seq[String], expected: Seq[String])
      : (Boolean, Seq[String], Seq[String]) = {
    val a = actual.toSet -- Set("row_index")
    val e = expected.toSet
    val missing = expected.filterNot(a.contains)
    val extra = (a -- e).toSeq.sorted
    (missing.isEmpty, missing, extra)
  }
}
