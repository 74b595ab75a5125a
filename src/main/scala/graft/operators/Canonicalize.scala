package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Projection / filter operators — SURVEY.md §2.2 (P1–P5, P7).
  *
  * All operators are declarative `Column` expressions so Catalyst can push
  * filters into the scan and prune unused columns; nothing here materializes
  * or collects.
  */
object Canonicalize {

  /** P1 — column mapping (rename-project). For each `(source, canonical)`
    * pair, takes the source-named column when present, else an
    * already-canonical column; unmapped columns are dropped
    * (reference: smartbots-etl/src/application/transformers.py:42-49).
    * `keep` columns (ordinals, lineage) are carried through untouched.
    */
  def mapColumns(df: DataFrame, mapping: Seq[(String, String)],
      keep: Seq[String] = Nil): DataFrame = {
    val present = df.columns.toSet
    val mapped = mapping.flatMap { case (src, dst) =>
      if (present.contains(src)) Some(col(s"`$src`").as(dst))
      else if (present.contains(dst)) Some(col(dst))
      else None
    }
    df.select(mapped ++ keep.filter(present.contains).map(col): _*)
  }

  /** P2 — drop rows where every listed column is null
    * (official_format_extractor.py:164-165).
    */
  def dropFullyEmpty(df: DataFrame, subset: Seq[String] = Nil): DataFrame =
    if (subset.isEmpty) df.na.drop("all") else df.na.drop("all", subset)

  /** P3 — require a non-blank key column; blank/NaN rows are junk below the
    * table (official_format_extractor.py:167-172).
    */
  def requireNonBlank(df: DataFrame, column: String): DataFrame =
    df.filter(nonBlank(column))

  /** P3 as a row predicate. */
  def nonBlank(column: String): Column =
    col(s"`$column`").isNotNull && trim(col(s"`$column`").cast("string")) =!= ""

  /** P4 — drop Excel footer/summary rows: any row whose concatenated
    * upper-cased cells contain NETO / IVA / TOTAL
    * (official_format_extractor.py:174-177).
    */
  def dropSummaryRows(df: DataFrame, columns: Seq[String]): DataFrame =
    df.filter(notSummaryRow(columns))

  /** P4 as a row predicate. */
  def notSummaryRow(columns: Seq[String]): Column =
    !upper(concat_ws(" ", columns.map(c => col(s"`$c`").cast("string")): _*))
      .rlike("NETO|IVA|TOTAL")

  /** P2 as a row predicate over STRING columns: some listed cell is
    * non-null. For strings this is exactly [[dropFullyEmpty]] (its NaN
    * rule only touches floating-point columns).
    */
  def anyNonNull(columns: Seq[String]): Column =
    coalesce(columns.map(c => col(s"`$c`")): _*).isNotNull

  /** P5 — take-while: keep rows strictly before the first row (by `ordinal`)
    * that satisfies `stop`, independently within each `filePartition`
    * (official_format_extractor.py:257-264 — iteration breaks at the first
    * empty invoice number).
    *
    * Scale note: the window partitions by source file, so each file's
    * order-dependent scan is a single partition-local pass — files are
    * independent units (tens of rows each in the reference workload), and
    * the plan stays shuffle-free when the data is already laid out per file.
    */
  def takeWhile(df: DataFrame, stop: Column, ordinal: Column,
      filePartition: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(filePartition: _*)
    val firstStop = min(when(stop, ordinal)).over(w)
    df.withColumn("__first_stop", firstStop)
      .filter(col("__first_stop").isNull || ordinal < col("__first_stop"))
      .drop("__first_stop")
  }

  /** P7 — processing-metadata projection: lineage file name + processing
    * timestamp (transformers.py:38-39).
    */
  def withMetadata(df: DataFrame): DataFrame =
    df.withColumn("source_file", input_file_name())
      .withColumn("processed_at", current_timestamp())
}
