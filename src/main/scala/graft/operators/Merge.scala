package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.domain.{RecordAction, RecordStatus}

/** Merge operators — SURVEY.md §2.4 (J1, J2, J3, J5).
  *
  * The reference's core "query" is an insert-only merge: a hash-map probe of
  * incoming rows against the consolidated table's composite PK
  * (reference: smartbots-etl/src/application/use_cases/consolidate_invoices.py:475-515).
  * Spark-first translation: the probe is a `left_anti` join — Catalyst/AQE
  * picks broadcast-hash when the small side fits (the consolidated table is
  * the big side at scale, incoming batches are small → broadcast the batch),
  * or shuffled-hash otherwise. No driver-side maps, no collects.
  */
object Merge {

  final case class Result(result: DataFrame, inserted: DataFrame)

  /** In-batch PK dedup, first occurrence wins — the reference updates its
    * probe map as it iterates so only the first row per PK inserts
    * (consolidate_invoices.py:494-495). `ordinalCol` defines "first";
    * when absent an arbitrary winner is kept (`dropDuplicates`).
    */
  def dedupFirstWins(incoming: DataFrame, pk: Seq[String],
      ordinalCol: Option[String]): DataFrame = ordinalCol match {
    case Some(ord) if incoming.columns.contains(ord) =>
      val w = Window.partitionBy(pk.map(col): _*).orderBy(col(ord))
      incoming.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    case _ => incoming.dropDuplicates(pk)
  }

  /** J1 — insert-only merge: existing PKs win, new PKs append
    * (consolidate_invoices.py:485-495; README.md:26 "Inserts only new
    * records"). Returns both the full merged view and the inserted slice
    * (only the slice goes to the append sink).
    */
  def insertOnly(existing: DataFrame, incoming: DataFrame, pk: Seq[String],
      ordinalCol: Option[String] = Some("row_index")): Result = {
    val cols = existing.columns.toSeq
      .filterNot(c => c == "status" || ordinalCol.contains(c))
    val deduped = dedupFirstWins(incoming, pk, ordinalCol)
    val newRows = deduped
      .join(existing.select(pk.map(col): _*), pk, "left_anti")
      .select(cols.map(col) :+ lit(RecordStatus.New).as("status"): _*)
    Result(result = insertOnlyView(existing, newRows), inserted = newRows)
  }

  /** J1's merged view from its inserted slice: every existing row, labelled
    * `new` like the slice (the view contract), plus the slice. A caller
    * that materialized the slice reads the view through it instead of
    * re-running the dedup and the anti-join.
    */
  def insertOnlyView(existing: DataFrame, inserted: DataFrame): DataFrame =
    existing.select(inserted.columns.toSeq.map(c =>
        if (c == "status") lit(RecordStatus.New).as(c) else col(c)): _*)
      .unionByName(inserted)

  /** J3 — full upsert, the documented alternate mode (ARCHITECTURE.md:591-626;
    * change machinery at entities.py:101-111): PK match with changed business
    * fields → incoming wins (UPDATED); match unchanged → existing kept
    * (UNCHANGED); no match → insert (NEW). Change detection ignores
    * description and metadata. One full-outer join on the PK.
    */
  def fullUpsert(existing: DataFrame, incoming: DataFrame, pk: Seq[String],
      changeFields: Seq[String],
      ordinalCol: Option[String] = Some("row_index")): Result = {
    val cols = existing.columns.filterNot(c => c == "status" || ordinalCol.contains(c)).toSeq
    val in = dedupFirstWins(incoming, pk, ordinalCol).select(cols.map(col): _*)
    val ex = existing.select(cols.map(col): _*)
    val joined = ex.as("e").join(in.as("i"),
      pk.map(k => col(s"e.$k") <=> col(s"i.$k")).reduce(_ && _), "full_outer")

    val matched = pk.map(k => col(s"i.$k").isNotNull).reduce(_ && _) &&
      pk.map(k => col(s"e.$k").isNotNull).reduce(_ && _)
    val changed = changeFields
      .map(f => !(col(s"e.$f") <=> col(s"i.$f"))).reduce(_ || _)
    val status =
      when(!pk.map(k => col(s"e.$k").isNotNull).reduce(_ && _), RecordStatus.New)
        .when(matched && changed, RecordStatus.Updated)
        .otherwise(RecordStatus.Unchanged)
    val incomingWins = status.isin(RecordStatus.New, RecordStatus.Updated)

    val merged = joined.select(
      cols.map(c => when(incomingWins, col(s"i.$c")).otherwise(col(s"e.$c")).as(c)) :+
        status.as("status"): _*)
    Result(result = merged,
      inserted = merged.filter(col("status") === RecordStatus.New))
  }

  final case class Scd2Result(result: DataFrame, closed: DataFrame,
      opened: DataFrame)

  /** J7 — SCD2 (type-2 slowly-changing) upsert: the history-PRESERVING
    * extension of [[fullUpsert]]. Where J3 overwrites a changed row, J7
    * closes the current version (`valid_to = batchTs`) and opens a new
    * one (`valid_from = batchTs`, `valid_to` open/null) — the standard
    * warehouse pattern when an audit of past states must stay queryable.
    * The reference keeps its entity-level change machinery
    * (entities.py:101-111 `has_changes_vs`) but discards old values on
    * update in the alternate mode; SCD2 is what that machinery supports
    * once history retention is required.
    *
    * Store schema = data columns + `validFrom`/`validTo` (longs on the
    * caller's time axis; open version = null `validTo`). One full-outer
    * join on the PK against the CURRENT slice; closed history rows pass
    * through untouched. Re-applying the same batch is a no-op (all
    * matches compare unchanged) — idempotence under redelivery, spec'd.
    */
  /** Point-in-time read of an SCD2 table (time travel): the rows whose
    * validity interval covers `ts` — `valid_from ≤ ts < valid_to`, with
    * an open version (null `valid_to`) covering everything since its
    * open. A pure scan-stage filter: at 100 TB this rides partition/
    * footer pruning on `valid_from` when the history store is laid out
    * by open time, and never shuffles — reconstruction is a filter, not
    * a join, which is the point of keeping SCD2 interval columns
    * denormalized on every version row.
    */
  def stateAsOf(scd2: DataFrame, ts: Long,
      validFrom: String = "valid_from", validTo: String = "valid_to")
      : DataFrame =
    scd2.filter(col(validFrom) <= ts &&
        (col(validTo).isNull || col(validTo) > ts))
      .drop(validFrom, validTo)

  /** J11 — SCD2 retention vacuum: drop CLOSED versions whose validity
    * ended at or before the watermark. Invariant (the whole point): for
    * every `ts ≥ watermark`, [[stateAsOf]] over the vacuumed store is
    * IDENTICAL to [[stateAsOf]] over the full store — a version with
    * `valid_to ≤ watermark` can cover no such `ts`, and open versions
    * always survive. This is the store-maintenance lever that keeps a
    * 100 TB history table bounded by the retention window instead of
    * all-time churn: a pure scan-stage filter, no shuffle, and when the
    * store is laid out by `valid_to` the dropped versions never even
    * read (footer pruning). Time travel BELOW the watermark is
    * forfeited — that is the retention contract.
    */
  def vacuumScd2(store: DataFrame, watermark: Long,
      validTo: String = "valid_to"): DataFrame =
    store.filter(col(validTo).isNull || col(validTo) > watermark)

  def scd2Upsert(store: DataFrame, incoming: DataFrame, pk: Seq[String],
      changeFields: Seq[String], batchTs: Long,
      validFrom: String = "valid_from", validTo: String = "valid_to",
      ordinalCol: Option[String] = Some("row_index")): Scd2Result = {
    val dataCols = store.columns
      .filterNot(c => c == validFrom || c == validTo).toSeq
    val history = store.filter(col(validTo).isNotNull)
    val current = store.filter(col(validTo).isNull)
    val in = dedupFirstWins(incoming, pk, ordinalCol)
      .select(dataCols.map(col): _*)
    val ex = current.select(dataCols.map(col) :+ col(validFrom): _*)

    val joined = ex.as("e").join(in.as("i"),
      pk.map(k => col(s"e.$k") <=> col(s"i.$k")).reduce(_ && _), "full_outer")
    val ePresent = pk.map(k => col(s"e.$k").isNotNull).reduce(_ && _)
    val iPresent = pk.map(k => col(s"i.$k").isNotNull).reduce(_ && _)
    val changed = changeFields
      .map(f => !(col(s"e.$f") <=> col(s"i.$f"))).reduce(_ || _)

    // one pass over the join: each matched row EXPLODES into its output
    // versions (changed → closed + opened) instead of three filtered
    // re-executions of the join unioned together (measured 2× on j7)
    def row(side: String, from: Column, to: Column) = struct(
      dataCols.map(c => col(s"$side.$c").as(c)) :+
        from.as(validFrom) :+ to.cast("long").as(validTo): _*)
    val curRow = row("e", col(s"e.$validFrom"), lit(null))
    val closedRow = row("e", col(s"e.$validFrom"), lit(batchTs))
    val openedRow = row("i", lit(batchTs), lit(null))
    val merged = joined.select(explode(
      when(ePresent && iPresent && changed, array(closedRow, openedRow))
        .when(ePresent, array(curRow))
        .otherwise(array(openedRow))).as("r"))
      .select(col("r.*"))

    val cols = dataCols :+ validFrom :+ validTo
    Scd2Result(
      result = history.select(cols.map(col): _*).unionByName(merged),
      closed = merged.filter(col(validTo) === batchTs),
      opened = merged.filter(col(validFrom) === batchTs &&
        col(validTo).isNull))
  }

  /** J2 — action-attribution join for the audit trail: label each incoming
    * row by what the merge did to its PK (consolidate_invoices.py:517-548).
    * Missing status (PK vanished, cannot happen post-reconcile) → INSERT,
    * matching the reference's `.get(..., "INSERT")` default.
    */
  def attributeActions(incoming: DataFrame, result: DataFrame,
      pk: Seq[String], rowIndexCol: String = "row_index"): DataFrame = {
    val statusToAction =
      when(col("status") === RecordStatus.Updated, RecordAction.Update)
        .when(col("status") === RecordStatus.Unchanged, RecordAction.Unchanged)
        .otherwise(RecordAction.Insert)
    val lhsCols = (pk ++ Seq(rowIndexCol).filter(incoming.columns.contains)).map(col)
    incoming.select(lhsCols: _*)
      .join(result.select((pk.map(col) :+ statusToAction.as("action")): _*), pk, "left")
      .withColumn("action", coalesce(col("action"), lit(RecordAction.Insert)))
  }

  /** J2 attribution for INSERT-ONLY merges. The insert-only merged view
    * labels EVERY row `new` (kept existing rows included — J1's view
    * contract), so [[attributeActions]]' status lookup would claim
    * INSERT for incoming duplicates the merge actually skipped,
    * contradicting the file log's inserted count. Attribute from the
    * inserted slice instead: the FIRST incoming row (by ordinal) of an
    * inserted PK is the INSERT; every other incoming row — existing PK,
    * or a later in-batch duplicate of a new PK — left the store
    * UNCHANGED.
    */
  def attributeInsertOnly(incoming: DataFrame, inserted: DataFrame,
      pk: Seq[String], rowIndexCol: String = "row_index"): DataFrame = {
    val hasOrd = incoming.columns.contains(rowIndexCol)
    val w = Window.partitionBy(pk.map(col): _*)
      .orderBy(if (hasOrd) col(rowIndexCol) else monotonically_increasing_id())
    val lhsCols = (pk ++ Seq(rowIndexCol).filter(_ => hasOrd)).map(col)
    incoming.select(lhsCols: _*)
      .withColumn("__rn", row_number().over(w))
      .join(inserted.select(pk.map(col): _*).distinct()
        .withColumn("__ins", lit(1)), pk, "left")
      .withColumn("action",
        when(col("__ins").isNotNull && col("__rn") === 1, RecordAction.Insert)
          .otherwise(RecordAction.Unchanged))
      .drop("__rn", "__ins")
  }

  final case class CdcResult(result: DataFrame, applied: DataFrame)

  /** J10 — batch CDC apply: net out a change feed (insert / update /
    * delete rows, LAST change per PK wins by the ordinal) and apply it
    * to the base table in one pass. Upsert semantics for I and U (a U
    * on an absent key inserts — standard change-stream replay), D
    * removes the key, and a D on an absent key is a no-op. This is the
    * batch twin of [[graft.streaming.ChangeDataStream]]: the merge a
    * downstream store runs to catch up from an accumulated change log,
    * extending the reference's insert-only/upsert modes
    * (consolidate_invoices.py:485-515, ARCHITECTURE.md:591-626) with
    * the delete leg neither mode carries.
    *
    * Scale: netting is one PK-window over the BATCH (cost ∝ per-key
    * duplicate depth, the [[dedupFirstWins]] stance — never the base
    * table); the apply is one left-anti probe plus a union. Both are
    * PK-equi shapes: AQE broadcasts the netted batch when it is small
    * and skew-splits otherwise, and the base is never shuffled beyond
    * the anti probe.
    *
    * Malformed feed rows (op outside I/U/D, including NULL) are DROPPED
    * before netting: every surviving probe key is then a real I/U/D, so
    * a corrupt row can neither delete its key (it would otherwise feed
    * the anti probe but miss the `op =!= "D"` upsert slice) nor mask an
    * earlier valid change for the same PK.
    */
  def applyChanges(base: DataFrame, changes: DataFrame, pk: Seq[String],
      opCol: String = "op", ordinalCol: String = "row_index"): CdcResult = {
    val dataCols = base.columns.toSeq
    val w = Window.partitionBy(pk.map(col): _*).orderBy(col(ordinalCol).desc)
    val net = changes.filter(col(opCol).isin("I", "U", "D"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .localCheckpoint(eager = false) // anti probe + upsert slice share it
    val upserts = net.filter(col(opCol) =!= "D")
      .select(dataCols.map(col) :+ col(opCol): _*)
    val kept = base.join(net.select(pk.map(col): _*), pk, "left_anti")
      .select(dataCols.map(col) :+ lit("kept").as(opCol): _*)
    CdcResult(result = kept.unionByName(upserts), applied = upserts)
  }

  /** J5 — lenient re-parse of the consolidated side: rows that fail
    * validation are silently dropped from the merge probe set (they survive
    * physically in the append-only sink) — consolidate_invoices.py:577-587.
    *
    * The probe set is also DEDUPED by PK: the reference builds
    * `{r.primary_key: r}` over the existing list (:480), so legacy
    * duplicate PKs collapse to one row in the merged VIEW (the physical
    * append-only store keeps them). Without this, a duplicate legacy PK
    * re-sent by a source would double-count in reconciliation.
    */
  def lenientExisting(parsedExisting: DataFrame,
      pk: Seq[String] = graft.domain.InvoiceRecord.pk): DataFrame =
    Validate.withErrorColumn(parsedExisting)
      .filter(col("error").isNull).drop("error")
      .dropDuplicates(pk)
}
