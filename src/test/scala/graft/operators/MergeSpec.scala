package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.domain.{RecordAction, RecordStatus}

/** Merge semantics per the reference
  * (smartbots-etl/src/application/use_cases/consolidate_invoices.py:475-548):
  * insert-only (existing PKs win, in-batch dupes first-wins), full upsert
  * (incoming wins on change), audit action attribution.
  */
class MergeSpec extends SparkSpec {
  import spark.implicits._

  private val pk = Seq("invoice_number", "reference_number")

  private def inv(rows: (String, String, String, Int)*) =
    rows.toDF("invoice_number", "reference_number", "carrier_name", "row_index")

  test("J1 insert-only: existing PK wins; new PK appends; in-batch dupe first-wins") {
    val existing = inv(("1", "A", "old-carrier", 0))
    val incoming = inv(
      ("1", "A", "NEW-SHOULD-BE-IGNORED", 1), // PK exists → skipped entirely
      ("2", "B", "first", 2),                 // new
      ("2", "B", "second-dupe", 3))           // in-batch dupe → first wins
    val m = Merge.insertOnly(existing, incoming, pk)

    val result = m.result.orderBy("invoice_number").collect()
    assert(result.length == 2)
    assert(result(0).getAs[String]("carrier_name") == "old-carrier")
    assert(result(1).getAs[String]("carrier_name") == "first")
    assert(result.forall(_.getAs[String]("status") == RecordStatus.New))

    val inserted = m.inserted.collect()
    assert(inserted.length == 1 && inserted(0).getAs[String]("invoice_number") == "2")
  }

  test("J1: empty existing side inserts everything once") {
    val existing = inv().limit(0)
    val incoming = inv(("1", "A", "x", 1), ("1", "A", "y", 2), ("2", "B", "z", 3))
    val m = Merge.insertOnly(existing, incoming, pk)
    assert(m.result.count() == 2 && m.inserted.count() == 2)
  }

  test("J3 full upsert: NEW / UPDATED / UNCHANGED and incoming-wins on update") {
    val existing = inv(("1", "A", "same", 0), ("2", "B", "before", 0))
    val incoming = inv(("1", "A", "same", 1), ("2", "B", "after", 2), ("3", "C", "new", 3))
    val m = Merge.fullUpsert(existing, incoming, pk, Seq("carrier_name"))
    val byPk = m.result.collect()
      .map(r => r.getAs[String]("invoice_number") ->
        (r.getAs[String]("carrier_name"), r.getAs[String]("status"))).toMap
    assert(byPk("1") == (("same", RecordStatus.Unchanged)))
    assert(byPk("2") == (("after", RecordStatus.Updated)))
    assert(byPk("3") == (("new", RecordStatus.New)))
  }

  test("J2 attribution labels each incoming row INSERT/UPDATE/UNCHANGED") {
    val existing = inv(("1", "A", "same", 0), ("2", "B", "before", 0))
    val incoming = inv(("1", "A", "same", 1), ("2", "B", "after", 2), ("3", "C", "new", 3))
    val m = Merge.fullUpsert(existing, incoming, pk, Seq("carrier_name"))
    val actions = Merge.attributeActions(incoming, m.result, pk).collect()
      .map(r => r.getAs[String]("invoice_number") -> r.getAs[String]("action")).toMap
    assert(actions == Map(
      "1" -> RecordAction.Unchanged, "2" -> RecordAction.Update, "3" -> RecordAction.Insert))
  }

  test("A2 reconcile passes on a faithful merge and fails on data loss") {
    val existing = inv(("1", "A", "e", 0)).withColumn("total_amount", lit(100).cast("decimal(18,2)"))
    val incoming = inv(("1", "A", "i", 1), ("2", "B", "i", 2))
      .withColumn("total_amount", lit(100).cast("decimal(18,2)"))
    val m = Merge.insertOnly(existing, incoming, pk)
    val rep = Reconcile.check(incoming, m.result, pk, "total_amount")
    assert(rep.ok && rep.missingPks == 0)

    // drop a source PK from the result → reconciliation must throw
    val lossy = m.result.filter(col("invoice_number") =!= "2")
    intercept[Reconcile.ReconciliationException] {
      Reconcile.check(incoming, lossy, pk, "total_amount")
    }
  }

  test("A2 reconcile report is exact when either side repeats a key") {
    def amounts(rows: (String, String, Option[Int])*) =
      rows.toDF("invoice_number", "reference_number", "total_amount")
    val source = amounts(("1", "A", Some(100)), ("1", "A", Some(5)),
      ("2", "B", Some(50)), ("3", "C", None), (null, "D", Some(9)))
    // key 1 twice, key 2 once, key 3 absent, plus rows of no source key
    // and one whose null field can never match
    val result = amounts(("1", "A", Some(100)), ("1", "A", Some(100)),
      ("2", "B", Some(50)), ("4", "E", Some(7)), (null, "D", Some(9)))
    val rep = intercept[Reconcile.ReconciliationException](
      Reconcile.check(source, result, pk, "total_amount")).report
    // 4 distinct source keys; 3 and the null-keyed one are missing
    assert(rep.sourcePks == 4 && rep.missingPks == 2)
    assert(rep.sourceTotal.compareTo(new java.math.BigDecimal(164)) == 0)
    assert(rep.resultTotal.compareTo(new java.math.BigDecimal(250)) == 0)
  }

  test("A5 roll-up") {
    assert(Reconcile.rollUp(0, 0) == "NO_FILES")
    assert(Reconcile.rollUp(3, 0) == "SUCCESS")
    assert(Reconcile.rollUp(3, 1) == "PARTIAL")
    assert(Reconcile.rollUp(3, 3) == "ERROR")
  }

  private def scd2Store(rows: (String, String, String, Long, Option[Long])*) =
    rows.map { case (i, r, c, f, t) => (i, r, c, f, t.map(Long.box).orNull) }
      .toDF("invoice_number", "reference_number", "carrier_name",
        "valid_from", "valid_to")
      .withColumn("valid_to", col("valid_to").cast("long"))

  test("J7 SCD2: change closes the current version and opens a new one") {
    val store = scd2Store(
      ("1", "A", "carrier-v1", 0L, None),        // will change
      ("2", "B", "steady", 0L, None),            // unchanged redelivery
      ("3", "C", "store-only", 0L, None),        // absent from batch
      ("1", "A", "carrier-v0", -5L, Some(0L)))   // closed history row
    val incoming = inv(
      ("1", "A", "carrier-v2", 1),
      ("2", "B", "steady", 2),
      ("4", "D", "brand-new", 3))
    val m = Merge.scd2Upsert(store, incoming, pk, Seq("carrier_name"), 100L)

    val closed = m.closed.collect().map(r =>
      (r.getString(0), r.getString(2), r.getLong(3), r.getLong(4)))
    assert(closed.toSeq == Seq(("1", "carrier-v1", 0L, 100L)))
    val opened = m.opened.orderBy("invoice_number").collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3)))
    assert(opened.toSeq == Seq(("1", "carrier-v2", 100L), ("4", "brand-new", 100L)))

    val all = m.result.orderBy("invoice_number", "valid_from").collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3),
        Option(r.get(4)).map(_.asInstanceOf[Long])))
    assert(all.toSeq == Seq(
      ("1", "carrier-v0", -5L, Some(0L)),   // history untouched
      ("1", "carrier-v1", 0L, Some(100L)),  // closed at the batch
      ("1", "carrier-v2", 100L, None),      // new current
      ("2", "steady", 0L, None),            // unchanged stays current
      ("3", "store-only", 0L, None),        // absent PK stays current
      ("4", "brand-new", 100L, None)))      // new PK opens
  }

  test("J9 stateAsOf: interval boundaries are [valid_from, valid_to)") {
    val store = scd2Store(
      ("1", "A", "v0", -5L, Some(0L)),  // closed history
      ("1", "A", "v1", 0L, Some(100L)), // closed at 100
      ("1", "A", "v2", 100L, None),     // current
      ("2", "B", "only", 0L, None))
    def at(ts: Long): Set[(String, String)] =
      Merge.stateAsOf(store, ts).collect()
        .map(r => (r.getString(0), r.getString(2))).toSet
    assert(at(-5L) == Set(("1", "v0")),
      s"at its open boundary a version is already live: ${at(-5L)}")
    assert(at(-1L) == Set(("1", "v0")))
    assert(at(0L) == Set(("1", "v1"), ("2", "only"))) // v0 closes AT 0
    assert(at(99L) == Set(("1", "v1"), ("2", "only")))
    assert(at(100L) == Set(("1", "v2"), ("2", "only"))) // v1 closes AT 100
    assert(at(1000L) == Set(("1", "v2"), ("2", "only"))) // open covers
    // every ts reconstructs at most one version per key
    Seq(-5L, 0L, 50L, 100L, 500L).foreach { ts =>
      val dup = Merge.stateAsOf(store, ts)
        .groupBy("invoice_number", "reference_number").count()
        .filter(col("count") > 1).count()
      assert(dup == 0L, s"duplicate versions live at ts=$ts")
    }
  }

  test("J7 SCD2: redelivering the same batch is a no-op (idempotent)") {
    val store = scd2Store(("1", "A", "v1", 0L, None))
    val batch = inv(("1", "A", "v2", 1), ("2", "B", "n", 2))
    val once = Merge.scd2Upsert(store, batch, pk, Seq("carrier_name"), 10L)
    val twice = Merge.scd2Upsert(once.result, batch, pk, Seq("carrier_name"), 20L)
    assert(twice.closed.isEmpty && twice.opened.isEmpty)
    assert(twice.result.count() == once.result.count())
  }

  test("J11 vacuum: asOf(ts >= watermark) identical pre/post vacuum; closed history below it dropped") {
    val store = scd2Store(
      ("1", "A", "v1", 0L, Some(100L)),   // closed before watermark → dropped
      ("1", "A", "v2", 100L, Some(800L)), // closed before watermark → dropped
      ("1", "A", "v3", 800L, None),       // open → kept
      ("2", "B", "w1", 0L, Some(1200L)),  // closes AFTER watermark → kept
      ("2", "B", "w2", 1200L, None))
    val vac = Merge.vacuumScd2(store, watermark = 1000L)
    assert(vac.count() == 3 && store.count() == 5)
    for (ts <- Seq(1000L, 1100L, 1500L)) {
      val full = Merge.stateAsOf(store, ts).orderBy("invoice_number").collect()
      val pruned = Merge.stateAsOf(vac, ts).orderBy("invoice_number").collect()
      assert(full.sameElements(pruned), s"asOf($ts) diverged after vacuum")
    }
  }

  test("J10 CDC apply: last change per PK wins; D deletes; U/I upsert; D on absent key no-op") {
    val base = inv(("1", "A", "old", 0), ("2", "B", "stay", 0), ("3", "C", "doomed", 0))
    val changes = Seq(
      ("1", "A", "updated", 10, "U"),  // existing key → replaced
      ("3", "C", "x", 11, "D"),        // existing key → deleted
      ("4", "D", "new", 12, "I"),      // absent key → inserted
      ("5", "E", "ghost", 13, "D"),    // absent key delete → no-op
      ("6", "F", "born", 14, "I"),     // I superseded by the later D ↓
      ("6", "F", "dead", 15, "D"),
      ("1", "A", "stale", 5, "U")      // earlier ordinal → loses netting
    ).toDF("invoice_number", "reference_number", "carrier_name", "row_index", "op")
    val r = Merge.applyChanges(base, changes, pk)
    val byPk = r.result.collect()
      .map(x => x.getAs[String]("invoice_number") ->
        (x.getAs[String]("carrier_name"), x.getAs[String]("op"))).toMap
    assert(byPk == Map(
      "1" -> (("updated", "U")),
      "2" -> (("stay", "kept")),
      "4" -> (("new", "I"))))
    assert(r.applied.collect().map(_.getAs[String]("invoice_number")).sorted
      .sameElements(Array("1", "4")))
  }

  test("J10 CDC apply: malformed op rows (null / unknown) are dropped, never act as deletes") {
    val base = inv(("1", "A", "keep", 0), ("2", "B", "also", 0))
    val changes = Seq(
      ("1", "A", "junk", 10, null.asInstanceOf[String]), // null op: dropped
      ("2", "B", "junk", 11, "X"),                       // unknown op: dropped
      ("3", "C", "new", 12, "I")                         // valid insert survives
    ).toDF("invoice_number", "reference_number", "carrier_name", "row_index", "op")
    val r = Merge.applyChanges(base, changes, pk)
    val byPk = r.result.collect()
      .map(x => x.getAs[String]("invoice_number") ->
        (x.getAs[String]("carrier_name"), x.getAs[String]("op"))).toMap
    // keys 1 and 2 must SURVIVE UNCHANGED — before the op filter their
    // PKs fed the anti probe while missing the upsert slice, i.e. a
    // malformed row silently deleted its key
    assert(byPk == Map(
      "1" -> (("keep", "kept")),
      "2" -> (("also", "kept")),
      "3" -> (("new", "I"))))
  }

  test("J10 CDC apply is idempotent: replaying the same netted feed changes nothing") {
    val base = inv(("1", "A", "old", 0), ("2", "B", "stay", 0))
    val changes = Seq(("1", "A", "v2", 10, "U"), ("3", "C", "n", 11, "I"))
      .toDF("invoice_number", "reference_number", "carrier_name", "row_index", "op")
    val once = Merge.applyChanges(base, changes, pk).result
    val twice = Merge.applyChanges(once.drop("op"), changes, pk).result
    assert(once.drop("op").orderBy("invoice_number").collect()
      .sameElements(twice.drop("op").orderBy("invoice_number").collect()))
  }
}
