package graft.pipeline

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end pipeline scenarios mirroring the reference's integration
  * suite (smartbots-etl/tests/integration/test_consolidation_flow.py):
  * fresh insert, append-only proof, partial run with a schema-bad file,
  * audit-trail assertions, validation-error routing, reconciliation, and
  * NO_FILES — against a local landing dir of staged-CSV workbooks.
  */
class ConsolidationPipelineSpec extends SparkSpec {

  private def tmp(): Path = Files.createTempDirectory("graft-pipe")

  private def cfg(base: Path) = ConsolidationPipeline.Config(
    landingDir = s"$base/landing",
    consolidatedPath = s"$base/consolidado.parquet",
    auditDir = s"$base/audit",
    lifecycleDir = s"$base/lifecycle")

  /** Simple-tabular staged workbook: 10 filler rows, headers at row 11,
    * data from row 12 (FIXTURES.md §1).
    */
  private def writeSimpleWorkbook(dir: String, name: String,
      rows: Seq[Seq[String]]): Path = {
    val headers = Seq("N° Factura", "N° Referencia", "Transportista",
      "Fecha Factura", "Descripción", "Monto Neto", "IVA", "Monto Total", "Moneda")
    val filler = Seq.fill(10)(Seq.fill(headers.size)(""))
    val all = filler ++ Seq(headers) ++ rows
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    val csv = all.map(_.map(c => "\"" + c.replace("\"", "\"\"") + "\"")
      .mkString(",")).mkString("\n")
    Files.writeString(p, csv)
    p
  }

  private val r1 = Seq("FAC-001", "REF-001", "Transportes Chile Ltda",
    "15-01-2026", "Flete Santiago-Valparaíso", "100000", "19000", "119000", "CLP")
  private val r2 = Seq("FAC-002", "REF-002", "Transportes Chile Ltda",
    "16-01-2026", "Flete Valparaíso-Santiago", "200000", "38000", "238000", "CLP")
  private val r3 = Seq("FAC-003", "REF-003", "Carrier Sur",
    "17-01-2026", "Porteo", "150000", "28500", "178500", "CLP")

  test("fresh insert: 3 rows → 3 INSERTs, SUCCESS, reconciled totals") {
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1, r2, r3))
    val report = ConsolidationPipeline.run(spark, cfg(base))
    assert(report.status == "SUCCESS")
    assert(report.inserted == 3 && report.errors == 0)
    assert(report.sourceTotal == BigDecimal(535500)) // 119000+238000+178500
    val store = spark.read.parquet(s"$base/consolidado.parquet")
    assert(store.count() == 3)
    assert(store.filter(col("invoice_number") === "FAC-001").count() == 1)
  }

  test("append-only proof: updated source row does NOT change stored value") {
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1))
    assert(ConsolidationPipeline.run(spark, cfg(base)).status == "SUCCESS")
    // same PK, changed carrier/description, SAME amounts (a changed amount
    // trips reconciliation by design — covered in the next scenario)
    val r1b = Seq("FAC-001", "REF-001", "CAMBIADO SA",
      "15-01-2026", "descripción nueva", "100000", "19000", "119000", "CLP")
    writeSimpleWorkbook(s"$base/landing", "f2.csv", Seq(r1b, r2))
    val rep2 = ConsolidationPipeline.run(spark, cfg(base))
    assert(rep2.status == "SUCCESS", rep2.toString)
    assert(rep2.inserted == 1) // only FAC-002
    val store = spark.read.parquet(s"$base/consolidado.parquet")
    val kept = store.filter(col("invoice_number") === "FAC-001").collect()
    assert(kept.length == 1)
    assert(kept(0).getAs[String]("carrier_name") == "Transportes Chile Ltda")
    assert(kept(0).getAs[java.math.BigDecimal]("total_amount").longValue == 119000L)
  }

  test("reconcile guard: existing PK redelivered with a CHANGED amount fails the file") {
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1))
    assert(ConsolidationPipeline.run(spark, cfg(base)).status == "SUCCESS")
    val r1Changed = Seq("FAC-001", "REF-001", "Transportes Chile Ltda",
      "15-01-2026", "x", "999", "0", "999", "CLP")
    writeSimpleWorkbook(s"$base/landing", "f2.csv", Seq(r1Changed, r2))
    val rep2 = ConsolidationPipeline.run(spark, cfg(base))
    // reconciliation raises BEFORE the write: whole file errors, store intact
    assert(rep2.status == "ERROR")
    assert(rep2.validationErrors.exists(_.contains("Reconciliación")))
    assert(spark.read.parquet(s"$base/consolidado.parquet").count() == 1)
  }

  test("partial run: one good file + one schema-bad file → PARTIAL") {
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "good.csv", Seq(r1))
    // bad file: wrong headers entirely
    val p = Paths.get(s"$base/landing", "bad.csv")
    Files.createDirectories(p.getParent)
    Files.writeString(p,
      (Seq.fill(10)("\"\",\"\"") ++ Seq("\"Columna_Invalida\",\"Otra\"",
        "\"x\",\"y\"")).mkString("\n"))
    val report = ConsolidationPipeline.run(spark, cfg(base))
    assert(report.status == "PARTIAL")
    assert(report.inserted == 1)
    assert(report.files.count(_.status == "SCHEMA_ERROR") == 1)
  }

  test("validation-error routing: mixed good/bad rows → INSERTs + VALIDATION_ERROR, SUCCESS") {
    val base = tmp()
    val bad = Seq("FAC-009", "REF-009", "Carrier", "INVALID-DATE",
      "x", "100", "0", "100", "CLP")
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1, bad, r2))
    val report = ConsolidationPipeline.run(spark, cfg(base))
    assert(report.status == "SUCCESS")
    assert(report.inserted == 2 && report.errors == 1)
    assert(report.validationErrors.exists(_.contains("Formato de fecha")))

    val tracker = new Audit.Tracker(spark, cfg(base).auditDir)
    val actions = tracker.records.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(actions.get("INSERT").contains(2L))
    assert(actions.get("VALIDATION_ERROR").contains(1L))
  }

  test("audit trail: run + file + record rows with correct counters") {
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1, r2))
    ConsolidationPipeline.run(spark, cfg(base))
    val tracker = new Audit.Tracker(spark, cfg(base).auditDir)
    val run = tracker.runs.collect().head
    assert(run.getAs[String]("status") == "SUCCESS")
    assert(run.getAs[Long]("inserted") == 2)
    val file = tracker.files.collect().head
    assert(file.getAs[String]("status") == "COMPLETED")
    assert(file.getAs[Long]("rows_total") == 2 && file.getAs[Long]("rows_valid") == 2)
    assert(tracker.records.count() == 2)
  }

  test("missing consolidated store without createIfMissing → ERROR run") {
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1))
    val report = ConsolidationPipeline.run(spark, cfg(base), createIfMissing = false)
    assert(report.status == "ERROR")
    assert(report.validationErrors.exists(_.contains("no encontrado")))
    // nothing processed, nothing written
    assert(!Files.exists(Paths.get(cfg(base).consolidatedPath)))
    val tracker = new Audit.Tracker(spark, cfg(base).auditDir)
    assert(tracker.runs.collect().head.getAs[String]("status") == "ERROR")
    // with the default createIfMissing the same landing succeeds
    assert(ConsolidationPipeline.run(spark, cfg(base)).status == "SUCCESS")
  }

  test("idempotence probe: errored files and changed mtimes DO reprocess") {
    // sqlite_tracker.py:116-137 — COMPLETED gates the skip; an ERROR
    // status or a different modified time must both re-process
    val base = tmp()
    val tracker = new Audit.Tracker(spark, cfg(base).auditDir)
    val t1 = new java.sql.Timestamp(1700000000000L)
    val t2 = new java.sql.Timestamp(1700000060000L)
    def log(name: String, mtime: java.sql.Timestamp, status: String): Unit =
      tracker.logFile(Audit.FileLog("run-x", java.util.UUID.randomUUID().toString,
        name, mtime, schema_valid = true, Nil, Nil, 1, 1, 0, status,
        t1, Some(t1)))
    assert(!tracker.isFileProcessed("a.csv", t1), "unknown file must process")
    log("a.csv", t1, "ERROR")
    assert(!tracker.isFileProcessed("a.csv", t1), "errored file must reprocess")
    log("a.csv", t1, "COMPLETED")
    assert(tracker.isFileProcessed("a.csv", t1), "completed file skips")
    assert(!tracker.isFileProcessed("a.csv", t2), "modified file must reprocess")
  }

  test("batched J4 probe answers exactly as the per-file probe") {
    // the per-file query the probe ran before it was batched: one filter
    // on (name, mtime), latest started_at per status, same driver rule
    val base = tmp()
    val tracker = new Audit.Tracker(spark, cfg(base).auditDir)
    def perFile(name: String, mtime: java.sql.Timestamp): Boolean = {
      val byTime = tracker.files.filter(col("file_name") === name &&
          col("file_modified_time") === mtime)
        .groupBy(col("status")).agg(max(col("started_at")))
        .collect().map(r => r.getString(0) -> r.getTimestamp(1)).toMap
      byTime.get("COMPLETED").exists(done =>
        !byTime.get("ROLLED_BACK").exists(rb => !rb.before(done)))
    }
    val t1 = new java.sql.Timestamp(1700000000000L)
    val t2 = new java.sql.Timestamp(1700000060000L)
    def at(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    def log(name: String, mtime: java.sql.Timestamp, status: String,
        started: java.sql.Timestamp): Unit =
      tracker.logFile(Audit.FileLog("run-x", java.util.UUID.randomUUID().toString,
        name, mtime, schema_valid = true, Nil, Nil, 1, 1, 0, status,
        started, Some(started)))
    val listing = Seq("unknown.csv" -> t1, "errored.csv" -> t1,
      "done.csv" -> t1, "done.csv" -> t2, "rolled.csv" -> t1,
      "redone.csv" -> t1, "tie.csv" -> t1, "error-after.csv" -> t1)
    // no audit table yet: nothing is processed
    assert(tracker.processedFiles(listing).isEmpty)
    log("errored.csv", t1, "ERROR", at(1))
    log("done.csv", t1, "COMPLETED", at(1))
    log("rolled.csv", t1, "COMPLETED", at(1))
    log("rolled.csv", t1, "ROLLED_BACK", at(2))
    log("redone.csv", t1, "COMPLETED", at(1))
    log("redone.csv", t1, "ROLLED_BACK", at(2))
    log("redone.csv", t1, "COMPLETED", at(3))
    log("tie.csv", t1, "COMPLETED", at(1))
    log("tie.csv", t1, "ROLLED_BACK", at(1))
    log("error-after.csv", t1, "COMPLETED", at(1))
    log("error-after.csv", t1, "ERROR", at(2))
    val batched = tracker.processedFiles(listing)
    assert(batched == listing.filter { case (n, t) => perFile(n, t) }.toSet)
    assert(batched == Set("done.csv" -> t1, "redone.csv" -> t1,
      "error-after.csv" -> t1))
    listing.foreach { case (n, t) =>
      assert(tracker.isFileProcessed(n, t) == batched.contains(n -> t), s"$n@$t")
    }
  }

  /** Runs `body` and returns the Spark jobs it started, one
    * (SQL execution id, SQL call site) pair per job — (-1, "") for a job
    * outside SQL. Jobs of other threads are ignored.
    */
  private def jobsOf[T](body: => T): (T, Seq[(Long, String)]) = {
    val tag = s"spec-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val jobSites = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) {
          jobs.add(e.jobId)
          Option(e.properties.getProperty("spark.sql.execution.id"))
            .map(_.toLong).foreach(id =>
              jobSites.put(e.jobId, id -> Option(sqlSites.get(id)).getOrElse("")))
        }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            sqlSites.put(x.executionId, x.description)
          case _ =>
        }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(sc)
      (out, jobs.asScala.toSeq.sorted.map(j =>
        Option(jobSites.get(j)).getOrElse((-1L, ""))))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  test("job budget: a run spends at most 24 Spark jobs per processed file") {
    // small files cost job dispatch, not data: the head is one read, the
    // extraction one checkpoint with observed counters, the J4 probe one
    // query per run. One job per lookup and per counter cost 97 jobs on
    // this folder (48.5 per file); one plan per phase costs 34.
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "a.csv", Seq(r1, r2))
    val bad = Seq("FAC-009", "REF-009", "Carrier", "INVALID-DATE",
      "x", "100", "0", "100", "CLP")
    writeSimpleWorkbook(s"$base/landing", "b.csv", Seq(r3, bad))
    val (report, jobs) = jobsOf(ConsolidationPipeline.run(spark, cfg(base)))
    assert(report.status == "SUCCESS" && report.files.size == 2, report.toString)
    assert(jobs.nonEmpty)
    assert(jobs.size <= 24 * 2, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
  }

  test("a workbook with headers and no data rows completes with zero counters") {
    // every observed counter must still report when its job sees no rows
    for (mode <- Seq("insert-only", "upsert")) {
      val base = tmp()
      val c = cfg(base).copy(mergeMode = mode)
      writeSimpleWorkbook(s"$base/landing", "seed.csv", Seq(r1))
      assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
      writeSimpleWorkbook(s"$base/landing", "empty.csv", Nil)
      val rep = ConsolidationPipeline.run(spark, c)
      assert(rep.status == "SUCCESS", s"$mode: $rep")
      val o = rep.files.head
      assert(o.status == "COMPLETED" && o.rowsTotal == 0 && o.inserted == 0 &&
        o.updated == 0 && o.unchanged == 0 && o.sourceTotal == BigDecimal(0), s"$mode: $o")
    }
  }

  test("counters equal the record_log actions in both merge modes") {
    for (mode <- Seq("insert-only", "upsert")) {
      val base = tmp()
      val c = cfg(base).copy(mergeMode = mode)
      // seed: r3 stays a store row no later file touches
      writeSimpleWorkbook(s"$base/landing", "seed.csv", Seq(r1, r3))
      assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
      // no errors (the error sample must not run); more than errorCap
      // errors (truncation tail); a redelivered PK with a changed carrier
      // (UPDATE in upsert mode, UNCHANGED in insert-only)
      val f4 = Seq("FAC-004", "REF-004", "Carrier Norte", "18-01-2026",
        "x", "1000", "190", "1190", "CLP")
      writeSimpleWorkbook(s"$base/landing", "clean.csv", Seq(r2, f4))
      val bad = (1 to ConsolidationPipeline.errorCap + 3).map(i => Seq(
        s"FAC-B$i", s"REF-B$i", "Carrier X", "NO-ES-FECHA", "x", "1000", "190",
        "1190", "CLP"))
      val f5 = Seq("FAC-005", "REF-005", "Carrier Sur", "19-01-2026",
        "x", "2000", "380", "2380", "CLP")
      writeSimpleWorkbook(s"$base/landing", "errors.csv", f5 +: bad)
      val r1Carrier = r1.updated(2, "Transportes Nuevos SpA")
      writeSimpleWorkbook(s"$base/landing", "update.csv", Seq(r1Carrier))

      val (rep, jobs) = jobsOf(ConsolidationPipeline.run(spark, c))
      assert(rep.status == "SUCCESS", s"$mode: $rep")
      assert(rep.files.map(_.fileName).toSet ==
        Set("clean.csv", "errors.csv", "update.csv"), mode)
      val tracker = new Audit.Tracker(spark, c.auditDir)
      val logs = tracker.files.filter(col("run_uuid") === rep.runUuid).collect()
      val actions = tracker.records.filter(col("run_uuid") === rep.runUuid)
        .groupBy("file_log_id", "action").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      rep.files.foreach { o =>
        val log = logs.find(_.getAs[String]("file_name") == o.fileName).get
        val id = log.getAs[String]("file_log_id")
        def n(a: String) = actions.getOrElse((id, a), 0L)
        val ctx = s"$mode ${o.fileName}: $o vs ${actions.filter(_._1._1 == id)}"
        assert(log.getAs[Long]("rows_total") == o.rowsTotal, ctx)
        assert(log.getAs[Long]("rows_valid") == o.rowsValid, ctx)
        assert(log.getAs[Long]("rows_error") == o.rowsError, ctx)
        assert(o.rowsTotal == n("INSERT") + n("UPDATE") + n("UNCHANGED") +
          n("VALIDATION_ERROR"), ctx)
        assert(o.rowsValid == n("INSERT") + n("UPDATE") + n("UNCHANGED"), ctx)
        assert(o.rowsError == n("VALIDATION_ERROR"), ctx)
        assert(o.inserted == n("INSERT"), ctx)
        assert(o.updated == n("UPDATE"), ctx)
        assert(o.unchanged == n("UNCHANGED"), ctx)
      }
      val byName = rep.files.map(o => o.fileName -> o).toMap
      assert(byName("clean.csv").inserted == 2 && byName("clean.csv").rowsError == 0)
      assert(byName("errors.csv").rowsError == ConsolidationPipeline.errorCap + 3)
      assert(byName("errors.csv").errorDetail.last == "... y 3 más")
      val upd = byName("update.csv")
      if (mode == "upsert") assert(upd.updated == 1 && upd.unchanged == 0, upd.toString)
      else assert(upd.updated == 0 && upd.unchanged == 1, upd.toString)
      // the error sample is the pipeline's only collect: it ran for the
      // one file with errors and was skipped for the other two
      val samples = jobs.filter(_._2.startsWith("collect at ConsolidationPipeline"))
        .map(_._1).distinct
      assert(samples.size == 1, s"$mode: ${jobs.mkString("\n")}")
    }
  }

  test("idempotence: re-running the same file (same mtime) is a no-op") {
    val base = tmp()
    val f = writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1))
    val c = cfg(base)
    assert(ConsolidationPipeline.run(spark, c).inserted == 1)
    // the file was archived; put an IDENTICAL copy (same name+mtime) back
    val archived = Files.walk(Paths.get(c.lifecycleDir)).iterator()
    val backup = archived.asInstanceOf[java.util.Iterator[Path]]
    var found: Option[Path] = None
    while (backup.hasNext) {
      val p = backup.next()
      if (p.getFileName.toString == "f1.csv" && Files.isRegularFile(p)) found = Some(p)
    }
    val dst = Paths.get(c.landingDir, "f1.csv")
    Files.copy(found.get, dst)
    Files.setLastModifiedTime(dst, Files.getLastModifiedTime(found.get))
    val rep2 = ConsolidationPipeline.run(spark, c)
    assert(rep2.inserted == 0)
    assert(spark.read.parquet(c.consolidatedPath).count() == 1)
  }

  test("error channel caps at 20 details + 'y N más' tail; full count still reported") {
    val base = tmp()
    // 25 invalid rows (unparseable date → validation error, NOT the P5
    // take-while stop a blank invoice number would trigger) + 2 valid —
    // detail must cap at errorCap without collecting the whole channel
    val bad = (1 to 25).map(i => Seq(s"FAC-B$i", s"REF-B$i", "Carrier X",
      "NO-ES-FECHA", "x", "1000", "190", "1190", "CLP"))
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1, r2) ++ bad)
    val report = ConsolidationPipeline.run(spark, cfg(base))
    assert(report.status == "SUCCESS", report.toString)
    assert(report.errors == 25 && report.inserted == 2)
    val detail = report.files.head.errorDetail
    assert(detail.size == ConsolidationPipeline.errorCap + 1, detail.mkString("\n"))
    assert(detail.last == "... y 5 más")
    assert(detail.init.forall(_.startsWith("f1.csv fila ")))
  }

  test("store compaction: many-run small files rewrite into one, data unchanged") {
    val base = tmp()
    val c = cfg(base)
    // five runs, each appending its own part files
    val rows = Seq(r1, r2, r3)
    for (i <- 1 to 5) {
      val rI = Seq(s"FAC-10$i", s"REF-10$i", "Carrier C",
        "15-01-2026", "x", "1000", "190", "1190", "CLP")
      writeSimpleWorkbook(s"$base/landing", s"f$i.csv", Seq(rI))
      assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
    }
    val before = StoreMaintenance.partFileCount(c.consolidatedPath)
    assert(before >= 5, s"expected ≥5 small files, got $before")
    val data = spark.read.parquet(c.consolidatedPath)
      .select("invoice_number", "total_amount").collect().toSet

    val after = StoreMaintenance.compact(spark, c.consolidatedPath)
    assert(after == 1, s"expected 1 compacted file, got $after")
    val dataAfter = spark.read.parquet(c.consolidatedPath)
      .select("invoice_number", "total_amount").collect().toSet
    assert(dataAfter == data)
    // the pipeline keeps appending fine after compaction
    writeSimpleWorkbook(s"$base/landing", "f9.csv", Seq(r1))
    assert(ConsolidationPipeline.run(spark, c).inserted == 1)
  }

  test("audit compaction cadence: part files shrink, audit queries and J4 probe unchanged") {
    val base = tmp()
    // compaction fires on the 4th run (cadence 4); runs 1-3 accumulate
    // one part per table append
    val c = cfg(base).copy(auditCompactEveryRuns = 4)
    for (i <- 1 to 3) {
      val rI = Seq(s"FAC-20$i", s"REF-20$i", "Carrier D",
        "15-01-2026", "x", "1000", "190", "1190", "CLP")
      writeSimpleWorkbook(s"$base/landing", s"g$i.csv", Seq(rI))
      assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
    }
    val tracker = new Audit.Tracker(spark, c.auditDir)
    def auditSnapshot() = (
      tracker.runs.select("run_uuid", "status", "inserted").collect().toSet,
      tracker.files.select("file_name", "status").collect().toSet,
      tracker.records.select("invoice_number", "action").collect().toSet)
    val before = auditSnapshot()
    def parts(t: String) = StoreMaintenance.partFileCount(s"${c.auditDir}/$t")
    assert(parts("file_log") >= 3, s"expected ≥3 file_log parts, got ${parts("file_log")}")

    // 4th run triggers the cadence inside the pipeline itself
    writeSimpleWorkbook(s"$base/landing", "g4.csv", Seq(r1))
    assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
    assert(parts("execution_runs") == 1 && parts("file_log") == 1
      && parts("record_log") == 1,
      s"audit tables not compacted: runs=${parts("execution_runs")} " +
        s"files=${parts("file_log")} records=${parts("record_log")}")

    // every pre-compaction audit row survived (run 4's rows are extra)
    val after = auditSnapshot()
    assert(before._1.subsetOf(after._1) && before._2.subsetOf(after._2)
      && before._3.subsetOf(after._3))
    // the rollback-aware J4 probe still sees pre-compaction completions:
    // re-landing g1.csv with its archived mtime skips as idempotent
    val archived = Files.walk(Paths.get(c.lifecycleDir)).iterator()
    var found: Option[Path] = None
    while (archived.hasNext) {
      val p = archived.next()
      if (p.getFileName.toString == "g1.csv" && Files.isRegularFile(p)) found = Some(p)
    }
    val dst = Paths.get(c.landingDir, "g1.csv")
    Files.copy(found.get, dst)
    Files.setLastModifiedTime(dst, Files.getLastModifiedTime(found.get))
    val rep = ConsolidationPipeline.run(spark, c)
    assert(rep.inserted == 0, s"compaction must not forget completions: $rep")
  }

  test("every run leaves a rendered HTML notification artifact (S9)") {
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1))
    val report = ConsolidationPipeline.run(spark, cfg(base))
    val dir = Paths.get(s"$base/audit/notifications")
    val files = Files.list(dir).iterator()
    assert(files.hasNext)
    val html = Files.readString(Files.list(dir).iterator().next())
    assert(html.contains(report.runUuid))
    assert(html.contains("exitosamente")) // SUCCESS template selected
    assert(html.contains("{ margin: 0;")) // CSS braces survived
  }

  test("upsert mode (J3): changed fields update in place, new PKs insert") {
    val base = tmp()
    val c = cfg(base).copy(mergeMode = "upsert")
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1))
    assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
    val r1Changed = Seq("FAC-001", "REF-001", "Transportes Chile Ltda",
      "15-01-2026", "x", "120000", "22800", "142800", "CLP")
    writeSimpleWorkbook(s"$base/landing", "f2.csv", Seq(r1Changed, r2))
    val rep2 = ConsolidationPipeline.run(spark, c)
    assert(rep2.status == "SUCCESS", rep2.toString)
    assert(rep2.inserted == 1 && rep2.updated == 1)
    val store = spark.read.parquet(c.consolidatedPath)
    assert(store.count() == 2)
    val f1 = store.filter(col("invoice_number") === "FAC-001").collect().head
    assert(f1.getAs[java.math.BigDecimal]("total_amount").longValue == 142800L)
  }

  test("restore-on-failure: failed upsert overwrite rolls the store back to pre-run backup") {
    val base = tmp()
    val c = cfg(base).copy(mergeMode = "upsert")
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1))
    assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
    val before = spark.read.parquet(c.consolidatedPath)
      .select("invoice_number", "total_amount").collect().toSet

    // inject a write failure: partitionBy on a column that doesn't exist
    // fails the overwrite after merge/reconcile succeeded
    val broken = c.copy(partitionBy = Seq("no_such_column"))
    writeSimpleWorkbook(s"$base/landing", "f2.csv", Seq(r2))
    val rep2 = ConsolidationPipeline.run(spark, broken)
    assert(rep2.status != "SUCCESS")

    val after = spark.read.parquet(c.consolidatedPath)
      .select("invoice_number", "total_amount").collect().toSet
    assert(after == before, "store must be back to the pre-run state")
  }

  test("Lifecycle.restoreBackup: damaged store moves aside, backup copies back") {
    val base = tmp()
    val lc = new Lifecycle(s"$base/lifecycle")
    val store = Paths.get(s"$base/store.parquet")
    Files.createDirectories(store)
    Files.writeString(store.resolve("part-0"), "good")
    lc.initBackupFolder()
    val runId = "abcdef12-run"
    assert(lc.backupConsolidated(store.toString, runId).isDefined)
    // corrupt the store
    Files.writeString(store.resolve("part-0"), "CORRUPT")
    Files.writeString(store.resolve("junk"), "x")
    assert(lc.restoreBackup(store.toString, runId))
    assert(Files.readString(store.resolve("part-0")) == "good")
    assert(!Files.exists(store.resolve("junk")))
    // forensic copy of the damaged store is kept
    assert(Files.exists(Paths.get(s"$base/store.parquet_corrupt_abcdef12")))
    // no backup for that run → false, store untouched
    assert(!lc.restoreBackup(store.toString, "ffffffff-other-run"))
    assert(Files.readString(store.resolve("part-0")) == "good")
  }

  test("typed core: canonical rows lift into Dataset[InvoiceRecord]") {
    val base = tmp()
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1, r2))
    ConsolidationPipeline.run(spark, cfg(base))
    val ds = graft.domain.InvoiceRecord.typed(
      spark.read.parquet(s"$base/consolidado.parquet"))
    val recs = ds.collect().sortBy(_.invoice_number)
    assert(recs.length == 2)
    assert(recs.head.invoice_number == "FAC-001")
    assert(recs.head.total_amount.longValue == 119000L)
  }

  test("legacy duplicate PKs in the store dedupe in the probe view (J5), not on disk") {
    val base = tmp()
    val c = cfg(base)
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1))
    assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
    // simulate a legacy duplicate PK row appended directly to the store
    val store = spark.read.parquet(c.consolidatedPath)
    store.write.mode("append").parquet(c.consolidatedPath)
    assert(spark.read.parquet(c.consolidatedPath).count() == 2)
    // re-send the same PK (same amounts) + one new row: without the probe
    // dedupe the duplicate would double-count in reconciliation and fail
    writeSimpleWorkbook(s"$base/landing", "f2.csv", Seq(r1, r2))
    val rep = ConsolidationPipeline.run(spark, c)
    assert(rep.status == "SUCCESS", rep.toString)
    assert(rep.inserted == 1) // only FAC-002
    // the physical store keeps the legacy dupes (append-only)
    val byPk = spark.read.parquet(c.consolidatedPath)
      .groupBy("invoice_number").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPk("FAC-001") == 2 && byPk("FAC-002") == 1)
  }

  test("date-partitioned store: layout on disk + partition pruning on date filters") {
    val base = tmp()
    val c = cfg(base).copy(partitionBy = Seq("invoice_date"))
    writeSimpleWorkbook(s"$base/landing", "f1.csv", Seq(r1, r2, r3))
    assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")

    // physical layout: one directory per invoice_date
    val dirs = java.nio.file.Files.list(
        java.nio.file.Paths.get(c.consolidatedPath)).iterator()
    var partDirs = 0
    while (dirs.hasNext) {
      if (dirs.next().getFileName.toString.startsWith("invoice_date=")) partDirs += 1
    }
    assert(partDirs == 3)

    // a date-scoped read prunes: PartitionFilters carries the predicate
    val pruned = spark.read.parquet(c.consolidatedPath)
      .filter(col("invoice_date") === java.sql.Date.valueOf("2026-01-15"))
    val scan = pruned.queryExecution.sparkPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.exists(_.partitionFilters.nonEmpty),
      pruned.queryExecution.sparkPlan.toString)
    assert(pruned.count() == 1)
    // second run still merges correctly against the partitioned store
    writeSimpleWorkbook(s"$base/landing", "f2.csv",
      Seq(Seq("FAC-009", "REF-009", "Carrier X", "18-01-2026", "d", "50", "0", "50", "CLP")))
    assert(ConsolidationPipeline.run(spark, c).inserted == 1)
    assert(spark.read.parquet(c.consolidatedPath).count() == 4)
  }

  test("run-level rollback: mid-run store failure aborts the run and reopens earlier files") {
    // Scenario from the reference's run-level restore contract
    // (consolidate_invoices.py:147-155): file A merges fine, file B's
    // store write fails → the pre-run backup restore rewinds A's rows
    // too, so the run must abort, report ERROR + rollback, supersede A's
    // COMPLETED log (else J4 would skip A forever = silent data loss),
    // and a later run must re-merge A.
    val base = tmp()
    val c = cfg(base)

    // seed run: the pre-run state the rollback must rewind to
    writeSimpleWorkbook(s"$base/landing", "f0.csv", Seq(r3))
    assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")
    val seeded = spark.read.parquet(c.consolidatedPath)
      .select("invoice_number").collect().map(_.getString(0)).toSet
    assert(seeded == Set("FAC-003"))

    // run 2: a.csv (newer mtime → processed first) merges, b.csv fails
    val fa = writeSimpleWorkbook(s"$base/landing", "a.csv", Seq(r1))
    val fb = writeSimpleWorkbook(s"$base/landing", "b.csv", Seq(r2))
    Files.setLastModifiedTime(fa,
      java.nio.file.attribute.FileTime.fromMillis(1700000060000L))
    Files.setLastModifiedTime(fb,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L))
    val aMtime = new java.sql.Timestamp(1700000060000L)
    val failing = c.copy(beforeStoreWrite = name =>
      if (name == "b.csv") sys.error("disco lleno"))
    val rep = ConsolidationPipeline.run(spark, failing)

    assert(rep.status == "ERROR", rep.toString)
    assert(rep.files.map(f => f.fileName -> f.status).toMap ==
      Map("a.csv" -> "ROLLED_BACK", "b.csv" -> "ERROR"))
    // store is byte-for-byte back at the pre-run state: A's rows are gone
    val after = spark.read.parquet(c.consolidatedPath)
      .select("invoice_number").collect().map(_.getString(0)).toSet
    assert(after == Set("FAC-003"), "restore must rewind file A's merge")
    // run log records the rollback
    val tracker = new Audit.Tracker(spark, c.auditDir)
    val runRow = tracker.runs.orderBy(col("started_at").desc).collect().head
    assert(runRow.getAs[String]("status") == "ERROR")
    assert(runRow.getAs[String]("message") == "rollback_executed")
    // A's COMPLETED log is superseded → the J4 probe reopens it
    assert(!tracker.isFileProcessed("a.csv", aMtime),
      "rolled-back file must reprocess next run")

    // BOTH files must be physically back in landing: the errored b.csv
    // returns from En Proceso/, and the rolled-back a.csv is restored
    // from the run's backup — stranded anywhere else their rows would be
    // lost forever even though the J4 probe answers "reprocess"
    assert(Files.exists(Paths.get(s"$base/landing/b.csv")),
      "errored file must return to landing for retry")
    assert(Files.exists(Paths.get(s"$base/landing/a.csv")),
      "rolled-back file must restore from backup to landing")

    // run 3: the restored a.csv re-merges AND the returned b.csv
    // retries successfully — no silent loss of either file, with no
    // manual re-delivery
    val rep3 = ConsolidationPipeline.run(spark, c)
    assert(rep3.status == "SUCCESS", rep3.toString)
    assert(rep3.inserted == 2, rep3.toString)
    val finalSet = spark.read.parquet(c.consolidatedPath)
      .select("invoice_number").collect().map(_.getString(0)).toSet
    assert(finalSet == Set("FAC-003", "FAC-001", "FAC-002"))
  }

  test("rollback with a missing backup copy is LOUD: unrecoverable file reported, not silent") {
    // Same shape as the run-level rollback test, but a.csv's archived
    // copy vanishes from the run's backup folder before the failure —
    // the restore-to-landing then has no bytes anywhere, which must
    // surface as an error on the outcome instead of a routine-looking
    // ROLLED_BACK (the silent-loss hole the restore check closes)
    val base = tmp()
    val c = cfg(base)
    writeSimpleWorkbook(s"$base/landing", "f0.csv", Seq(r3))
    assert(ConsolidationPipeline.run(spark, c).status == "SUCCESS")

    val fa = writeSimpleWorkbook(s"$base/landing", "a.csv", Seq(r1))
    val fb = writeSimpleWorkbook(s"$base/landing", "b.csv", Seq(r2))
    Files.setLastModifiedTime(fa,
      java.nio.file.attribute.FileTime.fromMillis(1700000060000L))
    Files.setLastModifiedTime(fb,
      java.nio.file.attribute.FileTime.fromMillis(1700000000000L))
    val failing = c.copy(beforeStoreWrite = name =>
      if (name == "b.csv") {
        // a.csv is already archived at this point — delete its backup
        // copy to simulate the lost-bytes window, then fail the store
        scala.util.Using.resource(
          Files.walk(Paths.get(s"$base/lifecycle/Respaldo")))(
          _.iterator().asScala.toSeq)
          .filter(p => p.getFileName.toString == "a.csv")
          .foreach(p => Files.delete(p))
        sys.error("disco lleno")
      })
    val rep = ConsolidationPipeline.run(spark, failing)

    assert(rep.status == "ERROR", rep.toString)
    val aOutcome = rep.files.find(_.fileName == "a.csv").get
    assert(aOutcome.status == "ROLLED_BACK")
    assert(aOutcome.errorDetail.exists(_.contains("copia de seguridad ausente")),
      s"missing-backup rollback must carry a loud error: $aOutcome")
    assert(rep.validationErrors.exists(_.contains("copia de seguridad ausente")),
      s"run-level errors must surface the lost file: ${rep.validationErrors}")
    // and indeed nothing could be restored to landing
    assert(!Files.exists(Paths.get(s"$base/landing/a.csv")))
  }

  test("NO_FILES: empty landing dir → NO_FILES status, zero inserts") {
    val base = tmp()
    Files.createDirectories(Paths.get(s"$base/landing"))
    val report = ConsolidationPipeline.run(spark, cfg(base))
    assert(report.status == "NO_FILES")
    assert(report.totalFiles == 0 && report.inserted == 0)
  }

  test("mixed-format workbook: fixed cells broadcast, F7 total override, summary rows dropped") {
    val base = tmp()
    // build a mixed sheet: C6 carrier, G3 date, C8 invoice, H6 ship, F4 aprobado
    def row(cells: (Int, String)*): Seq[String] = {
      val m = cells.toMap
      (1 to 10).map(i => m.getOrElse(i, ""))
    }
    val headers = Seq("Fecha Servicio", "Órdenes de Embarque", "Guías de Despacho",
      "Flete($)", "Porteo($)", "Total Servicio ($)", "Observaciones", "", "", "")
    val sheet = Seq(
      row(),                                    // 1
      row(),                                    // 2
      row(7 -> "15-01-2026"),                   // 3: G3
      row(6 -> "Aprobado por: Juan Pérez"),     // 4: F4
      row(),                                    // 5
      row(3 -> "Transportes Chile Ltda", 8 -> "MSC GÜLSÜN"), // 6: C6, H6
      row(),                                    // 7
      row(3 -> "FAC-100"),                      // 8: C8
      row(), row(),                             // 9, 10
      headers,                                  // 11: header row
      Seq("01-01-2026", "OE-1", "G-1", "1000", "500", "0", "obs", "", "", ""),
      Seq("02-01-2026", "OE-2", "G-2", "0", "0", "9999", "", "", "", ""),
      Seq("", "", "", "", "", "", "", "", "", ""),             // empty row
      Seq("TOTAL NETO", "OE-X", "", "", "", "", "", "", "", "")) // summary row
    val p = Paths.get(s"$base/landing", "mixed.csv")
    Files.createDirectories(p.getParent)
    Files.writeString(p, sheet.map(_.map(c => "\"" + c + "\"").mkString(",")).mkString("\n"))

    val report = ConsolidationPipeline.run(spark, cfg(base))
    assert(report.status == "SUCCESS", report.toString)
    assert(report.inserted == 2)
    val store = spark.read.parquet(s"$base/consolidado.parquet")
      .orderBy("reference_number").collect()
    assert(store.forall(_.getAs[String]("invoice_number") == "FAC-100"))
    assert(store.forall(_.getAs[String]("carrier_name") == "Transportes Chile Ltda"))
    assert(store.forall(_.getAs[String]("aprobado_por") == "Juan Pérez"))
    // F7: row 1 component sum 1500; row 2 explicit total 9999
    assert(store(0).getAs[java.math.BigDecimal]("total_amount").longValue == 1500L)
    assert(store(1).getAs[java.math.BigDecimal]("total_amount").longValue == 9999L)
  }
}
