package graftbench

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.domain.InvoiceRecord
import graft.operators.{Merge, Reconcile, Validate}
import graft.pipeline.{Audit, Lifecycle}
import graft.sources.{OfficialFormatExtract, StagedWorkbook, XlsxIngress}

/** Per-layer probes of the traced run: timed calls into each module's
  * public functions over a freshly seeded landing folder, every output
  * materialized, one span per call. Figures are sums over the folder.
  */
object Probes {

  def consolidate(spark: SparkSession, plan: Plan, layout: Layout,
      tracer: Tracer, listener: PassListener): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def jobsSeen(): Double = {
      org.apache.spark.BenchBusBridge.drain(spark.sparkContext)
      listener.snapshot(0L, 0L)("spark.jobs")
    }
    /** Times `body` into `<key>_s`; source-layer calls also count jobs. */
    def timed[T](key: String)(body: => T): T = tracer.span(key) {
      val jobs0 = if (key.startsWith("sources.")) jobsSeen() else 0.0
      val t0 = System.nanoTime()
      val out = body
      acc(s"${key}_s") += (System.nanoTime() - t0) / 1e9
      if (key.startsWith("sources.")) acc("sources.jobs") += jobsSeen() - jobs0
      out
    }
    listener.reset()
    val tracker = new Audit.Tracker(spark, layout.audit.toString)
    val store = spark.read.parquet(layout.store.toString)
    val skipped = plan.expect.skipped.toSet

    plan.files.foreach { f => tracer.span("probe.file") {
      timed("audit.probe") { tracker.isFileProcessed(f.name, new Timestamp(f.mtimeMs)) }
      if (!skipped.contains(f.name)) {
        val path = layout.landing.resolve(f.name).toString
        val sheet = timed("sources.stage") {
          (if (f.format == "xlsx") XlsxIngress.stage(spark, path)
          else StagedWorkbook.fromCsv(spark, path)).localCheckpoint()
        }
        val extracted = timed("sources.extract") {
          val fc = StagedWorkbook.fixedCells(sheet)
          val mixed = StagedWorkbook.isMixedFormat(fc)
          val headerRow =
            if (mixed) StagedWorkbook.discoverHeaderRow(sheet, "Órdenes de Embarque",
              OfficialFormatExtract.MixedKnownHeaders)
            else StagedWorkbook.discoverHeaderRow(sheet, "N° Factura",
              OfficialFormatExtract.SimpleColumns.toSet)
          val detail = StagedWorkbook.table(sheet, headerRow)
          val required = if (mixed) Seq("Órdenes de Embarque")
            else Seq("N° Factura", "N° Referencia", "Transportista", "Monto Total")
          if (!StagedWorkbook.validateSchema(detail.columns.toSeq, required)._1) None
          else Some((if (mixed) OfficialFormatExtract.mixedFormat(detail, fc)
            else OfficialFormatExtract.simpleTabular(detail)).localCheckpoint())
        }
        extracted.foreach { ex =>
          acc("sources.rows_out") += ex.count()
          val valid = timed("operators.validate") {
            val s = Validate.split(ex)
            s.errors.count()
            s.valid.localCheckpoint()
          }
          acc("rows.valid") += valid.count()
          val present = valid.columns.toSet
          val aligned = valid.select(store.schema.fields.map(c =>
            if (present.contains(c.name)) col(c.name).cast(c.dataType).as(c.name)
            else lit(null).cast(c.dataType).as(c.name)).toSeq :+ col("row_index"): _*)
          val merged = timed("operators.merge") {
            val m = Merge.insertOnly(Merge.lenientExisting(store), aligned, InvoiceRecord.pk)
            acc("rows.inserted") += m.inserted.count()
            m.result.localCheckpoint()
          }
          timed("operators.reconcile") {
            Reconcile.check(valid, merged, InvoiceRecord.pk, "total_amount")
          }
        }
      }
    }}

    val probeAudit = new Audit.Tracker(spark, layout.root.resolve("probe-audit").toString)
    plan.files.foreach { f =>
      val now = new Timestamp(System.currentTimeMillis())
      timed("audit.write") {
        probeAudit.logFile(Audit.FileLog("probe-run", s"probe-${f.name}", f.name,
          new Timestamp(f.mtimeMs), schema_valid = true, Nil, Nil, 0, 0, 0,
          "COMPLETED", now, Some(now)))
      }
    }
    val lifecycle = new Lifecycle(layout.lifecycle.toString)
    lifecycle.initBackupFolder()
    val backup = timed("lifecycle.backup") {
      lifecycle.backupConsolidated(layout.store.toString, "probe-run")
    }
    acc("lifecycle.backup_mb") = backup.map(p => Stats.dirBytes(p) / Stats.MB).getOrElse(0.0)
    acc("operators.valid_ratio") = acc("rows.valid") / math.max(1.0, acc("sources.rows_out"))
    acc("operators.insert_ratio") = acc("rows.inserted") / math.max(1.0, acc("rows.valid"))
    acc.toMap -- Seq("rows.valid", "rows.inserted")
  }
}
