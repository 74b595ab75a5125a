package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Small numeric and filesystem helpers shared by the workloads. */
object Stats {

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Bytes of every regular file under `root` (0 when absent). */
  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally st.close()
    }

  /** Parquet part files under `root` (0 when absent). */
  def partFiles(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("part-")).count()
      finally st.close()
    }

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
      finally st.close()
    }

  val MB: Double = 1024.0 * 1024.0

  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Set-ups a run times at least, so `setup_s` is a median. */
  val SetupSamples = 3

  /** Driver heap in use after full collections, in MB: the least of a few
    * rounds, since Spark's cleaner releases blocks between them.
    */
  def retainedMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / MB
    }.min
  }
}

/** Closed-loop operation accounting: an operation that throws or fails its
  * check is counted as failed and never contributes a time sample, so a
  * query that dies early cannot read as a fast one.
  */
final class Ops {
  private val samples = mutable.ArrayBuffer.empty[Double]
  private var attemptedN = 0L
  private var failedN = 0L
  private val firstErrors = mutable.ArrayBuffer.empty[String]

  def attempted: Long = attemptedN
  def failed: Long = failedN
  def times: Seq[Double] = samples.toSeq
  def errors: Seq[String] = firstErrors.toSeq

  /** Records one operation that ran for `seconds` and passed its check. */
  def ok(seconds: Double): Unit = { attemptedN += 1; samples += seconds }

  /** Records one failed operation with a short reason. */
  def fail(reason: String): Unit = {
    attemptedN += 1
    failedN += 1
    if (firstErrors.size < 20) firstErrors += reason
  }

  /** Runs `op`, timing it; `check` turns its result into an error message
    * (None when correct). A throw is a failure, not a sample.
    */
  def run[T](name: String)(op: => T)(check: T => Option[String]): Option[T] = {
    val t0 = System.nanoTime()
    val res =
      try Right(op)
      catch { case scala.util.control.NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    res match {
      case Left(e) =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
      case Right(v) =>
        check(v) match {
          case Some(msg) => fail(s"$name: $msg"); None
          case None => ok(secs); Some(v)
        }
    }
  }
}
