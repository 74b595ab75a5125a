package graftbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.sources.XlsxIngress

/** The harness's own checks, run with `--workload selftest`:
  *   - the landing generator gives identical inputs for one seed and
  *     different inputs for another;
  *   - an operation that throws, or fails its check, is counted as failed
  *     and leaves no time sample, including a pipeline pass whose store
  *     write is made to throw;
  *   - the metric names the harness can emit are printed for comparison
  *     with the benchmark definition.
  */
object SelfTest {

  def run(spark: SparkSession, a: Args): Outcome = {
    val errs = Seq.newBuilder[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) errs += what

    // same seed → same plan and same file contents; other seed → different
    val p1 = Landing.small(a.seed)
    expect(p1 == Landing.small(a.seed), "plan differs for one seed")
    expect(p1 != Landing.small(a.seed + 1), "plan equal across seeds")
    val l1 = Layout(a.work.resolve("gen-1"))
    val l2 = Layout(a.work.resolve("gen-2"))
    Landing.materialize(spark, p1, l1)
    Landing.materialize(spark, Landing.small(a.seed), l2)
    p1.files.foreach { f =>
      val (x, y) = (l1.landing.resolve(f.name), l2.landing.resolve(f.name))
      val same =
        if (f.format == "xlsx") XlsxIngress.readRows(x.toString) == XlsxIngress.readRows(y.toString)
        else java.util.Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y))
      expect(same, s"${f.name} differs between two generations")
      expect(Files.getLastModifiedTime(x) == Files.getLastModifiedTime(y),
        s"${f.name} mtime differs")
    }
    val storeRows = (l: Layout) => spark.read.parquet(l.store.toString).count()
    expect(storeRows(l1) == storeRows(l2) && storeRows(l1) == p1.store.size,
      "seeded store differs")

    // a throwing op and a failed check are failures, never samples
    val ops = new Ops
    ops.run("throws") { throw new IllegalStateException("planted") }(_ => None)
    ops.run("wrong") { 1 }(n => if (n == 2) None else Some("planted mismatch"))
    ops.run("fine") { 2 }(_ => None)
    expect(ops.attempted == 3 && ops.failed == 2 && ops.times.size == 1,
      s"op accounting: attempted=${ops.attempted} failed=${ops.failed} samples=${ops.times.size}")

    // a pipeline pass whose store write throws counts every file as failed
    val passOps = new Ops
    val pass = Consolidate.runPass(spark, p1, l1, passOps, None,
      beforeStoreWrite = _ => throw new java.io.IOException("planted store failure"))
    expect(passOps.failed == p1.expect.processed.size && pass.opTimes.isEmpty,
      s"faulty pass: failed=${passOps.failed} of ${p1.expect.processed.size}, " +
        s"samples=${pass.opTimes.size}")

    // a clean pass over the second copy passes every check
    val cleanOps = new Ops
    Consolidate.runPass(spark, p1, l2, cleanOps, None)
    expect(cleanOps.failed == 0 && cleanOps.attempted == p1.expect.processed.size,
      s"clean pass: ${cleanOps.errors.mkString("; ")}")

    val found = errs.result()
    val names = (Main.EndToEnd ++ Names.perLayer).map(Json.str).mkString("[", ",", "]")
    Outcome(1 + found.size, found.size, Map.empty, Map.empty, found,
      s""","names":$names""")
  }
}
