package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Figures of one pass: wall and process CPU time, the MB it wrote, the
  * time of each operation that passed its check (by operation name), the
  * operations it attempted and, traced, its per-layer figures.
  */
final case class Pass(wallS: Double, cpuS: Double, outMb: Double,
    opTimes: Map[String, Double], ops: Int, layer: Map[String, Double])

/** A timed interval: its result, wall and process CPU seconds and, with a
  * listener, the Spark figures of the jobs it ran.
  */
final case class Timed[T](value: T, wallS: Double, cpuS: Double,
    layer: Map[String, Double])

/** The passes of one run with its end-to-end metrics and the per-layer
  * metrics every workload shares.
  */
final case class Measured(endToEnd: Map[String, Double],
    layer: Map[String, Double], plain: Seq[Pass], traced: Seq[Pass])

/** The closed loop both workloads share. */
object Harness {

  /** Runs `body`, timing its wall and process CPU time; with a listener,
    * also collects the Spark figures of the jobs it ran.
    */
  def timed[T](spark: SparkSession, listener: Option[PassListener])(body: => T): Timed[T] = {
    val sc = spark.sparkContext
    listener.foreach { l => sc.addSparkListener(l); l.reset() }
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val cpu0 = Stats.cpuNanos()
    try {
      val out = body
      val cpuS = (Stats.cpuNanos() - cpu0) / 1e9
      val wallS = (System.nanoTime() - t0) / 1e9
      val wall1 = System.currentTimeMillis()
      val layer = listener.map { l =>
        org.apache.spark.BenchBusBridge.drain(sc)
        l.snapshot(wall0, wall1)
      }.getOrElse(Map.empty[String, Double])
      Timed(out, wallS, cpuS, layer)
    } finally listener.foreach(sc.removeSparkListener)
  }

  /** One run of a workload. `setup` makes one pass's inputs and `discard`
    * deletes them. An untimed warm-up pass (JIT and codegen) runs first on
    * inputs it then owns; timed passes follow until `a.seconds` of pass time
    * and `minPlain` untraced passes are measured, untraced and traced
    * passes alternating in a traced run; then extra set-ups run until
    * [[Stats.SetupSamples]] set-ups were timed.
    *
    * `setup_s` is session start + warm-up pass + the median input set-up.
    */
  def measure[I](a: Args, sessionS: Double, tracer: Tracer, minPlain: Int)(
      setup: () => I, warmUp: I => Unit, pass: (I, Boolean) => Pass,
      discard: I => Unit): Measured = {
    val setups = mutable.ArrayBuffer.empty[Double]
    def timedSetup(): I = tracer.span("setup") {
      val t0 = System.nanoTime()
      val in = setup()
      setups += (System.nanoTime() - t0) / 1e9
      in
    }
    val warmIn = timedSetup()
    val w0 = System.nanoTime()
    tracer.span("warmup") { warmUp(warmIn) }
    val warmS = (System.nanoTime() - w0) / 1e9

    val plain = mutable.ArrayBuffer.empty[Pass]
    val traced = mutable.ArrayBuffer.empty[Pass]
    def measured = (plain ++ traced).map(_.wallS).sum
    while (measured < a.seconds || plain.size < minPlain || (a.trace && traced.isEmpty)) {
      val asTraced = a.trace && plain.size > traced.size
      val in = timedSetup()
      val p = tracer.span(if (asTraced) "pass.traced" else "pass") { pass(in, asTraced) }
      discard(in)
      if (asTraced) traced += p else plain += p
    }
    while (setups.size < Stats.SetupSamples) discard(timedSetup())
    val inputsS = Stats.median(setups)

    val endToEnd = Map(
      "setup_s" -> (sessionS + warmS + inputsS),
      "run_s" -> Stats.median(plain.map(_.wallS)),
      "op_p50_s" -> Stats.median(plain.flatMap(_.opTimes.values)),
      "cpu_s" -> Stats.median(plain.map(_.cpuS)),
      "retained_mb" -> Stats.retainedMb(),
      "out_mb" -> Stats.median(plain.map(_.outMb)))
    val layer = mutable.Map[String, Double](
      "setup.session_s" -> sessionS,
      "setup.warmup_s" -> warmS,
      "setup.inputs_s" -> inputsS,
      "ops.samples" -> plain.map(_.opTimes.size).sum.toDouble)
    traced.lastOption.foreach { t =>
      layer ++= t.layer
      layer("spark.jobs_per_op") = t.layer("spark.jobs") / math.max(1, t.ops)
      layer("trace.overhead_s") =
        Stats.median(traced.map(_.wallS)) - Stats.median(plain.map(_.wallS))
    }
    Measured(endToEnd, layer.toMap, plain.toSeq, traced.toSeq)
  }

  /** The run's outcome: adds `fail_ratio` and, traced, writes the spans to
    * `trace-<workload>-<seed>.jsonl` beside the work directory.
    */
  def outcome(a: Args, ops: Ops, tracer: Tracer, m: Measured,
      layer: Map[String, Double], extra: String = ""): Outcome = {
    val all = mutable.Map.empty[String, Double] ++ m.layer ++ layer
    all("fail_ratio") = ops.failed.toDouble / math.max(1L, ops.attempted)
    if (a.trace) {
      all("trace.spans") = tracer.all.size.toDouble
      tracer.write(a.work.getParent.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
    }
    Outcome(ops.attempted, ops.failed, m.endToEnd, all.toMap, ops.errors, extra)
  }
}
