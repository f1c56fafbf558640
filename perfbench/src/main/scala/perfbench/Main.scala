package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A metric as printed: value and unit. */
final case class Metric(value: Double, unit: String)

/** What one run of a workload hands back to [[Main]]. */
final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Metric],
                         oracleDirs: Option[(Path, Path)] = None)

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val runDir: Path, val seed: Long,
                val seconds: Double, val trace: Boolean,
                val sessionStartS: Double) {

  /** Inputs for the warm-up come from this seed, never from `seed`. */
  val warmSeed: Long = seed * 1000003L + 7919L

  private var dirs = 0
  /** A fresh, empty directory under the run directory. */
  def freshDir(prefix: String): Path = {
    dirs += 1
    Files.createDirectories(runDir.resolve(s"$prefix-$dirs"))
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfbench] $up%7.1f s  $msg")
  }

  val failures = mutable.ArrayBuffer.empty[String]
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) failures += what
}

object Main {
  val workloads: Map[String, Workload] = Seq[Workload](
    EtlLanding, ServeMix).map(w => w.name -> w).toMap

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    require(i >= 0 && i + 1 < args.length, s"missing $k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val w = workloads.getOrElse(arg(args, "--workload"),
      sys.error(s"unknown workload; one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val trace = arg(args, "--trace") == "1"
    val runDir = Paths.get(arg(args, "--run-dir")).toAbsolutePath
    val out = Paths.get(arg(args, "--out"))

    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .config("spark.graft.checkpoint.dir", runDir.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.configure(spark)
    val sessionStartS = (System.nanoTime() - t0) / 1e9

    val ctx = new Ctx(spark, runDir, seed, seconds, trace, sessionStartS)
    ctx.log(f"session up in $sessionStartS%.2f s")
    val o =
      try w.run(ctx)
      catch {
        case e: Throwable =>
          e.printStackTrace()
          ctx.failures += s"run aborted: $e"
          Outcome(1, 1, Map.empty)
      } finally spark.stop()
    if (trace) Trace.write(Paths.get(arg(args, "--spans")))
    ctx.failures.foreach(f => ctx.log(s"CHECK FAILED: $f"))
    ctx.log("done")
    Files.writeString(out, Json.result(ctx.failures.isEmpty, o))
    sys.exit(0)
  }
}

/** A named workload: generates its inputs from the seed, sets up, warms
  * up, measures, and checks its outputs outside the timed region. */
trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** Timing helpers shared by the workloads. */
object Timing {
  def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Median of `reps` runs of `body`, each timed on its own. */
  def medianOf(reps: Int)(body: => Unit): Double =
    median((1 to reps).map(_ => secs(body)._2))
}

/** One timed phase: operation samples plus attempt/failure accounting.
  * A failed operation counts in `failed` and records no time. */
final class Phase {
  val samples = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var nextOp = 0

  /** Run `op` once, timed; returns false if it threw. */
  def run(ctx: Ctx)(op: => Unit): Boolean = {
    attempted += 1
    val id = nextOp
    nextOp += 1
    try {
      samples += Timing.secs(Trace.op(id)(op))._2
      true
    } catch {
      case e: Exception =>
        failed += 1
        ctx.failures += s"operation $id failed: $e"
        System.err.println(s"[perfbench] operation $id failed")
        e.printStackTrace()
        false
    }
  }
}

object Json {
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else BigDecimal(d).toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def result(correct: Boolean, o: Outcome): String = {
    val ms = o.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s"${str(k)}: {\"value\": ${num(m.value)}, \"unit\": ${str(m.unit)}}"
    }.mkString(", ")
    val oracle = o.oracleDirs.map { case (res, data) =>
      s""", "oracle": {"results": ${str(res.toString)}, "data": ${str(data.toString)}}"""
    }.getOrElse("")
    s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, """ +
      s""""metrics": {$ms}$oracle}"""
  }
}

/** The traced half of a traced run. */
final case class Traced(phase: Phase, spans: Seq[Span], listener: SpanListener)

/** The measured phases of one run. `main` gives the end-to-end numbers;
  * in a traced run it is the untraced half, `traced` the traced half,
  * and `overheadS` the traced minus the untraced median op. */
final case class Measured(main: Phase, traced: Option[Traced]) {
  def overheadS: Double = traced.map(t =>
    Timing.median(t.phase.samples.toSeq) - Timing.median(main.samples.toSeq)).getOrElse(0.0)
  def attempted: Long = main.attempted + traced.map(_.phase.attempted).getOrElse(0L)
  def failed: Long = main.failed + traced.map(_.phase.failed).getOrElse(0L)
}

object Protocol {
  /** Measure `passes(ctx, passS)` repetitions of `pass` (one round or
    * pass over the workload's operation mix); a traced run measures
    * half of them untraced, then the other half traced. */
  def measure(ctx: Ctx, passS: Double)(pass: Phase => Unit): Measured = {
    val n = passes(ctx, passS)
    ctx.log(s"measuring (n = $n)")
    def phase(k: Int) = { val p = new Phase; (1 to k).foreach(_ => pass(p)); p }
    val m =
      if (!ctx.trace) Measured(phase(n), None)
      else {
        val a = phase(math.max(1, n / 2))
        Trace.start(ctx.spark.sparkContext)
        val b = phase(math.max(1, n - n / 2))
        val (spans, l) = Trace.stop()
        Measured(a, Some(Traced(b, spans, l)))
      }
    ctx.log(s"measured ${m.attempted} ops: " +
      m.main.samples.map(s => f"$s%.3f").mkString(" ") + " s")
    m
  }

  /** How many passes a run measures: as many as take the run's seconds
    * at `passS`, the time one pass took on the reference host (4-core
    * VM, see README). A fixed count rather than a deadline, so every
    * run, on a slow or a fast host, times the same sequence of calls
    * from the same point of the JVM's warm-up. */
  def passes(ctx: Ctx, passS: Double): Int =
    math.max(1, math.round(ctx.seconds / passS).toInt)

  /** Run `body` (set-up work), recording spans when the run is traced. */
  def setup[T](ctx: Ctx)(body: => T): (T, Seq[Span]) = {
    ctx.log("setting up")
    if (!ctx.trace) (body, Nil)
    else {
      Trace.start(ctx.spark.sparkContext)
      val r = body
      (r, Trace.stop()._1)
    }
  }

  /** The end-to-end metrics every workload reports (untraced run), or
    * the per-layer ones (traced run): the driver and Spark layers per
    * op, the tracing overhead, plus the workload's own `layers`. */
  def outcome(ctx: Ctx, setupS: Double, m: Measured,
              layers: => Map[String, Double],
              oracle: Option[(Path, Path)] = None): Outcome = {
    val p = m.main
    if (p.samples.isEmpty) ctx.failures += "no operation completed"
    val metrics =
      if (!ctx.trace) Map(
        "setup_s" -> Metric(setupS, "s"),
        "op_p50_s" -> Metric(Timing.median(p.samples.toSeq), "s"))
      else {
        val t = m.traced.get
        Layers.complete(Layers.perOp(t.spans, t.listener) ++ layers +
          ("trace.overhead_s_per_op" -> m.overheadS) +
          ("jvm.live_heap_bytes" -> Layers.liveHeapBytes))
      }
    Outcome(m.attempted, m.failed, metrics, oracle)
  }
}
