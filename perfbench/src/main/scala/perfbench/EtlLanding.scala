package perfbench

import scala.collection.mutable

import graft.etl.{EtlResult, EtlRunner, SilverApi, SilverStore}

/** The paper's own workload: Bronze CSVs land through
  * `EtlRunner.processFile` into a fresh `SilverStore`, in
  * `processDirectory` order, ending with a replayed and an update file;
  * after each file, one `SilverApi` read of the entity just landed.
  * One operation is one file: its landing plus its read. A round lands
  * the whole set into a fresh store; a run measures a fixed number of
  * whole rounds (see [[Protocol.passes]]), so its median file comes
  * from the same mix on every run.
  *
  * File sizes follow sf0.1's traffic: the empresa file is sf0.1's
  * 1,000 suppliers, the conductor file a quarter of its 15,000
  * customers (3,750 rows), the vehiculo file a sixteenth of its 20,000
  * parts (1,250 rows).
  */
object EtlLanding extends Workload {
  val name = "etl_landing"

  private val sizes = Bronze.Sizes(empresaFiles = 1, empresas = 1000,
    conductorFiles = 1, conductores = 3750, vehiculoFiles = 1, vehiculos = 1250)
  private val warmSizes = Bronze.Sizes(1, 20, 1, 20, 1, 20)
  private val LoadDate = Some("2025-01-31")
  /** One round's seconds on the reference host, which sets the number
    * of rounds a run measures (see [[Protocol.passes]]). */
  private val RoundS = 20.0

  private final class Stats {
    val storedPerInput = mutable.ArrayBuffer.empty[Double]
    val bytesPerFile = mutable.ArrayBuffer.empty[Double]
    val rejects = mutable.ArrayBuffer.empty[Double]
  }

  private def read(store: SilverStore, kind: String) = kind match {
    case "empresa" => SilverApi.empresas(store).toDF()
    case "conductor" => SilverApi.conductores(store).toDF()
    case _ => SilverApi.vehiculos(store).toDF()
  }

  /** Land `set` into a fresh store, one op of `phase` per file, then
    * check every file's counts and the Silver entity counts. */
  private def round(ctx: Ctx, set: BronzeSet, phase: Phase, st: Stats): Unit = {
    val root = ctx.freshDir("silver")
    val store = new SilverStore(ctx.spark, root.toString)
    val results = mutable.ArrayBuffer.empty[Option[EtlResult]]
    // every file is attempted, even after one fails
    val ok = set.files.map { f =>
      phase.run(ctx) {
        results += Trace.span("etl", f.kind)(
          EtlRunner.processFile(store, f.path.toString, LoadDate))
        Trace.span("etl", "silver_read")(ctx.noop(read(store, f.kind)))
      }
    }.forall(identity)
    if (ok) {
      set.files.zip(results).foreach { case (f, res) =>
        ctx.check(res.exists(r => r.rowCount == f.rows && r.processed == f.processed &&
            r.errors == f.errors),
          s"${f.path.getFileName}: expected rows/processed/errors " +
            s"${f.rows}/${f.processed}/${f.errors}, got " +
            res.map(r => s"${r.rowCount}/${r.processed}/${r.errors}").getOrElse("nothing"))
      }
      val counts = (SilverApi.empresas(store).count(), SilverApi.conductores(store).count(),
        SilverApi.vehiculos(store).count())
      ctx.check(counts == ((set.empresas, set.conductores, set.vehiculos)),
        s"Silver entity counts $counts, expected " +
          s"${(set.empresas, set.conductores, set.vehiculos)}")
      val stored = Layers.bytesUnder(root).toDouble
      st.storedPerInput += stored / set.bytes
      st.bytesPerFile += stored / set.files.length
      st.rejects += results.flatten.map(_.errors).sum.toDouble
    }
  }

  def run(ctx: Ctx): Outcome = {
    val set = Bronze.generate(ctx.runDir.resolve("bronze"), ctx.seed, sizes)
    val warm = Bronze.generate(ctx.runDir.resolve("bronze-warm"), ctx.warmSeed, warmSizes)
    // nothing is built ahead of landing: set-up is the session start
    val setupS = ctx.sessionStartS
    // warm-up: an empresa, a conductor and a vehiculo file of another seed
    val warmPhase = new Phase
    round(ctx, warm.copy(files = warm.files.take(3)), warmPhase, new Stats)
    ctx.log("warmed up: " + warmPhase.samples.map(s => f"$s%.3f").mkString(" ") + " s")
    val st = new Stats
    val m = Protocol.measure(ctx, RoundS)(round(ctx, set, _, st))
    Protocol.outcome(ctx, setupS, m, {
      val spans = m.traced.get.spans
      Map(
        "etl.empresa_s" -> Layers.spanS(spans, "empresa"),
        "etl.conductor_s" -> Layers.spanS(spans, "conductor"),
        "etl.vehiculo_s" -> Layers.spanS(spans, "vehiculo"),
        "etl.silver_read_s" -> Layers.spanS(spans, "silver_read"),
        "etl.store_bytes_written_per_file" -> Timing.median(st.bytesPerFile.toSeq),
        "etl.rejects" -> Timing.median(st.rejects.toSeq),
        "etl.bytes_stored_per_input_byte" -> Timing.median(st.storedPerInput.toSeq))
    })
  }
}
