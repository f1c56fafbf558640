package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.similarity.VectorStore
import graft.text.Bm25Store

/** A closed loop with one client over a fixed mix of read calls
  * against one generated dataset. A run measures a fixed number of
  * passes over the mix (see [[Protocol.passes]]). One operation is one
  * call of the mix:
  *
  *  - a retrieval request: a seeded query set through
  *    `VectorStore.search`, then `Bm25Store.scored`, each into the noop
  *    sink, against stores built in set-up (tiny executor work, so driver
  *    and per-job cost dominate);
  *  - the analytics queries in [[queries]] through `SparkEntry.queries`
  *    (executor-CPU-heavy graph and sketch work).
  *    Each query's action is [[rowHash]], which reads every column of
  *    every row, so nothing is pruned away and every pass can be checked
  *    against the cold pass.
  *
  * Set-up is the session start, the median of two store builds, and
  * the cold pass, which builds the queries' content-keyed artifacts and
  * lands the results that are checked against DuckDB.
  */
object ServeMix extends Workload {
  val name = "serve_mix"

  /** PageRank (executor CPU over many tasks) and sketch aggregates
    * (kernel CPU). */
  val queries: Seq[String] = Seq("q136_pagerank", "q50_approx_agg")

  /** `orders` and `lineitem` relative to 15,000 orders / 60,000 line items. */
  private val Scale = 0.25
  private val Vectors = 1000
  private val Docs = 1000
  /** q121's probe width and depth, so the check below can compare. */
  private val NProbe = 2
  private val K = 5
  private val QueriesPerRequest = 10
  private val TermsPerQuery = 3
  private val SetupReps = 2
  /** One pass's seconds on the reference host, which sets the number
    * of passes a run measures (see [[Protocol.passes]]). */
  private val PassS = 3.3
  /** Untimed passes, so the timed ones start warm. */
  private val WarmPasses = 3
  private val Q121 = "q121_ann_from_index"

  private val querySchema = StructType(Seq(StructField("query_id", LongType),
    StructField("qe", ArrayType(FloatType, containsNull = true))))
  private val termSchema = StructType(Seq(StructField("qid", LongType),
    StructField("t", StringType)))

  /** An order-insensitive hash of every column of every row, and the
    * row count. */
  def rowHash(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).as("h"))
      .agg(sum(col("h")), count(lit(1))).head()
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1))
  }

  /** `oracle_sql.json` for the results under `dir/<query>`, the layout
    * `tools/compare.py` checks against DuckDB. */
  private def writeOracleSql(dir: Path, names: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(dir.resolve("oracle_sql.json"),
      names.map(q => s"${Json.str(q)}: ${Json.str(sql(q))}").mkString("{", ", ", "}"))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val data = ctx.freshDir("data")
    Data.tables(spark, data, ctx.seed, Scale, Docs, Vectors)
    ctx.log("tables generated")
    val vecs = spark.read.parquet(data.resolve("embeddings.parquet").toString)
      .orderBy("vec_id").collect().map(_.getSeq[Float](1))
    val embeddings = graft.analytics.Tables.embeddings(spark, data.toString)
    val documents = graft.analytics.Tables.documents(spark, data.toString)
    def build(q: String) = SparkEntry.queries(q)(spark, data.toString)
    val results = ctx.freshDir("results")

    var vecDir, bm25Dir = ""
    val ((initS, coldS), setupSpans) = Protocol.setup(ctx) {
      val init = Timing.medianOf(SetupReps) {
        vecDir = ctx.freshDir("vectors").toString
        bm25Dir = ctx.freshDir("bm25").toString
        Trace.span("similarity", "init")(VectorStore.init(spark, embeddings, vecDir))
        Trace.span("text", "bm25_init")(Bm25Store.init(spark, documents, bm25Dir))
      }
      val cold = Timing.secs(queries.foreach { q =>
        Trace.span("analytics", q)(build(q).write.parquet(results.resolve(q).toString))
      })._2
      (init, cold)
    }
    val setupS = ctx.sessionStartS + initS + coldS
    ctx.log(f"set up: stores $initS%.2f s, cold pass $coldS%.2f s")
    val expected = queries.map(q =>
      q -> rowHash(spark.read.parquet(results.resolve(q).toString))).toMap

    def queryFrame(ids: Seq[Int]) = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => Row(i.toLong, vecs(i))), 1), querySchema)

    /** The retrieval request: a query set drawn from `rr`. */
    def request(rr: Random): Unit = {
      val ids = Seq.fill(QueriesPerRequest)(rr.nextInt(Vectors))
      Trace.span("similarity", "search")(
        ctx.noop(VectorStore.search(spark, vecDir, queryFrame(ids), NProbe, K)))
      val terms = ids.flatMap(i => Seq.fill(TermsPerQuery)(
        Row(i.toLong, Data.vocab(rr.nextInt(Data.vocab.length)))))
      Trace.span("text", "bm25_scored")(ctx.noop(Bm25Store.scored(spark, bm25Dir,
        spark.createDataFrame(spark.sparkContext.parallelize(terms, 1), termSchema))))
    }

    /** One pass over the mix, one op of `phase` per call. */
    def pass(phase: Phase, rr: Random): Unit = {
      phase.run(ctx)(request(rr))
      queries.foreach { q =>
        phase.run(ctx) {
          val h = Trace.span("analytics", q)(rowHash(build(q)))
          ctx.check(h == expected(q), s"$q: pass row hash $h, cold pass ${expected(q)}")
        }
      }
    }

    // warm-up: passes whose requests take another seed's query sets
    val warm = new Random(ctx.warmSeed)
    (1 to WarmPasses).foreach(_ => pass(new Phase, warm))
    ctx.log("warmed up")
    val rr = new Random(ctx.seed * 31)
    val m = Protocol.measure(ctx, PassS)(pass(_, rr))

    // the query set vec_id < 10 served from the store returns exactly
    // q121's rows; q121 and the cold-pass results are hash-checked
    // against their DuckDB oracles on the same generated tables
    val mine = VectorStore.search(spark, vecDir, queryFrame(0 until 10), NProbe, K)
      .orderBy("query_id", "rk").collect().toSeq
    val ref = build(Q121)
    val refRows = ref.collect().toSeq
    ctx.check(mine == refRows && mine.nonEmpty,
      s"vec_id < 10 request: ${mine.length} rows differ from $Q121's ${refRows.length}")
    ref.write.parquet(results.resolve(Q121).toString)
    writeOracleSql(results, queries :+ Q121)
    ctx.log("checked")

    Protocol.outcome(ctx, setupS, m, {
      val t = m.traced.get
      Map(
        "similarity.search_s" -> Layers.spanS(t.spans, "search"),
        "similarity.init_s" -> Layers.spanS(setupSpans, "init"),
        "text.bm25_scored_s" -> Layers.spanS(t.spans, "bm25_scored"),
        "text.bm25_init_s" -> Layers.spanS(setupSpans, "bm25_init")) ++
      queries.flatMap { q =>
        val c = Layers.callCounters(t.spans, t.listener, q)
        Seq(s"analytics.${q}_s" -> Layers.spanS(t.spans, q),
          s"analytics.${q}_cold_s" -> Layers.spanS(setupSpans, q),
          s"analytics.${q}_jobs" -> c("jobs"), s"analytics.${q}_tasks" -> c("tasks"),
          s"analytics.${q}_task_ms" -> c("task_ms"))
      }
    }, Some((results, data)))
  }
}
