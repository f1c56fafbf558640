package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.Tables
import TextFunctions.shingles

/** The cross-source shingle-mask index behind q98, factored into a
  * first-class reusable artifact.
  *
  * The index is exactly the dedup/contamination structure a curation
  * run consults repeatedly (overlap matrix, containment checks,
  * per-source distinct-shingle totals), but its build — one
  * position-scale exchange over every token 8-gram in the corpus —
  * dominates the cold cost of every query that touches it (r6
  * measured q98 at 8.8 s cold vs 1.2 s cached at 100×). So the build
  * is separated from the reads:
  *
  *   - [[maskCounts]] builds the (mask, n_sh) table from the corpus —
  *     the only corpus-scale pass;
  *   - [[overlapMatrix]] computes the containment matrix FROM a mask
  *     table — driver-scale work (the table is bounded by
  *     min(distinct shingles, 2^sources) rows);
  *   - [[load]] materializes the index to parquet once per dataset
  *     directory and serves every later invocation — in this session
  *     or the next — from disk, never re-paying the corpus pass.
  *
  * On a cluster the artifact directory would live next to the curated
  * dataset (it is derived data, rebuilt by deleting the dir); here it
  * keys on the dataset path under java.io.tmpdir. Writes publish
  * through [[graft.etl.Commit]], so a crashed build is invisible and a
  * concurrent reader either sees the complete index or rebuilds.
  */
object OverlapIndex {

  /** Bit positions are the SORTED distinct source names — stable
    * across partitioning, sessions, and engines. Bounded collect: the
    * source list is tiny by nature (≤62 enforced — a mixture design
    * reads this matrix). */
  def sources(docs: DataFrame): Seq[String] = {
    val srcs = docs.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    require(srcs.length <= 62,
      s"overlap bitmask path supports <= 62 sources, got ${srcs.length}")
    srcs
  }

  /** The corpus-scale pass: per-shingle source sets as long bitmasks,
    * collapsed to (mask, n_sh). One exchange (the groupBy(sh) bit_or
    * with map-side partials); the second groupBy runs on the
    * already-tiny distinct-shingle table. */
  def maskCounts(docs: DataFrame, srcs: Seq[String]): DataFrame =
    docs
      .select(col("source"), explode(shingles(col("text"), 8)).as("sh_s"))
      .select(TextQueries.md5Hash60(col("sh_s")).as("sh"),
        (array_position(typedLit(srcs), col("source")) - 1)
          .cast("int").as("idx"))
      .withColumn("bit", expr("shiftleft(CAST(1 AS BIGINT), idx)"))
      .groupBy(col("sh")).agg(expr("bit_or(bit)").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("n_sh"))

  /** The read side: containment matrix from a mask table. All inputs
    * here are mask-table-scale (≤2^sources rows) — per-source totals
    * are a ≤62-row bounded collect, source pairs are literals, and
    * the rollup never touches the corpus. */
  def overlapMatrix(maskCounts: DataFrame, srcs: Seq[String]): DataFrame = {
    import graft.analytics.StableRound
    val srcLit = array(srcs.zipWithIndex.map { case (nm, i) =>
      struct(lit(nm).as("s"), lit(1L << i).as("m")) }: _*)
    val nSh: Map[String, Long] = maskCounts
      .select(col("n_sh"), explode(filter(srcLit, e =>
        col("mask").bitwiseAND(e.getField("m")) === e.getField("m")))
        .as("e"))
      .groupBy(col("e.s").as("source")).agg(sum(col("n_sh")).as("n_sh"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every candidate source pair with its two-bit mask and the
    // min(|A|, |B|) denominator baked in as literals — filtered per
    // mask ROW of the tiny table, never per shingle
    val pairLit = array((for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
    } yield struct(lit(srcs(i)).as("a"), lit(srcs(j)).as("b"),
      lit((1L << i) | (1L << j)).as("m"),
      // a shingle-less source never reaches the output (no pair can
      // match its bit) — getOrElse only guards the lookup
      lit(math.min(nSh.getOrElse(srcs(i), 0L),
        nSh.getOrElse(srcs(j), 0L))).as("den"))): _*)
    maskCounts
      .select(col("n_sh"), explode(filter(pairLit, p =>
        col("mask").bitwiseAND(p.getField("m")) === p.getField("m")))
        .as("p"))
      .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
      .agg(sum(col("n_sh")).as("n_shared"),
        max(col("p.den")).as("den"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        StableRound.r4(col("n_shared").cast("double") / col("den"))
          .as("containment"))
      .orderBy("src_a", "src_b")
  }

  /** Root for materialized indexes; overridable for tests. */
  def artifactRoot: java.nio.file.Path = Artifacts.root

  /** Artifact key = the documents files' content fingerprint (names,
    * sizes, parquet footer hashes — see [[Artifacts.datasetKey]]):
    * regenerated input data gets a fresh index, never a stale read,
    * while a byte-identical copy/restore of the dataset — at any path,
    * any mtime — REUSES the index instead of rebuilding it. */
  private def indexDir(d: String): java.nio.file.Path =
    Artifacts.dir(d, "overlap_index")

  /** Build-once, read-forever: returns (maskCounts, sources) for the
    * documents under `d`, materializing the index to parquet on first
    * use. The parquet read replaces the corpus-scale exchange on
    * every later invocation — across queries AND sessions, immune to
    * cache eviction (this is the q98 cold-path fix: the in-session
    * `.persist()` only helps identical plans in one JVM). */
  def load(s: SparkSession, d: String): (DataFrame, Seq[String]) = {
    val dir = indexDir(d)
    Artifacts.materialize(dir) { tmp =>
      val docs = Tables.documents(s, d)
        .filter(col("text").isNotNull && col("source").isNotNull)
      val srcs = sources(docs)
      // repartition(1), NOT coalesce(1): the artifact is one tiny
      // file, but coalesce would propagate the 1-task constraint up
      // into the corpus-scale shingle aggregation; the explicit
      // exchange keeps the build parallel and funnels only the
      // mask-table rows to the single writer
      maskCounts(docs, srcs).repartition(1)
        .write.mode("overwrite").parquet(tmp.resolve("masks").toString)
      s.createDataFrame(s.sparkContext.parallelize(
          srcs.zipWithIndex.map { case (nm, i) => org.apache.spark.sql.Row(i, nm) }, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("idx",
              org.apache.spark.sql.types.IntegerType, nullable = false),
            org.apache.spark.sql.types.StructField("source",
              org.apache.spark.sql.types.StringType, nullable = false))))
        .write.mode("overwrite").parquet(tmp.resolve("sources").toString)
    }
    val srcs = s.read.parquet(dir.resolve("sources").toString)
      .orderBy("idx").collect().map(_.getString(1)).toSeq
    (s.read.parquet(dir.resolve("masks").toString), srcs)
  }
}
