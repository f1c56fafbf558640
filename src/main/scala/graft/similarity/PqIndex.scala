package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PQ code store — the compression half of the serving stack that
  * the IVF-flat lists ([[SimilarityQueries.ivfFlat]]) are the pruning
  * half of: every embedding's 8 codebook indices (8 bytes vs the
  * 256-byte float vector, 32× smaller) materialized ONCE per dataset fingerprint via q95's own
  * encode expression, so the ADC candidate scan (q123) reads the
  * compact code table and the per-vector encode argmins are never
  * re-paid per query set. At 100 TB of vectors the ADC pass touches
  * ~3 TB of codes — which is the reason PQ exists as a storage
  * format. */
object PqIndex {

  private def dirOf(d: String) = graft.text.Artifacts.dir(
    d,
    s"pq_codes_m8_c${SimilarityQueries.nCentroids}_v1",
    "embeddings.parquet")

  /** The code table (vec_id, codes), from the artifact when present,
    * else encoded via the shared q95 expression and materialized. */
  def codes(s: SparkSession, d: String): DataFrame = {
    val target = dirOf(d)
    graft.text.Artifacts.materialize(target) { tmp =>
      SimilarityQueries.pqCodesFrame(graft.analytics.Tables.embeddings(s, d))
        .write.parquet(tmp.resolve("codes").toString)
    }
    s.read.parquet(target.resolve("codes").toString)
  }
}

/** The combined IVF-PQ index — the IVF lists' pruning and
  * [[PqIndex]]'s compression in ONE layout, i.e. the full FAISS
  * `IVFx,PQy` serving shape: each parquet partition `_c=<centroid>`
  * holds the PQ CODES (not the vectors) of that centroid's inverted
  * list. A query partition-prunes to its nProbe lists and ADC-scans
  * 8-byte codes — at 100 TB of vectors a probe touches
  * (nProbe/nLists) × 1/32 of the corpus bytes. Assignment and encode
  * are the q29/q95 expressions verbatim (one narrow pass computes
  * both), so q124's result is exactly "q95's ADC restricted to q29's
  * probed lists" — which is what its oracle states. */
object IvfPqIndex {

  private def dirOf(d: String) = graft.text.Artifacts.dir(
    d,
    s"ivfpq_c${SimilarityQueries.nCentroids}_m8_v1",
    "embeddings.parquet")

  /** Coded inverted lists (vec_id, codes, _c) — filter `_c` by the
    * probed centroid ids to partition-prune the read. */
  def lists(s: SparkSession, d: String): DataFrame = {
    val target = dirOf(d)
    graft.text.Artifacts.materialize(target) { tmp =>
      val e = graft.analytics.Tables.embeddings(s, d)
      val cents = SimilarityQueries.centroids(e)
      // assignment AND encode in one narrow pass over the vectors
      e.select(col("vec_id"),
          SimilarityQueries.pqCodesCol(cents).as("codes"),
          SimilarityQueries.assign(SimilarityQueries.centScores(
            cents, col("embedding"))).as("_c"))
        .write.partitionBy("_c")
        .parquet(tmp.resolve("lists").toString)
    }
    s.read.parquet(target.resolve("lists").toString)
  }
}
