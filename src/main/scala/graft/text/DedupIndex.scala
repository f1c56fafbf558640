package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized dedup structures, built once per dataset and consumed
  * by every later query — the [[OverlapIndex]] artifact recipe applied
  * to the two structures a curation run consults repeatedly:
  *
  *   - [[PairIndex]]: the MinHash-LSH near-duplicate PAIR set (q25's
  *     output). q82's clustering, drop-list generation, and any future
  *     pair consumer re-derived the full sketch pipeline per
  *     invocation; the pair set is corpus-derived but pair-scale
  *     (orders of magnitude smaller than the corpus), so it is exactly
  *     the thing to pay for once.
  *   - [[ClusterIndex]]: the CONVERGED duplicate-cluster labels
  *     (doc_id → representative), i.e. the transitive closure of the
  *     pair set. Dedup reports, drop lists, and mixture design all
  *     read cluster membership; none of them should re-run label
  *     propagation.
  *
  * Both key on the dataset's content fingerprint ([[Artifacts]]), so a
  * regenerated corpus rebuilds and a byte-identical copy reuses.
  */
object PairIndex {

  /** Near-dup pairs (da, db) for the documents under `d`, from the
    * artifact when present, else built via the q25 sketch pipeline
    * (single corpus scan, one bucket exchange) and materialized. */
  def load(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.dir(d, "minhash_pairs")
    Artifacts.materialize(dir) { tmp =>
      // the artifact IS the q25 result — provably oracle-equivalent,
      // and every consumer inherits that proof
      TextQueries.queries("q25_minhash_lsh").build(s, d)
        .write.mode("overwrite").parquet(tmp.resolve("pairs").toString)
    }
    s.read.parquet(dir.resolve("pairs").toString)
  }
}

/** See [[PairIndex]] — the same recipe for q24's df-capped inverted
  * shingle index, the heaviest recurring structure not yet
  * materialized (13 s at 100× per invocation, ~2/3 of it the
  * corpus-scale explode + skey exchange this artifact pays once).
  * Stored rows are the POSTING LISTS (skey, sorted packed (doc_id, n)
  * longs) for shingles shared by >=2 documents and under the df cap —
  * posting-scale, not corpus-scale: singleton shingles (the vast
  * majority of natural text) never reach the artifact. */
object PostingIndex {

  /** Df-capped Jaccard posting lists for the documents under `d`, from
    * the artifact when present, else built via q24's index pipeline
    * and materialized. The artifact name encodes the df cap: a cap
    * change is a pipeline change, and the dataset-content key alone
    * can't see it.
    *
    * The artifact holds TWO tables from one build: `postings` (the
    * reusable inverted index — the general structure any future
    * Jaccard/containment consumer starts from) and `pairs` (the q24
    * RESULT computed from those postings while they were already in
    * hand). The pair expansion is itself multi-second at 100× — a
    * reuse path that re-paid it per invocation would defeat the
    * artifact for the most common consumer, the pair set. */
  // the name encodes the df cap AND the table layout (v2 added
  // `pairs` beside `postings`; v3 added `containment` — the q140 pair
  // set, whose expansion measured 7.4 s per invocation at 100× when
  // recomputed) — a layout change over an existing artifact dir would
  // otherwise read a path that was never written
  private[graft] def artifactName =
    s"jaccard_postings_df${TextQueries.jaccardDfCap}_v3"

  private[graft] def dir(d: String) = Artifacts.dir(d, artifactName)

  /** The build body over an index-rows frame ([[TextQueries.jaccardIndexRows]]
    * shape) — ONE definition for the individual build and
    * [[DedupIndexes.buildAll]]'s shared-kernel feed. */
  private[graft] def buildInto(s: SparkSession, tmp: java.nio.file.Path,
                               indexRows: DataFrame): Unit = {
    TextQueries.jaccardPostings(indexRows)
      .write.mode("overwrite")
      .parquet(tmp.resolve("postings").toString)
    // both pair sets FROM the just-written postings (not the live
    // plan): each expansion reads back posting-scale parquet instead
    // of re-running the corpus-scale index subtree
    TextQueries.jaccardPairsFromPostings(
        s.read.parquet(tmp.resolve("postings").toString))
      .write.mode("overwrite").parquet(tmp.resolve("pairs").toString)
    TextQueries.containmentPairsFromPostings(
        s.read.parquet(tmp.resolve("postings").toString))
      .write.mode("overwrite").parquet(tmp.resolve("containment").toString)
  }

  private def ensure(s: SparkSession, d: String): java.nio.file.Path = {
    val target = dir(d)
    Artifacts.materialize(target) { tmp =>
      buildInto(s, tmp, TextQueries.jaccardIndexRows(
        graft.analytics.Tables.documents(s, d)))
    }
    target
  }

  /** The inverted index (skey, sorted packed (doc_id, n) longs). */
  def load(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d).resolve("postings").toString)

  /** The q24 pair set (da, db, shared, jaccard) — the artifact's most
    * common consumer surface. */
  def pairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d).resolve("pairs").toString)

  /** The q140 containment pair set (da, db, shared, inner_doc,
    * containment) — the asymmetric-dedup consumer surface, built from
    * the same postings in the same artifact pass. */
  def containmentPairs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d).resolve("containment").toString)
}

/** Lucene-shaped BM25 posting index — q111's per-dataset structure
  * given the [[Artifacts]] treatment. One row per (t, doc_id) carrying
  * tf, df, and dl DENORMALIZED (a posting is self-contained: scoring
  * needs no corpus-scale join at read time), written partitioned by
  * `_tb` = md5Hash60(t) % [[tokenBuckets]] so a bounded query-term set
  * prunes the read to its buckets — Spark partition pruning as the
  * posting-list seek. A 1-row `stats` table (n_docs, avgdl) rides
  * alongside.
  *
  * Build cost (token-scale tf groupBy + df/dl joins) is paid ONCE per
  * dataset fingerprint; the q111 direct build pays a corpus re-tokenize
  * per query. At read time the only exchange is the (qid, doc) score
  * sum, sized by matched postings — the retrieval shape a 100 TB
  * corpus wants. */
object Bm25Index {

  /** Token-hash partition count. 64 keeps dirs/file counts tame at
    * test scale; on a cluster this would scale with corpus size (the
    * artifact name encodes it — a change is a layout change). */
  private[graft] val tokenBuckets = 64

  private def dirOf(d: String) =
    Artifacts.dir(d, s"bm25_postings_tb${tokenBuckets}_v1")

  private def ensure(s: SparkSession, d: String): java.nio.file.Path = {
    import org.apache.spark.sql.functions._
    val target = dirOf(d)
    Artifacts.materialize(target) { tmp =>
      val dtoks = graft.analytics.Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      val dl = dtoks.select(col("doc_id"), size(col("toks")).as("dl"))
      val terms = dtoks
        .select(col("doc_id"), explode(col("toks")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
        .persist() // feeds df AND the denormalized join below
      val df_ = terms.groupBy(col("t")).agg(count(lit(1)).as("df"))
      try {
        terms.join(df_, Seq("t")).join(dl, Seq("doc_id"))
          .withColumn("_tb",
            pmod(TextQueries.md5Hash60(col("t")), lit(tokenBuckets.toLong)))
          .write.partitionBy("_tb")
          .parquet(tmp.resolve("postings").toString)
        dl.agg(count(lit(1)).cast("double").as("n_docs"),
            (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
          .write.parquet(tmp.resolve("stats").toString)
      } finally terms.unpersist()
    }
    target
  }

  /** The denormalized postings (t, doc_id, tf, df, dl, _tb). */
  def postings(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d).resolve("postings").toString)

  /** The 1-row (n_docs, avgdl) corpus statistics. */
  def stats(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ensure(s, d).resolve("stats").toString)

  /** Driver-side twin of the `_tb` partition expression, for building
    * the partition-pruning literal from a collected query-term set. */
  private[graft] def bucketOf(t: String): Long =
    Bm25Store.bucketOf(t, tokenBuckets)
}

/** MinHash band-signature store — the corpus-side half of INCREMENTAL
  * near-dup (q119). Where [[PairIndex]] materializes the corpus's
  * internal pairs, `BandIndex` materializes the reusable structure
  * those pairs came from: one row per (doc_id, band) with the band's
  * (ha, hb) signature minima — banding-scale (8 rows/doc, three ints
  * and an id), not corpus-scale, built from the same narrow
  * `minhash_signature` kernel q25 uses so index hits and q25 pairs
  * are the same relation.
  *
  * This is the artifact an ingest pipeline probes: arriving batches
  * sketch themselves (batch-scale) and broadcast-join against ONE scan
  * of this index — the corpus is never re-sketched or re-shuffled per
  * batch. On a production store the index would additionally be
  * append-maintained (accepted batches write their own band rows in);
  * under content-fingerprint keying a changed dataset rebuilds
  * instead, which preserves the artifact-equals-pipeline proof. */
object BandIndex {

  /** Band rows (band, ha, hb, doc_id) for the documents under `d`,
    * from the artifact when present, else built via the q25 signature
    * kernel (one narrow corpus scan) and materialized. */
  def load(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val dir = Artifacts.dir(d, "minhash_bands")
    Artifacts.materialize(dir) { tmp =>
      val mh = graft.analytics.Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.minhash_signature(col("text"), 3).as("sig"))
        .filter(col("sig").isNotNull)
      TextQueries.explodeBands(mh)
        .write.mode("overwrite").parquet(tmp.resolve("bands").toString)
    }
    s.read.parquet(dir.resolve("bands").toString)
  }

  /** Hash-PARTITIONED band store — the flat-per-batch probe layout
    * (r12, closing the one measured gap in the incremental-dedup cost
    * contract): [[load]]'s flat store makes
    * [[IncrementalDedup.newPairs]] scan the WHOLE index per batch —
    * shuffle-free and narrow, but linear in corpus size (measured:
    * 0.6 s at 1×, 2.6–4.5 s at 1000× — `tools/IncrementalBench`).
    * Here rows additionally carry `_bb = pmod(ha, buckets)` and the
    * parquet is written `partitionBy("_bb")`, so a probe whose batch
    * touches ≤ min(8·|batch|, buckets) buckets prunes the read to
    * those partitions at FILE-LISTING time
    * ([[IncrementalDedup.newPairsPruned]]). On a cluster, `buckets`
    * scales with the corpus (each partition ≈ one IO unit), making
    * per-batch IO ∝ batch size, independent of corpus size — the
    * operational 100 TB shape. The bucket count is part of the
    * artifact name (a layout parameter, like [[Bm25Index]]'s
    * `tokenBuckets`). */
  def loadPartitioned(s: SparkSession, d: String,
                      buckets: Int = 256): DataFrame = {
    loadPartitionedImpl(s, d, buckets)
  }

  /** The bucket count the layout rule picks for this dataset: one
    * bucket ≈ one IO unit (~2048 band rows), pow2 so re-derivations
    * agree, clamped [16, 4096] — the SAME scale-with-the-store rule
    * [[LabelStore]] applies (a fixed count makes small stores pay
    * per-file footer/listing overhead for thousands of near-empty
    * dirs, and big stores outgrow their buckets). Sized from the
    * document count (a parquet-metadata read — no kernel work): band
    * rows = 8 per non-null doc by [[TextQueries.explodeBands]]'
    * construction. Deterministic per dataset, so every caller that
    * uses the rule shares ONE artifact; memoized per dataset dir
    * (the count is a property of the immutable dataset, and probes
    * run per batch — one metadata job per dataset per session, not
    * per probe). */
  def scaledBuckets(s: SparkSession, d: String): Int =
    bucketCache.getOrElseUpdate(d, {
      import org.apache.spark.sql.functions._
      val nDocs = graft.analytics.Tables.documents(s, d)
        .agg(count(lit(1))).head.getLong(0)
      val target = (nDocs * 8) / 2048
      var p = 16
      while (p < target && p < 4096) p *= 2
      p
    })

  private val bucketCache =
    scala.collection.concurrent.TrieMap.empty[String, Int]

  private def loadPartitionedImpl(s: SparkSession, d: String,
                                  buckets: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    require(buckets >= 1)
    val dir = Artifacts.dir(d, s"minhash_bands_p$buckets")
    Artifacts.materialize(dir) { tmp =>
      load(s, d)
        .withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))
        // cluster by bucket before the partitioned write: without it
        // every task emits a file into every bucket dir — up to
        // tasks × buckets small files (the r12 advisor's catch; the
        // IncrementalBench twin store already did this)
        .repartition(col("_bb"))
        .write.partitionBy("_bb")
        .parquet(tmp.resolve("bands").toString)
    }
    s.read.parquet(dir.resolve("bands").toString)
  }
}

/** Combined builder: every text-dedup artifact from ONE corpus kernel
  * pass. The individual `load()`s each re-scan the corpus and re-run
  * their kernel on first build — fine when one artifact is wanted, but
  * a curation run wants all four, and the corpus scan + per-doc
  * shingle/minhash kernels are the shared ~whole cost (the structures
  * derived from them are postings/band/pair-scale). `buildAll`
  * computes both kernels in a single projection over a single scan,
  * persists only the kernel output, and materializes:
  *
  *   - [[BandIndex]]   — the band rows verbatim;
  *   - [[PairIndex]]   — the q25 tail over the SAME band rows;
  *   - [[PostingIndex]] (postings + jaccard pairs + containment) —
  *     the q24 pack/cap tail over the SAME kernel frame;
  *   - [[ClusterIndex]] — label propagation over the just-built pairs.
  *
  * Every tail is the individually-shipped definition
  * ([[TextQueries.candidatePairsFromBands]],
  * [[TextQueries.jaccardIndexRowsFromHs]], [[PostingIndex.buildInto]]),
  * so the combined build produces row-identical artifacts — the
  * artifact-equals-pipeline proof is inherited, not re-argued.
  * Already-materialized targets are skipped ([[Artifacts.materialize]]
  * no-ops), and nothing forces the kernel when all four exist. */
object DedupIndexes {

  def buildAll(s: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.functions._
    // ONE corpus scan, both kernels in one projection. The persisted
    // kernel frame is position-scale (shingle-hash arrays) — at 100×
    // ~2.4 GB, the price of never re-reading the corpus below
    val kernel = graft.analytics.Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextFunctions.minhash_signature(col("text"), 3).as("sig"),
        TextFunctions.shingle_hashes(col("text"), 3).as("hs"))
      .persist()
    // banding-scale (8 rows/doc), feeds the band write AND the pair
    // expansion — the band groupBy's input is computed once
    val bands = TextQueries.explodeBands(
        kernel.filter(col("sig").isNotNull)
          .select(col("doc_id"), col("sig")))
      .persist()
    try {
      Artifacts.materialize(Artifacts.dir(d, "minhash_bands")) { tmp =>
        bands.write.mode("overwrite")
          .parquet(tmp.resolve("bands").toString)
      }
      Artifacts.materialize(Artifacts.dir(d, "minhash_pairs")) { tmp =>
        TextQueries.candidatePairsFromBands(bands).orderBy("da", "db")
          .write.mode("overwrite").parquet(tmp.resolve("pairs").toString)
      }
      Artifacts.materialize(PostingIndex.dir(d)) { tmp =>
        PostingIndex.buildInto(s, tmp, TextQueries.jaccardIndexRowsFromHs(
          kernel.select(col("doc_id"), col("lang"), col("hs"))))
      }
      // labels propagate over the pair artifact just written (or
      // already present) — pair-scale, no corpus work
      ClusterIndex.load(s, d)
    } finally {
      bands.unpersist(false); kernel.unpersist(false)
    }
  }
}

/** Incremental maintenance of the dedup structures — the write half
  * of the q119 story. q119 PROBES an arriving batch against the
  * [[BandIndex]]; this operator goes the rest of the way: fold the
  * accepted batch INTO the band/pair/label structures so tomorrow's
  * batch probes today's corpus, without ever re-sketching or
  * re-shuffling what is already indexed.
  *
  * Cost contract (the reason this exists at 100 TB):
  *   - [[newPairsPruned]] — THE default probe (every shipped consumer:
  *     q119, q168, `Curation.curateBatch`, IncrementalBench) — prunes
  *     the [[BandIndex.loadPartitioned]] read to the batch's bucket
  *     set: per-batch IO ∝ batch size, flat in corpus size (measured
  *     1×→1000×, SURVEY §8). [[newPairs]] is the same probe against a
  *     flat band frame — kept for callers whose bands are already in
  *     memory (spec twins, the q165 demo) where a partitioned store
  *     would be built just to be read once.
  *   - [[newPairs]]: batch-scale sketching + ONE scan of the band
  *     index with the batch bands BROADCAST into it (zero corpus-side
  *     exchange — q119's probe), plus the batch-internal expansion.
  *   - [[updatedLabels]]: label re-convergence runs ONLY over the
  *     AFFECTED components — the old components some new pair
  *     touches, pulled by a label semi-join — plus the new pairs;
  *     every untouched component's labels pass through verbatim. A
  *     batch that brushes k components costs those components' pair
  *     mass, not the corpus's.
  *
  * Correctness is an identity, not an approximation: new edges only
  * enter through new pairs, so any from-scratch component either
  * contains a new-pair endpoint (⇒ all its old sub-components are
  * touched, and its complete edge set = affected base pairs ∪ new
  * pairs re-converges exactly) or contains none (⇒ it is untouched
  * and its old labels are already its from-scratch labels). The rep
  * is min-id — a pure function of membership — so incremental ==
  * from-scratch row for row; q165's oracle checks exactly that
  * against the full-corpus closure, and CurationSpec pins the
  * engineered bridge case (one batch doc merging two old clusters).
  *
  * Artifact note: the content-keyed [[Artifacts]] store is immutable
  * per dataset fingerprint (a changed dataset is a different key), so
  * a production deployment lands updated structures as
  * [[graft.etl.Commit]] publications per ingest batch. */
object IncrementalDedup {
  import org.apache.spark.sql.functions._

  /** Candidate pairs INTRODUCED by a batch: batch-vs-index bucket
    * hits (batch bands broadcast into one index scan) plus
    * batch-internal pairs. `baseBands`/`batchBands` are (doc_id,
    * band, ha, hb) frames ([[TextQueries.explodeBands]]); doc ids
    * must be disjoint across the two. Output (da < db), distinct —
    * exactly the from-scratch pair set restricted to pairs touching
    * the batch. */
  def newPairs(baseBands: DataFrame, batchBands: DataFrame): DataFrame = {
    val probes = batchBands.withColumnRenamed("doc_id", "bdoc")
    val cross = baseBands
      .join(broadcast(probes), Seq("band", "ha", "hb"))
      .select(least(col("doc_id"), col("bdoc")).as("da"),
        greatest(col("doc_id"), col("bdoc")).as("db"))
    cross.unionByName(TextQueries.candidatePairsFromBands(batchBands))
      .distinct()
  }

  /** [[newPairs]] against the hash-partitioned band store
    * ([[BandIndex.loadPartitioned]] with the SAME `buckets`) — the
    * flat-cost probe: the batch's distinct `_bb = pmod(ha, buckets)`
    * set (driver-collected, bounded by min(8·|batch|, buckets)
    * values) is pushed as a partition filter on the index read, so
    * only touched partitions are listed and scanned. Row-identical to
    * [[newPairs]] by construction: every index row that can match a
    * probe on (band, ha, hb) shares its `ha`, hence its bucket, hence
    * survives the filter — pruning only discards rows that could not
    * have joined. A batch large enough to touch every bucket
    * degenerates gracefully to the full scan. Measured
    * (`tools/IncrementalBench`, 4096 buckets, B=100): the probe is
    * flat in corpus size where the flat store's scan grew linearly. */
  def newPairsPruned(baseBandsPartitioned: DataFrame,
                     batchBands: DataFrame, buckets: Int): DataFrame = {
    require(buckets >= 1)
    val probes = batchBands.withColumnRenamed("doc_id", "bdoc")
      .withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))
    // bounded driver collect: ≤ min(8·|batch|, buckets) bucket ids
    val hit = probes.select(col("_bb")).distinct().collect().map(_.get(0))
    val pruned = baseBandsPartitioned
      .filter(col("_bb").isin(hit: _*)).drop("_bb")
    val cross = pruned
      .join(broadcast(probes.drop("_bb")), Seq("band", "ha", "hb"))
      .select(least(col("doc_id"), col("bdoc")).as("da"),
        greatest(col("doc_id"), col("bdoc")).as("db"))
    cross.unionByName(TextQueries.candidatePairsFromBands(batchBands))
      .distinct()
  }

  /** Labels after folding `newPairs` in: untouched components verbatim
    * + re-convergence over (affected base pairs ∪ new pairs). CPS like
    * [[CurationQueries.withDupClusterLabels]] (the propagation's RDD
    * caches live for the callback). */
  def updatedLabels[T](s: SparkSession, basePairs: DataFrame,
                       oldLabels: DataFrame, newPairs: DataFrame)
                      (f: DataFrame => T): T = {
    val endpoints = newPairs.select(col("da").as("doc_id"))
      .unionByName(newPairs.select(col("db").as("doc_id"))).distinct()
    // old components a new pair touches (endpoints with no old label
    // are new/singleton docs — they carry no old component to pull)
    val touched = oldLabels.join(endpoints, Seq("doc_id"))
      .select(col("rep")).distinct()
    val affected = basePairs
      .join(oldLabels.select(col("doc_id").as("da"), col("rep").as("_r")),
        Seq("da"))
      .join(touched.select(col("rep").as("_r")), Seq("_r"), "left_semi")
      .select(col("da"), col("db"))
    val untouched = oldLabels.join(touched, Seq("rep"), "left_anti")
      .select(col("doc_id"), col("rep"))
    CurationQueries.withDupClusterLabels(s,
      affected.unionByName(newPairs)) { subLabels =>
      f(untouched.unionByName(subLabels.select(col("doc_id"), col("rep"))))
    }
  }
}

/** See [[PairIndex]]. */
object ClusterIndex {

  /** Converged (doc_id, rep) labels for the documents under `d`, from
    * the artifact when present, else built by running label
    * propagation over [[PairIndex]] and materialized. Singletons (docs
    * in no pair) are not listed — absence means "its own cluster",
    * which keeps the artifact pair-scale instead of corpus-scale. */
  def load(s: SparkSession, d: String): DataFrame = {
    val dir = Artifacts.dir(d, "dup_clusters")
    Artifacts.materialize(dir) { tmp =>
      CurationQueries.withDupClusterLabels(s, PairIndex.load(s, d)) {
        labels =>
          labels.write.mode("overwrite")
            .parquet(tmp.resolve("labels").toString)
      }
    }
    s.read.parquet(dir.resolve("labels").toString)
  }
}
