package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The public corpus-curation facade: ONE documented entry point that
  * composes the engine's hygiene operators — each individually
  * oracle-checked as a numbered query — into the standard
  * training-data pipeline:
  *
  *   1. '''Quality floor''' (q21/q73): composite quality score
  *      (length / punctuation / stopword-ratio) ≥ `qualityMin`.
  *   1b. '''Repetition filter''' (q135, optional): Gopher's
  *      repetition rules by integer character mass — a document
  *      dominated by one 2-gram (>20% of chars) or by duplicated
  *      3-grams (>15%) drops in the same narrow scan.
  *   1c. '''Perplexity tail drop''' (q128, optional): a capped bigram
  *      LM trains on a caller-provided reference corpus (CCNet's
  *      Wikipedia role), every surviving doc scores its integer-mean
  *      conditional probability, and the worst TERCILE per source is
  *      dropped. Docs with no bigram carry no evidence and survive.
  *   2. '''Decontamination''' (q112 → q77): drop documents sharing a
  *      5-token shingle with the evaluation set. The eval set's
  *      shingle hashes fold into a 1 KiB Bloom sketch
  *      ([[graft.plans.BloomAgg]]) whose bit test gates the corpus
  *      NARROWLY — a Bloom miss is proof of absence, so only the
  *      (tiny) surviving shingle stream reaches the exact broadcast
  *      join. The corpus is never shuffled by value.
  *   3. '''Exact dedup''' (q22/q23): first document per content
  *      fingerprint (md5 of normalized text) survives.
  *   4. '''Near-dup dedup''' (q25/q82/q108/q153): one document per
  *      duplicate cluster. Cluster labels come from the
  *      [[graft.text.ClusterIndex]] ARTIFACT — the pair set and its
  *      transitive closure are built once per dataset fingerprint and
  *      read from parquet ever after. Within each cluster the
  *      SURVIVING member with the highest composite quality score is
  *      kept (q153 measured min-id survivorship keeping a worse
  *      duplicate in 13/28 clusters at sf0.01; ties go to the smaller
  *      doc_id, and `keepBestRep = false` restores the legacy min-id
  *      rule). A cluster whose representative already fell to
  *      quality/decontamination still keeps its best member.
  *   4b. '''Containment drop''' (q140, optional): a document whose
  *      shingle set is ≥60% contained in a surviving partner is
  *      sub-document duplication Jaccard can't see; the engulfed side
  *      drops only when its outer partner survives.
  *   5. '''Target selection''' (q115, optional): DSIR-style hashed
  *      importance resampling toward a caller-provided target-domain
  *      sample — per-document keep decisions by integer importance
  *      weight and md5 band, the document-level selection the
  *      group-level mixture below can't express.
  *   6. '''Mixture''': temperature keep-rates per source (q102 —
  *      thin head sources toward the α=0.5 smoothed distribution), or
  *      UniMax water-filling across LANGUAGES (q130 — a 3/4-of-corpus
  *      token budget levelled under a one-epoch cap, so no language is
  *      ever upsampled). Both decide deterministically by md5 band (a
  *      pure function of doc_id, so the sample survives reshards and
  *      reruns).
  *   7. '''Epoch order''' (q92/q100): the curated set is written
  *      shard-partitioned in reproducible md5-key order via
  *      [[graft.text.TrainOrder.writeEpochOf]] — no global sort, no
  *      window, spillable per-task sorts.
  *
  * Every stage is a declarative plan over the previous stage's frame:
  * the whole funnel is ONE lazily-composed query per action, and the
  * per-stage counts the report returns are computed with a union (the
  * q73 discipline), so no stage can be optimized away under count().
  *
  * Scale: the only corpus-scale exchanges are the ones the numbered
  * queries already pinned — the fingerprint window (stage 3), the
  * shard repartition (stage 7). Stages 1/2/5/6 are narrow scans with
  * broadcast/bounded side inputs; stage 4 joins against the
  * pair-scale label artifact.
  *
  * `sbt "runMain graft.tools.CurationDemo <sfDir> <outDir>"` runs the
  * whole pipeline against a test-data dir and prints the report.
  */
object Curation {

  /** Per-stage survivor count, in pipeline order. */
  case class StageCount(stage: Int, name: String, n_docs: Long)

  /** The curation funnel's result: the curated frame (lazy — nothing
    * has executed unless `epochDir` was set) plus the realized
    * per-stage counts (one job). */
  case class Report(curated: DataFrame, stages: Seq[StageCount])

  /** Run the full curation funnel over the documents under
    * `corpusDir`.
    *
    * @param bench       evaluation documents to decontaminate against
    *                    (any frame with a `text` string column); pass
    *                    None to skip the stage
    * @param dsirTarget  target-domain sample to select toward (any
    *                    frame with a `text` string column); pass None
    *                    to skip the stage
    * @param lmRef       reference corpus for the perplexity tail drop
    *                    (any frame with a `text` string column); pass
    *                    None to skip the stage
    * @param qualityMin  stage-1 floor on the composite quality score
    * @param repetition  true enables the stage-1b Gopher repetition
    *                    filter (q135 thresholds)
    * @param keepBestRep stage-4 survivor rule: true (default) keeps
    *                    each cluster's highest-quality surviving
    *                    member via a sort-free struct-max groupBy
    *                    (the q153 selection); false keeps the lowest
    *                    doc_id (the legacy deterministic-but-blind
    *                    rule)
    * @param containment true enables the stage-4b engulfed-doc drop
    *                    (q140): a document whose shingle set is ≥60%
    *                    contained in a surviving partner is redundant
    *                    sub-document duplication and drops
    * @param mixBase     stage-5 keep-rate base: a source keeps
    *                    min(1, mixBase/10000 · sqrt(n_max/n)) of its
    *                    docs (q102's 2000 default ≈ keep 20% of the
    *                    largest source, everything of sources ≤ 4% of
    *                    its size); pass 0 to skip the stage
    * @param unimax      true replaces the temperature mixture with the
    *                    q130 UniMax allocation over languages
    *                    (`mixBase` is then ignored)
    * @param epochDir    when set, write the curated epoch order here
    *                    (stage 6) — the one eager action
    */
  def curate(spark: SparkSession, corpusDir: String,
             bench: Option[DataFrame] = None,
             dsirTarget: Option[DataFrame] = None,
             lmRef: Option[DataFrame] = None,
             qualityMin: Double = 0.55,
             repetition: Boolean = false,
             keepBestRep: Boolean = true,
             containment: Boolean = false,
             mixBase: Long = 2000L,
             unimax: Boolean = false,
             epochDir: Option[String] = None,
             epoch: Int = 0, shards: Int = 8): Report = {
    import graft.text.TextFunctions._
    GraftSession.configure(spark)

    val raw = graft.analytics.Tables.documents(spark, corpusDir)
      .filter(col("text").isNotNull)

    // 1 ── quality floor (narrow scan). The score RIDES the frame as
    // `_q` so stage 4's best-member selection reuses it instead of
    // re-tokenizing the surviving corpus a second time (tokenization
    // is the dominant narrow cost at 100 TB); dropped before return
    val qual = raw
      .withColumn("_q", quality_score_t(col("text"), tokens(col("text"))))
      .filter(col("_q") >= qualityMin)

    // 1b ── optional Gopher repetition filter (q135's integer-mass
    // rule: a single 2-gram over 20% of characters, or duplicated
    // 3-grams over 15%, drop the document). Off by default — the
    // thresholds are tuned for web text, and legitimately formulaic
    // corpora (boilerplate-heavy legal/code) trip them
    val rep =
      if (!repetition) qual
      else {
        val chars = greatest(length(col("text")), lit(1)).cast("long")
        // one tokenization feeds both mass kernels (the q135 shape)
        qual.withColumn("_rtoks", tokens(col("text")))
          .filter(
            repetition_mass_t(col("_rtoks"), 2).getItem(0) * 5 <= chars &&
              repetition_mass_t(col("_rtoks"), 3).getItem(1) * 20 <=
                chars * 3)
          .drop("_rtoks")
      }

    // 1c ── optional perplexity tail drop (q128's LM, scores, and
    // tercile rule, composed from the same shared helpers the
    // oracle-checked query uses)
    val ppx = lmRef match {
      case None => rep
      case Some(ref) =>
        // the reference frame only needs a text column; synthesize the
        // id/source columns so the ONE shared bigram builder (q128's)
        // defines the tokenization rule here too
        val refBi = graft.text.CurationQueries.docBigrams(
            ref.select(lit(0L).as("doc_id"), lit("_ref").as("source"),
              col("text")))
          .select(col("head"), col("next_tok"))
        val lm = graft.text.CurationQueries.referenceBigramLm(refBi)
        val scored = graft.text.CurationQueries.scoreAgainstLm(rep, lm)
        val part = Window.partitionBy(col("source"))
        val tail = scored
          .withColumn("_rn", row_number().over(
            part.orderBy(col("score_e4").desc, col("doc_id"))))
          .withColumn("_n", count(lit(1)).over(part))
          .filter(expr("((_rn - 1) * 3) div _n = 2"))
          .select(col("doc_id"))
        rep.join(tail, Seq("doc_id"), "left_anti")
    }

    // 2 ── decontamination: Bloom gate, then exact broadcast join
    val clean = bench match {
      case None => ppx
      case Some(b) =>
        import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
        val benchSh = b.filter(col("text").isNotNull)
          .select(explode(shingle_hashes(col("text"), 5)).as("h")).distinct()
        // the eval set's 1 KiB Bloom sketch, collected once (driver-
        // bounded by construction: the aggregate returns 128 longs)
        val bloomAgg = toC(graft.plans.BloomAgg(toE(col("h")))
          .toAggregateExpression())
        val words = benchSh.agg(bloomAgg.as("w")).head().getSeq[Long](0).toArray
        val w = typedlit(words)
        val hit = (0 until graft.plans.BloomAgg.k).map { f =>
          val bit = shiftright(col("h"), graft.plans.BloomAgg.fieldBits * f)
            .bitwiseAND(lit((graft.plans.BloomAgg.m - 1).toLong))
          element_at(w, (bit / 64).cast("int") + lit(1))
            .bitwiseAND(call_function("shiftleft", lit(1L),
              pmod(bit, lit(64L)).cast("int"))) =!= 0
        }.reduce(_ && _)
        val contaminated = ppx
          .select(col("doc_id"), explode(shingle_hashes(col("text"), 5)).as("h"))
          // the gate: Bloom misses are PROVABLY absent from the eval
          // set and never reach the join — the q112 shape
          .filter(hit)
          .join(broadcast(benchSh), Seq("h"))
          .select(col("doc_id")).distinct()
        ppx.join(contaminated, Seq("doc_id"), "left_anti")
    }

    // 3 ── exact dedup: first doc per content fingerprint
    val exact = clean
      .withColumn("_rn", row_number().over(
        Window.partitionBy(doc_fingerprint(col("text")))
          .orderBy(col("doc_id"))))
      .filter(col("_rn") === 1).drop("_rn")

    // with the containment stage on, the run needs the cluster labels
    // AND the posting-derived pair sets: materialize the whole dedup
    // family from ONE corpus kernel pass up front (buildAll shares the
    // shingle/minhash scan; a no-op when the artifacts already exist)
    // instead of letting the stages trigger two separate corpus scans
    if (containment) graft.text.DedupIndexes.buildAll(spark, corpusDir)

    // 4 ── near-dup dedup: one survivor per duplicate cluster, labels
    // from the content-keyed artifact (built once per dataset).
    // Default survivor = the cluster's highest-quality member (q153:
    // min-id keeps a worse duplicate in 13/28 clusters at sf0.01),
    // picked SORT-FREE: the (quality, -doc_id) struct max rides a
    // map-side-combined groupBy — no per-cluster sort, no window —
    // and a doc_id semi-join pulls the winners back out
    val labels = graft.text.ClusterIndex.load(spark, corpusDir)
      .select(col("doc_id"), col("rep"))
    // measured dispatch for the label attach — the facade's one
    // production lookup join runs on JoinAdvisor evidence instead of a
    // fixed strategy (the r11 ask). The advisor's two passes per side
    // run on CHEAP DOMINATING frames: the raw documents' doc_id column
    // (one pruned parquet scan; doc_id is unique so maxKeyRows = 1,
    // and every upstream stage only FILTERS rows, so raw's SideStats
    // dominate exact's — any broadcast/skew decision safe for raw is
    // safe for exact) and the pair-scale label artifact itself.
    // Measuring `exact` directly would re-run the funnel's corpus-
    // scale stages twice just to plan one join. The decision is
    // re-taken with the left branch masked (a left join can only
    // broadcast its non-preserved side), then SaltedJoin.dispatch
    // runs the REAL frames under it: at test scale the labels
    // artifact broadcasts; past broadcastMaxRows it degrades to a
    // shuffle-hash (or salted, were the labels ever skewed) without a
    // code change.
    val attachAdvice = graft.operators.JoinAdvisor.recommend(
      raw.select(col("doc_id")), "doc_id", labels, "doc_id")
    val attachStrategy = graft.operators.JoinAdvisor.choose(
      attachAdvice.left, attachAdvice.right, partitions = 32,
      broadcastMaxRows = 1000000L, skewFactor = 4L,
      canBroadcastLeft = false)
    val labeled = graft.operators.SaltedJoin.dispatch(
        exact, "doc_id", labels, "doc_id", attachStrategy, "left",
        saltSrc = xxhash64(col("doc_id")))
      // singletons (no pair) are their own cluster
      .withColumn("_cluster", coalesce(col("rep"), col("doc_id")))
    val deduped =
      if (keepBestRep) {
        val winners = labeled
          .select(col("_cluster"), col("doc_id"), col("_q"))
          .groupBy(col("_cluster"))
          .agg(max(struct(col("_q").as("q"), (-col("doc_id")).as("nd")))
            .as("_b"))
          .select((-col("_b.nd")).as("doc_id"))
        exact.join(winners, Seq("doc_id"), "left_semi")
      } else labeled
        .withColumn("_rn", row_number().over(
          Window.partitionBy(col("_cluster")).orderBy(col("doc_id"))))
        .filter(col("_rn") === 1).drop("_rn", "_cluster", "rep")

    // 4b ── optional containment drop (q140): the engulfed side of a
    // ≥60%-containment pair drops IF its outer partner survives (a
    // partner that already fell to quality/decontamination keeps the
    // engulfed copy — its content must survive somewhere). Containment
    // is NOT transitive, so in a chain A⊂B⊂C the pass may only drop A
    // if B itself is KEPT — an outer that is itself engulfed is
    // excluded from licensing drops this pass (conservative: a rare
    // chain under-drops rather than losing A's content when B falls
    // to C). Pair-scale joins against the PostingIndex-derived pair
    // set; the corpus is never re-shingled here.
    val contained =
      if (!containment) deduped
      else {
        // the artifact read directly — q140's query spec appends a
        // pair-scale presentation orderBy this stage would pay twice
        // (the frame feeds both joins below) for nothing
        val pairs = graft.text.PostingIndex
          .containmentPairs(spark, corpusDir)
          .select(col("inner_doc"),
            when(col("inner_doc") === col("da"), col("db"))
              .otherwise(col("da")).as("_outer"))
        val drops = pairs
          .join(deduped.select(col("doc_id").as("_outer")),
            Seq("_outer"), "left_semi")
          // the licensing outer must not be an engulfed doc itself
          .join(pairs.select(col("inner_doc").as("_outer")).distinct(),
            Seq("_outer"), "left_anti")
          .select(col("inner_doc").as("doc_id")).distinct()
        deduped.join(drops, Seq("doc_id"), "left_anti")
      }

    // 5 ── optional DSIR selection toward the target domain (q115's
    // integer discipline: 256-bucket token-unigram scores as Laplace-
    // smoothed ratio estimates, per-doc weights folded in a NARROW
    // scan via the 2 KiB score-array literal, md5-band acceptance).
    // Both bucket-count passes collapse to ≤256 rows under map-side
    // combine before their driver collect — nothing token-scale moves.
    val selected = dsirTarget match {
      case None => contained
      case Some(t) =>
        def bucketOf(c: org.apache.spark.sql.Column) =
          graft.text.TextQueries.md5Hash60(c).bitwiseAND(lit(255L))
        def bcounts(df: DataFrame) = df
          .select(explode(tokens(col("text"))).as("t"))
          .groupBy(bucketOf(col("t")).as("b")).agg(count(lit(1)).as("c"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val tgt = bcounts(t.filter(col("text").isNotNull))
        val prop = bcounts(contained)
        val tTot = tgt.values.sum; val rTot = prop.values.sum
        val scores: Array[Long] = Array.tabulate(256) { b =>
          val tc = tgt.getOrElse(b.toLong, 0L)
          val rc = prop.getOrElse(b.toLong, 0L)
          ((tc + 1) * (rTot + 256) * 10000L) / ((rc + 1) * (tTot + 256))
        }
        val scoreLit = typedlit(scores)
        contained
          .withColumn("_toks", tokens(col("text")))
          .withColumn("_ss", aggregate(
            transform(col("_toks"),
              tk => element_at(scoreLit, bucketOf(tk).cast("int") + lit(1))),
            lit(0L), (acc, x) => acc + x))
          .withColumn("_w", expr("_ss div greatest(size(_toks), 1)"))
          .filter(expr(
            "conv(substring(md5(concat('dsir0|', cast(doc_id as string))), 1, 8), 16, 10)")
            .cast("long") % 10000 < least(col("_w"), lit(10000L)))
          .drop("_toks", "_ss", "_w")
    }

    // 6 ── mixture over the SURVIVORS: UniMax water-filling across
    // languages (q130's shared allocation helper) or q102 temperature
    // keep-rates per source
    val mixed =
      if (unimax) {
        val base = selected.select(col("doc_id"), col("lang"),
          token_count(col("text")).cast("long").as("tc"))
        val rates = graft.text.CurationQueries.unimaxAllocation(base)
          .select(col("lang"), col("epochs_e4"))
        selected.join(broadcast(rates), "lang")
          .filter(expr(
            "conv(substring(md5(concat('unimax0|', cast(doc_id as string))), 1, 8), 16, 10)")
            .cast("long") % 10000 < col("epochs_e4"))
          .drop("epochs_e4")
      } else if (mixBase <= 0) selected
      else {
        val counts = selected.groupBy(col("source")).agg(count(lit(1)).as("n"))
        val nMax = counts.agg(max(col("n"))).head.getLong(0)
        val th = counts.select(col("source"),
          least(floor(lit(mixBase.toDouble) *
            sqrt(lit(nMax).cast("double") / col("n"))).cast("long"),
            lit(10000L)).as("_th"))
        selected.join(broadcast(th), "source")
          .filter(expr(
            "conv(substring(md5(concat('mix0|', cast(doc_id as string))), 1, 8), 16, 10)")
            .cast("long") % 10000 < col("_th"))
          .drop("_th")
      }

    // 7 ── reproducible epoch order (the one eager action)
    epochDir.foreach(out =>
      graft.text.TrainOrder.writeEpochOf(
        mixed.select(col("doc_id"), col("source"), col("lang"), col("text")),
        out, epoch, shards))

    // per-stage counts as ONE union job — the q73 discipline: every
    // branch's row count depends on its own stage actually running
    val stageList: Seq[(DataFrame, String)] =
      Seq(raw -> "raw", qual -> "quality") ++
        (if (repetition) Seq(rep -> "repetition") else Nil) ++
        (if (lmRef.isDefined) Seq(ppx -> "perplexity") else Nil) ++
        Seq(clean -> "decontaminated", exact -> "exact_dedup",
          deduped -> "near_dedup") ++
        (if (containment) Seq(contained -> "containment") else Nil) ++
        (if (dsirTarget.isDefined) Seq(selected -> "dsir") else Nil) ++
        Seq(mixed -> "mixed")
    def cnt(df: DataFrame, stage: Int, name: String) =
      df.agg(count(lit(1)).as("n"))
        .select(lit(stage).as("stage"), lit(name).as("name"), col("n"))
    val stages = stageList.zipWithIndex
      .map { case ((df, name), i) => cnt(df, i + 1, name) }
      .reduce(_ unionByName _)
      .orderBy("stage").collect()
      .map(r => StageCount(r.getInt(0), r.getString(1), r.getLong(2)))

    Report(mixed.drop("_q"), stages.toSeq)
  }

  // ───────────────────── incremental ingest (r13) ──────────────────
  // `curate` rebuilds dedup state from the corpus artifacts — right
  // for a dataset that changed wholesale, wrong for production ingest
  // where batches ARRIVE. `initIncremental` + `curateBatch` compose
  // the measured incremental pieces into the facade's batch path:
  // probe ([[graft.text.IncrementalDedup.newPairsPruned]] against the
  // `_bb`-partitioned band store — flat in corpus size), fold
  // ([[graft.text.LabelStore.fold]] — rewrites only the partitions
  // holding touched components), then admit the batch's own band rows
  // (an APPEND into its `_bb` partitions — band rows are immutable
  // per doc, so admission never rewrites) so the NEXT batch probes
  // this one. Correctness is the q165 identity lifted to the facade:
  // CurationFacadeSpec pins that two sequential `curateBatch` folds
  // leave the store row-identical to one full rebuild over
  // base ∪ batch1 ∪ batch2 — labels AND survivor set.

  /** Seed the mutable ingest store from a corpus frame (`doc_id`,
    * `text`): the partitioned band store plus the label/pair store.
    * One sketch pass over the corpus; the dedup structures are
    * derived from the just-written bands so store and structures
    * cannot drift. */
  def initIncremental(spark: SparkSession, docs: DataFrame,
                      storeDir: String, buckets: Int = 256): Unit = {
    GraftSession.configure(spark)
    graft.text.TextQueries.explodeBands(
        docs.filter(col("text").isNotNull)
          .select(col("doc_id"),
            graft.text.TextFunctions.minhash_signature(col("text"), 3)
              .as("sig"))
          .filter(col("sig").isNotNull))
      .withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))
      .repartition(col("_bb"))
      .write.mode("overwrite").partitionBy("_bb")
      .parquet(s"$storeDir/bands")
    val bands = spark.read.parquet(s"$storeDir/bands").drop("_bb")
    val pairs = graft.text.TextQueries.candidatePairsFromBands(bands)
      .persist()
    try graft.text.CurationQueries.withDupClusterLabels(spark, pairs) {
      labels =>
        graft.text.LabelStore.publish(labels, pairs,
          s"$storeDir/dedup", buckets)
    } finally pairs.unpersist(false)
  }

  /** [[initIncremental]] from a corpus directory's EXISTING dedup
    * artifacts ([[graft.text.BandIndex]]/[[graft.text.PairIndex]]/
    * [[graft.text.ClusterIndex]] — built if absent, one shared kernel
    * pass): no re-sketching when the corpus is already indexed. */
  def initIncremental(spark: SparkSession, corpusDir: String,
                      storeDir: String, buckets: Int): Unit = {
    GraftSession.configure(spark)
    graft.text.DedupIndexes.buildAll(spark, corpusDir)
    graft.text.BandIndex.load(spark, corpusDir)
      .withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))
      .repartition(col("_bb"))
      .write.mode("overwrite").partitionBy("_bb")
      .parquet(s"$storeDir/bands")
    graft.text.LabelStore.publish(
      graft.text.ClusterIndex.load(spark, corpusDir),
      graft.text.PairIndex.load(spark, corpusDir),
      s"$storeDir/dedup", buckets)
  }

  /** One ingest batch's result: the funnel counts plus the fold's
    * per-batch IO evidence. */
  case class BatchReport(stages: Seq[StageCount],
                         fold: graft.text.LabelStore.FoldStats)

  /** Resolve the store's bucket count from the `_meta` sidecar
    * [[graft.text.LabelStore.publish]] records (both halves of the
    * ingest store — bands and dedup — are always initialized with ONE
    * value, so the dedup sidecar is authoritative for both). A caller
    * passing an explicit count must agree with it — a silent mismatch
    * makes [[graft.text.IncrementalDedup.newPairsPruned]] prune with
    * the wrong modulus (missed duplicate pairs) and the fold read the
    * wrong `_cb=`/`_db=` dirs (missed components), with no error.
    * `passed = 0` means "whatever the store says"; a pre-sidecar
    * store requires an explicit count. */
  private def storeBuckets(storeDir: String, passed: Int): Int =
    graft.text.LabelStore.bucketsOf(s"$storeDir/dedup") match {
      case Some(b) =>
        require(passed == 0 || passed == b,
          s"ingest store $storeDir was initialized with buckets=$b " +
            s"but the caller passed buckets=$passed")
        b
      case None =>
        require(passed > 0,
          s"ingest store $storeDir predates the _meta sidecar — pass " +
            "the bucket count it was built with")
        passed
    }

  /** Ingest one batch (`doc_id` disjoint from everything already in
    * the store — the probe's precondition) through the incremental
    * funnel: optional quality floor → batch sketch → pruned probe →
    * partition-incremental fold → band admission. Per-batch cost is
    * batch-scale + touched-partition IO, independent of how big the
    * store has grown (`tools/IncrementalBench`, SURVEY §8 r13).
    * `qualityMin` defaults OFF (0.0) so the fold identity is exact;
    * production sets the same floor `curate` uses.
    *
    * BREAKING (r14): `buckets0` defaults to 0 = "resolve from the
    * store's `_meta` sidecar" where it used to default to 256. A
    * pre-sidecar store (published before r14) now throws at runtime
    * unless the caller passes the bucket count it was built with —
    * deliberately: the old silent default mis-pruned any store NOT
    * built with 256. Same change applies to [[forgetBatch]]. */
  def curateBatch(spark: SparkSession, storeDir: String,
                  batch: DataFrame, buckets0: Int = 0,
                  qualityMin: Double = 0.0): BatchReport = {
    import graft.text.TextFunctions._
    GraftSession.configure(spark)
    val buckets = storeBuckets(storeDir, buckets0)
    val raw = batch.filter(col("text").isNotNull)
    val qual =
      if (qualityMin <= 0) raw
      else raw.filter(
        quality_score_t(col("text"), tokens(col("text"))) >= qualityMin)
    val mh = qual.select(col("doc_id"),
        minhash_signature(col("text"), 3).as("sig"))
      .filter(col("sig").isNotNull)
    val batchBands = graft.text.TextQueries.explodeBands(mh).persist()
    // a crashed forgetBatch may have left a band bucket aside
    graft.etl.Commit.recover(java.nio.file.Paths.get(s"$storeDir/bands"))
    try {
      val np = graft.text.IncrementalDedup.newPairsPruned(
        spark.read.parquet(s"$storeDir/bands"), batchBands, buckets)
        .persist()
      try {
        val fold = graft.text.LabelStore.fold(spark,
          s"$storeDir/dedup", buckets, np)
        // admit the batch AFTER the probe (self-hits would otherwise
        // pair every batch doc with itself): append-only — band rows
        // are immutable per doc, so admission rewrites nothing
        batchBands
          .withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))
          .repartition(col("_bb"))
          .write.mode("append").partitionBy("_bb")
          .parquet(s"$storeDir/bands")
        // funnel counts, the q73 union discipline
        val cnts = Seq(raw -> "batch_raw", qual -> "quality",
          mh -> "sketched")
        val stages = cnts.zipWithIndex.map { case ((df, name), i) =>
          df.agg(count(lit(1)).as("n"))
            .select(lit(i + 1).as("stage"), lit(name).as("name"), col("n"))
        }.reduce(_ unionByName _).orderBy("stage").collect()
          .map(r => StageCount(r.getInt(0), r.getString(1), r.getLong(2)))
        BatchReport(stages.toSeq, fold)
      } finally np.unpersist(false)
    } finally batchBands.unpersist(false)
  }

  /** What a forget did across the ingest store: the band rows and
    * partitions it removed plus the label/pair store's own stats.
    * Counts only — the request keys are not retained. */
  case class ForgetReport(bandRowsRemoved: Long, bandBucketsRewritten: Int,
                          bandBytesWritten: Long,
                          dedup: graft.text.LabelStore.ForgetStats)

  /** FORGET documents from the ingest store — the
    * right-to-be-forgotten path for the incremental dedup stack
    * ([[graft.etl.MergeOps.deleteBucketed]] erases source rows; this
    * erases their DERIVED traces). Two halves:
    *
    *   - band store: the docs' band rows vanish so no future batch
    *     can pair against forgotten content. Bands are `_bb`-keyed
    *     (by band hash, not doc), so locating a doc's rows costs ONE
    *     narrow shuffle-free scan (the store is laid out for the
    *     probe direction, not this one — the same irreducible-floor
    *     trade as [[graft.etl.TableDiff]]'s fingerprint pass); only
    *     the partitions that actually held them are rewritten by
    *     staged swap.
    *   - label/pair store: [[graft.text.LabelStore.forget]] —
    *     touched components re-converge from their remaining pairs
    *     (splits, rep re-election, whole-component erasure), bucket
    *     IO proportional to those components, never the corpus.
    *
    * Correctness is the rebuild identity, CurationFacadeSpec-pinned:
    * after `forgetBatch(D)` the store's labels, pairs, bands and the
    * [[incrementalSurvivors]] view are row-identical to
    * [[initIncremental]] run on the corpus WITHOUT D.
    *
    * Scope note, stated rather than hidden: this cleans the INGEST
    * STORE. A concurrently-running [[graft.streaming.StreamingNearDup]]
    * query keeps its own checkpointed band state — forgotten content
    * stays pairable THERE until that state is rebuilt/compacted from
    * the cleaned store (its Bloom "seen" gate is read-skipping only,
    * so no correctness interaction — just retention). A production
    * forget pipeline bounces the stream after the store fold.
    *
    * BREAKING (r14): `buckets0 = 0` now means "resolve from `_meta`"
    * (was: fixed default 256) — see [[curateBatch]]. */
  def forgetBatch(spark: SparkSession, storeDir: String,
                  docs: DataFrame, buckets0: Int = 0): ForgetReport = {
    GraftSession.configure(spark)
    val buckets = storeBuckets(storeDir, buckets0)
    val d = docs.select(col("doc_id")).distinct().persist()
    try {
      val bandsPath = s"$storeDir/bands"
      graft.etl.Commit.recover(java.nio.file.Paths.get(bandsPath))
      val bands = spark.read.parquet(bandsPath)
      val mine = bands.join(broadcast(d), Seq("doc_id"), "left_semi")
      val hit = mine.select(col("_bb").cast("long")).distinct().collect()
        .map(_.getLong(0)).toSeq.sorted
      val removed = if (hit.isEmpty) 0L else mine.count()
      val bandBytes = if (hit.nonEmpty) {
        val tmp = graft.etl.Commit.stage(java.nio.file.Paths.get(storeDir))
        try {
          val keep = bands.filter(col("_bb").isin(hit: _*))
            .join(broadcast(d), Seq("doc_id"), "left_anti")
          graft.text.LabelStore.rewritePartitions(spark, bandsPath,
            "_bb", hit, keep, tmp)
        } finally graft.etl.Commit.deleteRecursively(tmp)
      } else 0L
      val fs = graft.text.LabelStore.forget(spark, s"$storeDir/dedup",
        buckets, d)
      ForgetReport(removed, hit.size, bandBytes, fs)
    } finally d.unpersist(false)
  }

  /** The min-id survivor view over a docs frame given the ingest
    * store's labels: every labeled non-representative drops, unlisted
    * docs (singletons) survive — the q165/rebuild-identical rule. */
  def incrementalSurvivors(spark: SparkSession, storeDir: String,
                           docs: DataFrame): DataFrame =
    docs.join(
      graft.text.LabelStore.labelsByDoc(spark, s"$storeDir/dedup")
        .filter(col("doc_id") =!= col("rep")).select(col("doc_id")),
      Seq("doc_id"), "left_anti")

  /** The per-source corpus report card (q122): document counts, token
    * totals, token-count p50/p90/p99 (log-histogram sketch) and a
    * distinct-token HLL estimate — two constant-state exchanges over
    * the corpus, the monitoring query to schedule against any dataset
    * this facade curates. Every column is cross-engine hash-checked as
    * q122. */
  def reportCard(spark: SparkSession, corpusDir: String): DataFrame = {
    GraftSession.configure(spark)
    graft.text.CurationQueries.queries("q122_corpus_report")
      .build(spark, corpusDir)
  }

  /** The dataset's full DATA CARD: the four oracle-checked monitoring
    * surfaces a corpus owner publishes and re-runs nightly, in one
    * call —
    *
    *   - `report`  (q122): per-source doc/token totals, length
    *     percentiles, distinct-token estimate (two constant-state
    *     sketch exchanges);
    *   - `overlap` (q141): pairwise cross-source overlap at sketch
    *     cost, with exact counts and the sketch's own error report;
    *   - `drift`   (q143): per-source length-distribution TV distance
    *     vs the reference source;
    *   - `leakage` (q144): near-dup pairs straddling the train/val/
    *     test hash split — the eval-contamination census;
    *   - `growth`  (q155): the Heaps'-law novelty curve — cumulative
    *     tokens vs cumulative distinct shingles across corpus
    *     prefixes; a curve that flattens early means the tail
    *     re-treads the head.
    *
    * Each frame is lazy; collect what the card needs. Every number is
    * cross-engine hash-checked under its query id, so the card is
    * auditable, not just printable. */
  case class DataCard(report: DataFrame, overlap: DataFrame,
                      drift: DataFrame, leakage: DataFrame,
                      growth: DataFrame)

  def dataCard(spark: SparkSession, corpusDir: String): DataCard = {
    GraftSession.configure(spark)
    def q(name: String): DataFrame = {
      val specs = graft.text.CurationQueries.queries ++
        graft.text.TextQueries.queries
      specs(name).build(spark, corpusDir)
    }
    DataCard(
      report = q("q122_corpus_report"),
      overlap = q("q141_sketch_overlap"),
      drift = q("q143_hist_drift"),
      leakage = q("q144_split_leakage"),
      growth = q("q155_vocab_growth"))
  }
}
