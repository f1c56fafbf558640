package graft.text

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Commit

/** Hash-partitioned, incrementally-foldable publication store for the
  * dedup LABEL and PAIR structures — the write half of the
  * incremental-dedup story finished (r13).
  *
  * [[IncrementalDedup.updatedLabels]] re-converges only the touched
  * components, but its output UNIONS the untouched labels back in, so
  * any real publication of the result rewrites the whole label table
  * per batch — the one per-batch term the round-12 measurement showed
  * growing with corpus size (IncrementalBench: the fold column's
  * 2.4→3.1 s residual over 1000× was exactly the |corpus|-scale
  * passthrough). This store removes that term the same way the
  * round-12 `_bb` band store removed the probe's
  * ([[BandIndex.loadPartitioned]]): partition on keys that CO-LOCATE
  * what a fold touches, then write only the delta.
  *
  * Layout under `dir` (plain parquet, `buckets` fixed for the store's
  * lifetime — a layout parameter, like the band store's). Each table
  * is base partitions + an LSM-style delta segment dir (`_delta/`,
  * one small file appended per fold; the underscore hides it from
  * Spark partition discovery, so readers opt in explicitly):
  *
  *   - `byRep/_cb=<b>/`  — (doc_id, rep), b = pmod(rep, buckets).
  *     A component's rows live in ONE partition, so the pairs/labels
  *     of the components a batch touches are a bounded partition
  *     read — never the corpus.
  *   - `byDoc/_db=<b>/`  — the same rows keyed b = pmod(doc_id,
  *     buckets): the endpoint→rep LOOKUP table. The fold's first step
  *     (which old components does the batch brush?) probes by doc id,
  *     which the rep-keyed layout cannot prune; the doc-keyed twin
  *     prunes it to the batch's own bucket set. Labels are PAIR-scale
  *     (docs in no pair are unlisted — [[ClusterIndex]]'s singleton
  *     convention), so carrying the mapping twice costs two
  *     pair-scale tables, not two corpus-scale ones — the standard
  *     forward+inverted-index trade.
  *   - `pairs/_cb=<b>/`  — (da, db, rep) with rep = the pair's
  *     component label (both endpoints agree by construction),
  *     b = pmod(rep, buckets).
  *
  * Fold cost contract — why per-batch cost AND bytes are flat in
  * corpus size (measured 1×→1000×, `tools/IncrementalBench` foldw/wr
  * columns, SURVEY §8 round-13):
  *
  *   - READS prune to named partition dirs ([[readBuckets]] — listing
  *     included: `spark.read(root).filter(isin)` prunes file READS
  *     but still LISTS every bucket dir, which dominated at 4096
  *     buckets) plus the small delta segments.
  *   - ADDITIONS (batch labels, new pairs, moved pairs) are ONE
  *     unpartitioned file per table per fold, moved into `_delta/`.
  *     An eager per-bucket append was measured at ~22 ms of parquet
  *     writer overhead per touched bucket — ~42 s for a 1000-doc
  *     batch at 4096 buckets; the delta segment makes it ~0.3 s,
  *     the LSM trade, amortized by [[compact]] exactly like
  *     [[graft.streaming.StreamingNearDup.compactState]].
  *   - REMOVALS exist only when components MERGE (a label row changes
  *     only when its whole component's rep does): merge-scale,
  *     usually zero. They rewrite just the merged reps' base buckets
  *     (each ~corpus/buckets rows — constant once `buckets` scales
  *     with the corpus so a partition is ~one IO unit) and re-segment
  *     the (small) deltas.
  *   - DRIVER collects are the bucket sets (≤ buckets values) plus
  *     the touched-rep set (≤ |batch pair endpoints| — batch-scale,
  *     the same class as the probe's bucket collect).
  *
  * Publication follows [[graft.etl.Commit]]: every write stages in
  * the store root and lands by per-bucket swap (a bucket whose
  * content merges away is REMOVED, the case dynamic partition
  * overwrite silently gets wrong), by swapping in uniquely-named
  * segment files under `_delta/`, or by swapping a re-segmented
  * `_delta/` whole. Atomicity is per bucket, file or delta dir, not
  * per fold.
  *
  * Correctness is pinned three ways (LabelStoreSpec): the folded
  * store is row-identical to [[IncrementalDedup.updatedLabels]]'s
  * union fold on real sf0.001 bands; an engineered merge shows
  * emptied buckets deleted while untouched buckets stay
  * byte-identical; a merge-free fold swaps ZERO buckets and lands
  * exactly the delta rows. CurationFacadeSpec lifts the identity to
  * sequential `Curation.curateBatch` folds vs one full rebuild. */
object LabelStore {

  /** What a fold did — the per-batch cost evidence. `labelsWritten`/
    * `pairsWritten` count the appended delta rows; the two bucket
    * counts are the swapped (removal-bearing) base partitions — zero
    * on a merge-free fold; `bytesWritten` totals swaps + delta
    * re-segments + appends. */
  case class FoldStats(newPairs: Long, touchedReps: Long,
                       labelsWritten: Long, pairsWritten: Long,
                       repBucketsRewritten: Int, docBucketsRewritten: Int,
                       bytesWritten: Long)

  private def byRepPath(dir: String) = s"$dir/byRep"
  private def byDocPath(dir: String) = s"$dir/byDoc"
  private def pairsPath(dir: String) = s"$dir/pairs"
  private def deltaPath(tablePath: String) = s"$tablePath/_delta"
  private def metaPath(dir: String) = Paths.get(dir, "_meta")

  /** The generation all reads and mutations act on: the highest `v<N>`
    * subdir once a RE-publish has claimed one, else the store root
    * itself (the base layout the FIRST publish writes — pre-generation
    * stores keep working unchanged). [[Commit.claim]], as
    * [[graft.similarity.VectorStore]] uses for retrain. */
  private def genRoot(dir: String): String = {
    val v = Commit.latestVersion(Paths.get(dir))
    if (v > 0) s"$dir/v$v" else dir
  }

  /** Abort loudly if a concurrent RE-publish claimed a newer generation
    * after this operation resolved `dir` — the [[graft.similarity
    * .VectorStore]] retrain write-race, LabelStore's side. fold/forget/
    * compact call this immediately before their FIRST directory
    * mutation: everything earlier is a read or a staging write outside
    * the store, so aborting here strands nothing; past this point the
    * single-writer contract holds (publishers must quiesce folds — a
    * claim that lands mid-mutation is the caller's violation, and this
    * check shrinks that window to the mutation phase instead of the
    * whole operation). */
  /** Test seam: runs inside [[checkGeneration]], i.e. immediately
    * before the generation re-check that gates the first directory
    * mutation of fold/forget/compact — LabelStoreSpec injects a
    * concurrent re-publish here to prove the race aborts loudly with
    * the store untouched. No-op in production. */
  private[graft] var beforeMutate: () => Unit = () => ()

  private def checkGeneration(storeDir: String, resolved: String): Unit = {
    beforeMutate()
    val now = genRoot(storeDir)
    if (now != resolved)
      throw new IllegalStateException(
        s"LabelStore at $storeDir: a concurrent re-publish claimed " +
          s"generation $now while this operation was working against " +
          s"$resolved — aborting before mutating the superseded " +
          "generation (its delta would be stranded and lost at " +
          "pruneGenerations). Quiesce fold/forget/compact around " +
          "publish, then retry against the new generation.")
  }

  /** The writer paths' [[Commit.recover]] over the store root, the
    * resolved generation and its three tables. */
  private[graft] def recover(storeDir: String): Unit = {
    val dir = genRoot(storeDir)
    Seq(storeDir, dir, byRepPath(dir), byDocPath(dir), pairsPath(dir))
      .distinct.foreach(p => Commit.recover(Paths.get(p)))
  }

  /** The bucket count this store was published with, from the `_meta`
    * sidecar ([[publish]] writes it). `None` on a pre-sidecar store. */
  def bucketsOf(storeDir: String): Option[Int] =
    Commit.readProps(metaPath(genRoot(storeDir))).get("buckets")
      .map(_.trim.toInt)

  /** Fail fast when the caller's bucket count disagrees with the
    * store's recorded one — a silent mismatch corrupts invisibly
    * (reads prune the WRONG `_cb=`/`_db=` dirs: missed components,
    * never an error). Pre-sidecar stores (no `_meta`) pass through on
    * the caller's word, exactly as before the sidecar existed. */
  private def checkBuckets(dir: String, buckets: Int): Unit =
    bucketsOf(dir).foreach { stored =>
      require(stored == buckets,
        s"LabelStore at $dir was published with buckets=$stored but " +
          s"the caller passed buckets=$buckets — bucket-keyed partition " +
          "pruning would silently read the wrong dirs")
    }

  private val labelSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("rep",
      org.apache.spark.sql.types.LongType)))
  private val pairSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("da",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("db",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("rep",
      org.apache.spark.sql.types.LongType)))

  private def emptyFrame(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      schema)

  /** Read EXACTLY the named base partition dirs of a table. `spark
    * .read.parquet(root).filter(_cb isin ...)` prunes what it READS
    * but still LISTS every partition dir during discovery — at
    * thousands of buckets the listing dominates the fold (the same
    * lesson [[graft.streaming.StreamingNearDup]] learned and solved
    * with a manifest; here bucket→dir is computable, so no manifest
    * is needed). Missing dirs (never-written buckets) are skipped;
    * zero dirs yields an empty frame with the store schema (minus the
    * partition column, which every caller drops anyway). */
  private def readBuckets(s: SparkSession, tablePath: String,
                          partCol: String, vals: Seq[Long],
                          schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val dirs = vals.distinct
      .map(v => Paths.get(tablePath, s"$partCol=$v"))
      .filter(Files.isDirectory(_)).map(_.toString)
    if (dirs.isEmpty) emptyFrame(s, schema)
    else s.read.option("basePath", tablePath).parquet(dirs: _*)
  }

  /** The table's delta segments (rows folded in since the last
    * [[compact]]); empty frame when none exist. Hidden from base
    * reads by the underscore prefix — every reader here unions it
    * explicitly. */
  private def readDelta(s: SparkSession, tablePath: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val p = Paths.get(deltaPath(tablePath))
    if (!Files.isDirectory(p)) emptyFrame(s, schema)
    else s.read.schema(schema).parquet(p.toString)
  }

  /** Publication: `labels` (doc_id, rep) and `pairs` (da, db) written
    * into the three partitioned tables (no delta). Pairs are tagged
    * with their component rep via the da endpoint's label (da and db
    * agree — the closure was built over these pairs). `repartition` by
    * the partition column before each write keeps file counts at
    * ~`buckets`, not tasks × buckets.
    *
    * Crash safety: the FIRST publish writes the base layout at the
    * store root, `_meta` LAST after all three data tables land (a
    * crash leaves data without a sidecar — pre-sidecar trust, and the
    * next publish supersedes it wholesale). A RE-publish over a store
    * that already holds data NEVER overwrites in place — a crash
    * mid-overwrite would leave mixed-modulus tables that pre-sidecar
    * trust then reads with silent mis-pruning. It stages the complete
    * new layout (three tables + `_meta`) and claims the next `v<N>`
    * generation ([[Commit.claim]], as `VectorStore.retrain` does):
    * every entry point resolves the highest complete generation. Old
    * generations stay on disk for in-flight readers; [[pruneGenerations]]
    * drops them once drained. */
  def publish(labels: DataFrame, pairs: DataFrame, dir: String,
              buckets: Int): Unit = {
    require(buckets >= 1)
    val root = Paths.get(dir)
    val current = genRoot(dir)
    val hasData = Files.isDirectory(Paths.get(byRepPath(current))) ||
      Files.isRegularFile(metaPath(current))
    if (!hasData) publishInto(labels, pairs, dir, buckets)
    else {
      Commit.recover(root)
      val stage = Commit.stage(root)
      publishInto(labels, pairs, stage.toString, buckets)
      Commit.claim(root, stage)
      ()
    }
  }

  /** Drop superseded `v<N>` generations, keeping the newest `keep`
    * (call once in-flight readers of older generations are drained;
    * the root-level BASE layout of a since-superseded store is left in
    * place — it is generation "v0" and harmless). */
  def pruneGenerations(dir: String, keep: Int = 2): Unit =
    Commit.prune(Paths.get(dir), keep)

  private def publishInto(labels: DataFrame, pairs: DataFrame,
                          dst: String, buckets: Int): Unit = {
    val b = lit(buckets.toLong)
    labels.select(col("doc_id"), col("rep"))
      .withColumn("_cb", pmod(col("rep"), b))
      .repartition(col("_cb"))
      .write.mode("overwrite").partitionBy("_cb").parquet(byRepPath(dst))
    labels.select(col("doc_id"), col("rep"))
      .withColumn("_db", pmod(col("doc_id"), b))
      .repartition(col("_db"))
      .write.mode("overwrite").partitionBy("_db").parquet(byDocPath(dst))
    pairs.select(col("da"), col("db"))
      .join(labels.select(col("doc_id").as("da"), col("rep")), Seq("da"))
      .withColumn("_cb", pmod(col("rep"), b))
      .repartition(col("_cb"))
      .write.mode("overwrite").partitionBy("_cb").parquet(pairsPath(dst))
    // LAST, after all three data tables: a crash above leaves a
    // sidecar-less stage/base that is never claimed / trusted wholesale
    Commit.writeProps(metaPath(dst), "buckets" -> buckets.toString)
  }

  /** The converged (doc_id, rep) labels — the [[ClusterIndex]]
    * surface: rep-keyed base plus the delta segments. */
  def labels(s: SparkSession, storeDir: String): DataFrame = {
    val dir = genRoot(storeDir)
    // explicit schema: a store whose every base bucket was forgotten
    // away holds only `_delta/`, and empty parquet cannot infer
    s.read.schema(labelSchema).parquet(byRepPath(dir))
      .select(col("doc_id"), col("rep"))
      .unionByName(readDelta(s, byRepPath(dir), labelSchema))
  }

  /** The same labels from the doc-keyed lookup twin (the two tables
    * carry identical rows — LabelStoreSpec pins it). */
  def labelsByDoc(s: SparkSession, storeDir: String): DataFrame = {
    val dir = genRoot(storeDir)
    s.read.schema(labelSchema).parquet(byDocPath(dir))
      .select(col("doc_id"), col("rep"))
      .unionByName(readDelta(s, byDocPath(dir), labelSchema))
  }

  /** The component-tagged pair set (da, db, rep). */
  def pairs(s: SparkSession, storeDir: String): DataFrame = {
    val dir = genRoot(storeDir)
    s.read.schema(pairSchema).parquet(pairsPath(dir))
      .select(col("da"), col("db"), col("rep"))
      .unionByName(readDelta(s, pairsPath(dir), pairSchema))
  }

  /** Fold a batch's new pairs ([[IncrementalDedup.newPairsPruned]] /
    * [[IncrementalDedup.newPairs]] output) into the store: additions
    * land as one delta segment per table, removals (merges only)
    * rewrite just the merged reps' buckets. Row-for-row equivalent to
    * publishing [[IncrementalDedup.updatedLabels]]'s full union fold
    * (the spec's identity), at delta IO instead of corpus IO. */
  def fold(s: SparkSession, storeDir: String, buckets: Int,
           newPairs: DataFrame): FoldStats = {
    require(buckets >= 1)
    recover(storeDir)
    val dir = genRoot(storeDir)
    checkBuckets(dir, buckets)
    val b = lit(buckets.toLong)
    val np = newPairs.select(col("da"), col("db")).persist()
    try {
      val nNew = np.count()
      if (nNew == 0)
        return FoldStats(0L, 0L, 0L, 0L, 0, 0, 0L)
      val endpoints = np.select(col("da").as("doc_id"))
        .unionByName(np.select(col("db").as("doc_id"))).distinct()
      // bounded driver collects: the batch's endpoint buckets
      // (≤ min(2·|np|, buckets) values) prune the doc-keyed lookup...
      val epBuckets = endpoints.select(pmod(col("doc_id"), b).as("v"))
        .distinct().collect().map(_.getLong(0)).toSeq
      // ...and the touched reps themselves (≤ |endpoints| values —
      // batch-scale) both prune the rep-keyed reads AND stay STABLE
      // while those tables' directories are swapped underneath (a
      // lazy frame re-reading byDoc mid-swap would race its own fold)
      val touchedRepVals =
        readBuckets(s, byDocPath(dir), "_db", epBuckets, labelSchema)
          .drop("_db")
          .unionByName(readDelta(s, byDocPath(dir), labelSchema))
          .join(broadcast(endpoints), Seq("doc_id"))
          .select(col("rep")).distinct().collect().map(_.getLong(0)).toSeq
      val trBuckets = touchedRepVals.map(r =>
        ((r % buckets) + buckets) % buckets).distinct
      val touchedReps = {
        import s.implicits._
        s.createDataset(touchedRepVals).toDF("rep")
      }
      // all pairs of the touched components: named-bucket read +
      // delta union + rep filter — the read the flat layout had to
      // answer with a corpus-scale scan
      val affected = readBuckets(s, pairsPath(dir), "_cb", trBuckets,
          pairSchema).drop("_cb")
        .unionByName(readDelta(s, pairsPath(dir), pairSchema))
        .join(broadcast(touchedReps), Seq("rep"), "left_semi")
        .select(col("da"), col("db"))
      // old rows of the touched components — the frame the DELTA of
      // this fold is computed against
      val oldTouched = readBuckets(s, byRepPath(dir), "_cb", trBuckets,
          labelSchema).drop("_cb")
        .unionByName(readDelta(s, byRepPath(dir), labelSchema))
        .join(broadcast(touchedReps), Seq("rep"), "left_semi")
        .select(col("doc_id"), col("rep"))
      // re-converge ONLY (affected ∪ new); materialize the sub-labels
      // AND the additions outside the propagation's CPS scope and
      // BEFORE any directory mutation (they read store paths)
      val tmp = Commit.stage(Paths.get(storeDir))
      try {
        val subPath = tmp.resolve("sub").toString
        CurationQueries.withDupClusterLabels(s,
          affected.unionByName(np)) { sub =>
          sub.select(col("doc_id"), col("rep"))
            .write.mode("overwrite").parquet(subPath)
        }
        val sub = s.read.parquet(subPath)
        // THE DELTA: rows the fold actually changes. A fold only ever
        // grows components, so every removed old row's doc reappears
        // in `additions` with its new rep — additions alone carry
        // every row that must land. A batch that merely extends
        // components (no merge) makes this batch-scale.
        val additionsPath = tmp.resolve("additions").toString
        sub.join(oldTouched, Seq("doc_id", "rep"), "left_anti")
          .write.mode("overwrite").parquet(additionsPath)
        val additions = s.read.parquet(additionsPath)
        // old reps whose component MERGED into a new rep: their rows
        // (and their pairs) are the REMOVALS — the only thing that
        // forces base-bucket rewrites. The old rep doc is itself a
        // member, so its sub row names the new rep. Bounded by
        // |touchedReps| — batch-scale.
        val changedOldReps =
          sub.join(broadcast(touchedReps
              .withColumnRenamed("rep", "doc_id")), Seq("doc_id"))
            .filter(col("rep") =!= col("doc_id"))
            .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
        val changedReps = {
          import s.implicits._
          s.createDataset(changedOldReps).toDF("rep")
        }
        val changedBuckets = changedOldReps.map(r =>
          ((r % buckets) + buckets) % buckets).distinct
        val hasMerges = changedOldReps.nonEmpty
        // byDoc removals = old rows of docs whose label changed —
        // exactly additions ∩ oldTouched (a doc's rep changes only
        // when its whole old component merges). Merge-scale.
        val updatedDocBuckets = if (!hasMerges) Seq.empty[Long]
          else
            additions.select(col("doc_id"))
              .join(oldTouched.select(col("doc_id")), Seq("doc_id"),
                "left_semi")
              .select(pmod(col("doc_id"), b).as("v"))
              .distinct().collect().map(_.getLong(0)).toSeq

        // ── stage everything BEFORE mutating any directory ──
        // pairs to MOVE (their component merged): base changed
        // buckets + delta, re-tagged with the merged rep
        val movedPairs = readBuckets(s, pairsPath(dir), "_cb",
            changedBuckets, pairSchema).drop("_cb")
          .unionByName(readDelta(s, pairsPath(dir), pairSchema))
          .join(broadcast(changedReps), Seq("rep"), "left_semi")
          .select(col("da"), col("db"))
        val newTagged = movedPairs.unionByName(np)
          .join(sub.select(col("doc_id").as("da"), col("rep")), Seq("da"))
          .select(col("da"), col("db"), col("rep"))
        val pairApp = stageFlat(s, newTagged, tmp.resolve("appPairs"))
        // the byRep and byDoc deltas carry IDENTICAL rows — stage
        // once, land twice (bytes honestly counted per table)
        val labelApp = stageFlat(s, additions, tmp.resolve("appLabels"))
        // delta re-segments: only merges remove rows from deltas
        val deltaKeeps = if (!hasMerges) Nil
          else
            Seq(
              (byRepPath(dir), stageFlat(s,
                readDelta(s, byRepPath(dir), labelSchema)
                  .join(broadcast(changedReps), Seq("rep"), "left_anti"),
                tmp.resolve("dkRep"), countRows = false)),
              (byDocPath(dir), stageFlat(s,
                readDelta(s, byDocPath(dir), labelSchema)
                  .join(additions.select(col("doc_id")), Seq("doc_id"),
                    "left_anti"),
                tmp.resolve("dkDoc"), countRows = false)),
              (pairsPath(dir), stageFlat(s,
                readDelta(s, pairsPath(dir), pairSchema)
                  .join(broadcast(changedReps), Seq("rep"), "left_anti"),
                tmp.resolve("dkPairs"), countRows = false)))

        // ── base-bucket rewrites: merged-away rows out (merge-scale;
        // the common merge-free fold swaps NOTHING) ──
        checkGeneration(storeDir, dir)
        val keepRep = readBuckets(s, byRepPath(dir), "_cb",
            changedBuckets, labelSchema).drop("_cb")
          .join(broadcast(changedReps), Seq("rep"), "left_anti")
          .withColumn("_cb", pmod(col("rep"), b))
        val repSwapBytes =
          rewritePartitions(s, byRepPath(dir), "_cb", changedBuckets,
            keepRep, tmp.resolve("stageRep"))
        val keepDoc = readBuckets(s, byDocPath(dir), "_db",
            updatedDocBuckets, labelSchema).drop("_db")
          .join(additions.select(col("doc_id")), Seq("doc_id"),
            "left_anti")
          .withColumn("_db", pmod(col("doc_id"), b))
        val docSwapBytes =
          rewritePartitions(s, byDocPath(dir), "_db", updatedDocBuckets,
            keepDoc, tmp.resolve("stageDoc"))
        val keepPairs = readBuckets(s, pairsPath(dir), "_cb",
            changedBuckets, pairSchema).drop("_cb")
          .join(broadcast(changedReps), Seq("rep"), "left_anti")
          .withColumn("_cb", pmod(col("rep"), b))
        val pairSwapBytes =
          rewritePartitions(s, pairsPath(dir), "_cb", changedBuckets,
            keepPairs, tmp.resolve("stagePairs"))

        // ── land the deltas: re-segment (merges), then append ──
        val deltaBytes = deltaKeeps.map(_._2._1).sum
        val appendBytes = landDeltas(dir, tmp, resegment = hasMerges)

        FoldStats(nNew, touchedRepVals.size.toLong,
          labelApp._2, pairApp._2,
          changedBuckets.size, updatedDocBuckets.size,
          repSwapBytes + docSwapBytes + pairSwapBytes +
            deltaBytes + appendBytes)
      } finally Commit.deleteRecursively(tmp)
    } finally np.unpersist(false)
  }

  /** What a [[forget]] did: requested vs actually-labeled docs, the
    * components it re-converged, how many components the survivors
    * re-formed into (splits surface as newComponents > touchedReps),
    * and the IO bill. Counts only — a forget request must not be
    * remembered verbatim in an audit object. */
  case class ForgetStats(docsRequested: Long, labeledDocs: Long,
                         touchedReps: Long, newComponents: Long,
                         bytesWritten: Long)

  /** FORGET documents from the label/pair store — the
    * right-to-be-forgotten path for the dedup structures
    * ([[graft.etl.MergeOps.deleteBucketed]]'s counterpart for DERIVED
    * data, where erasure is not row deletion: removing a doc can
    * SPLIT its component, so the affected components must
    * re-converge from their remaining pairs).
    *
    * Pruning discipline (the [[fold]] recipe in reverse): the
    * forgotten docs' label rows come from the doc-keyed twin (≤|D|
    * bucket dirs), their components' pairs and members from the
    * rep-keyed tables (≤|touched reps| bucket dirs); ONLY the touched
    * components re-converge ([[CurationQueries.withDupClusterLabels]]
    * over their remaining pairs — splits, rep re-election when the
    * old rep itself is forgotten, and whole-component erasure all
    * fall out of re-convergence from scratch on that bounded
    * subgraph); only their buckets rewrite by staged swap. Cost is
    * proportional to the forgotten docs' COMPONENT sizes, never the
    * corpus. Docs with no label row (singletons) cost nothing here —
    * their band rows are the caller's business
    * ([[graft.Curation.forgetBatch]] removes those).
    *
    * Every store-reading frame is materialized to the staging dir
    * BEFORE any directory mutation (the fold's discipline — a lazy
    * frame re-reading a swapped path would race its own forget). */
  def forget(s: SparkSession, storeDir: String, buckets: Int,
             docs: DataFrame): ForgetStats = {
    require(buckets >= 1)
    recover(storeDir)
    val dir = genRoot(storeDir)
    checkBuckets(dir, buckets)
    val b = lit(buckets.toLong)
    val d = docs.select(col("doc_id")).distinct().persist()
    try {
      val nReq = d.count()
      if (nReq == 0) return ForgetStats(0L, 0L, 0L, 0L, 0L)
      val epBuckets = d.select(pmod(col("doc_id"), b).as("v"))
        .distinct().collect().map(_.getLong(0)).toSeq
      val dLabels = readBuckets(s, byDocPath(dir), "_db", epBuckets,
          labelSchema).drop("_db")
        .unionByName(readDelta(s, byDocPath(dir), labelSchema))
        .join(broadcast(d), Seq("doc_id"))
      val touchedRepVals =
        dLabels.select(col("rep")).distinct()
          .collect().map(_.getLong(0)).toSeq
      if (touchedRepVals.isEmpty)
        return ForgetStats(nReq, 0L, 0L, 0L, 0L)
      val trBuckets = touchedRepVals.map(r =>
        ((r % buckets) + buckets) % buckets).distinct
      val touchedReps = {
        import s.implicits._
        s.createDataset(touchedRepVals).toDF("rep")
      }
      val tmp = Commit.stage(Paths.get(storeDir))
      try {
        // ── stage phase: every store read lands in tmp before any
        // directory mutates ──
        val affected = readBuckets(s, pairsPath(dir), "_cb", trBuckets,
            pairSchema).drop("_cb")
          .unionByName(readDelta(s, pairsPath(dir), pairSchema))
          .join(broadcast(touchedReps), Seq("rep"), "left_semi")
          .select(col("da"), col("db"))
        val remaining = affected
          .join(broadcast(d.withColumnRenamed("doc_id", "da")),
            Seq("da"), "left_anti")
          .join(broadcast(d.withColumnRenamed("doc_id", "db")),
            Seq("db"), "left_anti")
        remaining.write.mode("overwrite")
          .parquet(tmp.resolve("remaining").toString)
        // explicit schemas on every tmp read: an all-forgotten
        // component leaves these frames EMPTY, and empty parquet has
        // no inferable schema
        val remSchema = org.apache.spark.sql.types.StructType(
          pairSchema.fields.filter(_.name != "rep"))
        val rem = s.read.schema(remSchema)
          .parquet(tmp.resolve("remaining").toString)
        val oldTouched = readBuckets(s, byRepPath(dir), "_cb", trBuckets,
            labelSchema).drop("_cb")
          .unionByName(readDelta(s, byRepPath(dir), labelSchema))
          .join(broadcast(touchedReps), Seq("rep"), "left_semi")
          .select(col("doc_id"), col("rep"))
        oldTouched.write.mode("overwrite")
          .parquet(tmp.resolve("oldTouched").toString)
        val oldT = s.read.schema(labelSchema)
          .parquet(tmp.resolve("oldTouched").toString)
        val nLabeled = dLabels.count()
        val subPath = tmp.resolve("sub").toString
        CurationQueries.withDupClusterLabels(s, rem) { sub =>
          sub.select(col("doc_id"), col("rep"))
            .write.mode("overwrite").parquet(subPath)
        }
        val sub = s.read.schema(labelSchema).parquet(subPath)
        val nComponents = sub.select(col("rep")).distinct().count()
        val memberDocBuckets = oldT
          .select(pmod(col("doc_id"), b).as("v"))
          .distinct().collect().map(_.getLong(0)).toSeq
        val newTagged = rem
          .join(sub.select(col("doc_id").as("da"), col("rep")), Seq("da"))
          .select(col("da"), col("db"), col("rep"))
        stageFlat(s, sub, tmp.resolve("appLabels"), countRows = false)
        stageFlat(s, newTagged, tmp.resolve("appPairs"),
          countRows = false)
        val deltaKeeps =
          Seq(
            (byRepPath(dir), stageFlat(s,
              readDelta(s, byRepPath(dir), labelSchema)
                .join(broadcast(touchedReps), Seq("rep"), "left_anti"),
              tmp.resolve("dkRep"), countRows = false)),
            (byDocPath(dir), stageFlat(s,
              readDelta(s, byDocPath(dir), labelSchema)
                .join(oldT.select(col("doc_id")), Seq("doc_id"),
                  "left_anti"),
              tmp.resolve("dkDoc"), countRows = false)),
            (pairsPath(dir), stageFlat(s,
              readDelta(s, pairsPath(dir), pairSchema)
                .join(broadcast(touchedReps), Seq("rep"), "left_anti"),
              tmp.resolve("dkPairs"), countRows = false)))

        // ── mutate phase: base-bucket swaps (each rewritePartitions
        // call stages its own output before swapping), delta
        // re-segment, then the re-converged rows land as deltas ──
        checkGeneration(storeDir, dir)
        val keepRep = readBuckets(s, byRepPath(dir), "_cb", trBuckets,
            labelSchema).drop("_cb")
          .join(broadcast(touchedReps), Seq("rep"), "left_anti")
          .withColumn("_cb", pmod(col("rep"), b))
        val repBytes =
          rewritePartitions(s, byRepPath(dir), "_cb", trBuckets,
            keepRep, tmp.resolve("stageRep"))
        val keepDoc = readBuckets(s, byDocPath(dir), "_db",
            memberDocBuckets, labelSchema).drop("_db")
          .join(oldT.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .withColumn("_db", pmod(col("doc_id"), b))
        val docBytes =
          rewritePartitions(s, byDocPath(dir), "_db", memberDocBuckets,
            keepDoc, tmp.resolve("stageDoc"))
        val keepPairs = readBuckets(s, pairsPath(dir), "_cb", trBuckets,
            pairSchema).drop("_cb")
          .join(broadcast(touchedReps), Seq("rep"), "left_anti")
          .withColumn("_cb", pmod(col("rep"), b))
        val pairBytes =
          rewritePartitions(s, pairsPath(dir), "_cb", trBuckets,
            keepPairs, tmp.resolve("stagePairs"))
        val deltaBytes = deltaKeeps.map(_._2._1).sum
        val appendBytes = landDeltas(dir, tmp, resegment = true)
        ForgetStats(nReq, nLabeled, touchedRepVals.size.toLong,
          nComponents,
          repBytes + docBytes + pairBytes + deltaBytes + appendBytes)
      } finally Commit.deleteRecursively(tmp)
    } finally d.unpersist(false)
  }

  /** Write `out` as a single unpartitioned segment file in `staging`;
    * returns (bytes, rows). The single file IS the point — an eager
    * per-bucket append was measured at ~22 ms of parquet writer
    * overhead per touched bucket. */
  private def stageFlat(s: SparkSession, out: DataFrame, staging: Path,
                        countRows: Boolean = true): (Long, Long) = {
    out.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    (dirBytes(staging),
      if (countRows) s.read.parquet(staging.toString).count() else -1L)
  }

  /** Land a fold's staged segments (`appLabels` into byRep and byDoc,
    * `appPairs` into pairs) in each table's `_delta/`, copied under
    * fresh `seg-<uuid>-` names (one segment lands in two tables).
    * Without `resegment` each copy joins `_delta/` as a new file; with
    * it, the copies join the staged re-segment of the old delta
    * (`dkRep`/`dkDoc`/`dkPairs`) and that dir replaces `_delta/` whole.
    * Returns the bytes copied. */
  private def landDeltas(dir: String, tmp: Path, resegment: Boolean): Long =
    Seq((byRepPath(dir), "appLabels", "dkRep"),
      (byDocPath(dir), "appLabels", "dkDoc"),
      (pairsPath(dir), "appPairs", "dkPairs")).map { case (table, app, dk) =>
      val into = tmp.resolve(if (resegment) dk else "copies")
      Files.createDirectories(into)
      val copies = Commit.list(tmp.resolve(app))
        .filter(_.getFileName.toString.startsWith("part-")).map { f =>
          val t = into.resolve(
            s"seg-${java.util.UUID.randomUUID}-${f.getFileName}")
          Files.copy(f, t)
          t
        }
      val bytes = copies.map(Files.size).sum
      val delta = Paths.get(deltaPath(table))
      if (resegment) Commit.swap(delta, into)
      else copies.foreach(t => Commit.swap(delta.resolve(t.getFileName), t))
      bytes
    }.sum

  /** Fold the delta segments back into the base bucket layout, one
    * file per partition — the amortization run the append trade
    * requires (the [[graft.streaming.StreamingNearDup.compactState]]
    * precedent). Content-preserving; schedule by segment count, not
    * per fold. */
  def compact(s: SparkSession, storeDir: String, buckets: Int): Unit = {
    require(buckets >= 1)
    recover(storeDir)
    val dir = genRoot(storeDir)
    checkBuckets(dir, buckets)
    Seq((byRepPath(dir), "_cb", "rep", labelSchema),
      (byDocPath(dir), "_db", "doc_id", labelSchema),
      (pairsPath(dir), "_cb", "rep", pairSchema))
      .foreach { case (path, partCol, keyCol, schema) =>
        val tmp = Commit.stage(Paths.get(storeDir))
        try {
          // explicit schema (labels()/pairs()' own discipline): a
          // store whose base buckets were all forgotten away holds
          // only `_delta/`, and empty parquet cannot infer
          s.read.schema(schema).parquet(path)
            .select(schema.fieldNames.map(col).toSeq: _*)
            .unionByName(readDelta(s, path, schema))
            .withColumn(partCol, pmod(col(keyCol), lit(buckets.toLong)))
            .repartition(col(partCol))
            .write.mode("overwrite").partitionBy(partCol)
            .parquet(tmp.toString)
          checkGeneration(storeDir, dir)
          Commit.swap(Paths.get(path), tmp)
        } finally Commit.deleteRecursively(tmp)
      }
  }

  /** Stage `out` (whose `partCol` values must all lie in `bucketSet`)
    * at `staging` (a [[Commit.stage]] path of the store), then
    * [[Commit.swap]] exactly the `bucketSet` partition dirs: a bucket
    * with no staged rows (its whole content merged away) is REMOVED,
    * not left stale. Returns the bytes written. Empty `bucketSet`
    * short-circuits (the common merge-free fold never swaps at all).
    * Shared by [[Bm25Store.forget]], [[graft.similarity.VectorStore
    * .forget]] and [[graft.Curation.forgetBatch]]. */
  private[graft] def rewritePartitions(s: SparkSession, tablePath: String,
                                partCol: String, bucketSet: Seq[Long],
                                out: DataFrame, staging: Path): Long = {
    if (bucketSet.isEmpty) return 0L
    out.repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol)
      .parquet(staging.toString)
    bucketSet.map { v =>
      val src = staging.resolve(s"$partCol=$v")
      val bytes = if (Files.exists(src)) dirBytes(src) else 0L
      Commit.swap(Paths.get(tablePath, s"$partCol=$v"), src)
      bytes
    }.sum
  }

  /** Land `rows` in `tablePath`'s `partCol=` dirs as files named
    * `seg-b<batchId>-p<task>.parquet`: staged under `storeDir`, then
    * each file [[Commit.swap]]ped in — a replay of the batch lands the
    * same names. Returns the number of partition dirs touched. Shared
    * by [[Bm25Store.foldBatch]] and [[graft.similarity.VectorStore
    * .foldBatch]]. */
  private[graft] def landBatch(storeDir: String, rows: DataFrame,
                               tablePath: String, partCol: String,
                               batchId: Long): Int = {
    val tmp = Commit.stage(Paths.get(storeDir))
    try {
      rows.repartition(col(partCol)).write.mode("overwrite")
        .partitionBy(partCol).parquet(tmp.toString)
      val partIdx = "part-(\\d+)".r
      Commit.list(tmp).filter(_.getFileName.toString.startsWith(s"$partCol="))
        .map { src =>
          val dst = Paths.get(tablePath, src.getFileName.toString)
          Commit.list(src).filter(_.getFileName.toString.startsWith("part-"))
            .foreach { f =>
              val idx = partIdx.findFirstMatchIn(f.getFileName.toString)
                .map(_.group(1)).getOrElse("0")
              Commit.swap(dst.resolve(s"seg-b$batchId-p$idx.parquet"), f)
            }
          1
        }.sum
    } finally Commit.deleteRecursively(tmp)
  }

  /** Remove every file batch `batchId` landed by [[landBatch]] (replay
    * and crash healing: the replay lands its files afresh). */
  private[graft] def sweepBatch(tablePath: String, partCol: String,
                                batchId: Long): Unit =
    Commit.list(Paths.get(tablePath))
      .filter(_.getFileName.toString.startsWith(s"$partCol="))
      .flatMap(Commit.list)
      .filter(_.getFileName.toString.startsWith(s"seg-b$batchId-"))
      .foreach(Files.delete)

  /** Total file bytes under a directory. */
  private[graft] def dirBytes(p: Path): Long = {
    val st = Files.walk(p)
    try st.filter(Files.isRegularFile(_))
      .mapToLong(f => Files.size(f)).sum()
    finally st.close()
  }
}
