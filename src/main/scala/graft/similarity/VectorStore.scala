package graft.similarity

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.etl.Commit
import graft.text.LabelStore

/** Mutable IVF-flat ingest store — incremental maintenance for the ANN
  * index, the vector twin of [[graft.text.LabelStore]] (labels) and
  * [[graft.operators.CascadedRollup.foldFinest]] (rollups): production
  * vectors ARRIVE, and rebuilding an immutable index per batch
  * re-scans the corpus. (The immutable q121 index,
  * [[SimilarityQueries.ivfFlat]], is itself a base generation of this
  * store, built once per dataset by [[init]].)
  *
  * The store exploits the IVF split FAISS formalizes as train vs add:
  * the GEOMETRY (centroids) is trained once at [[init]] and persisted
  * with the store; assignment of a vector to its inverted list is then
  * a PURE FUNCTION of (vector, stored centroids). So [[fold]] is
  * append-only by construction — a batch assigns itself in one narrow
  * batch-scale pass (the q29 in-closure argmax, zero shuffle) and
  * APPENDS into its `_c=` list partitions; no existing row is ever
  * read or rewritten, and fold-then-search is bit-identical to
  * rebuild-then-search under the same centroids (q183 pins this with
  * q29/q121's OWN oracle — the folded store must reproduce the direct
  * path's full-corpus assignment exactly).
  *
  * Per-batch cost: batch scan + ≤ nCentroids partition appends —
  * independent of corpus size. Searches partition-prune to their
  * nProbe lists with q121's own body, [[SimilarityQueries.listSearch]]
  * (per-query cost tracks the probed lists, never the corpus).
  * [[forget]] completes the governance pair ([[graft.etl.MergeOps.deleteBucketed]] /
  * [[graft.text.LabelStore.forget]] discipline): erasure locates its
  * `_c` partitions with one narrow scan and rewrites ONLY those,
  * untouched lists byte-identical.
  *
  * Drifted data degrades list BALANCE, not correctness (assignment
  * stays a pure function of the stored geometry); the census
  * [[listStats]] emits is the drift monitor, and [[retrain]] is the
  * answer it triggers: new centroids + the full corpus re-assigned,
  * published as the next `v<N>` GENERATION under the store root by
  * [[graft.etl.Commit.claim]] — a reader never sees half a geometry
  * swap; in-flight readers keep the generation they resolved. Every
  * read/mutation entry point resolves the highest generation first, so
  * fold→retrain→fold just works — the post-retrain fold assigns under
  * the NEW geometry.
  *
  * A `_meta` sidecar (nCentroids, dim — written LAST, after the data
  * dirs land) rides every generation: [[fold]]/[[foldBatch]]/
  * [[search]]/[[forget]] fail fast when the stored geometry does not
  * match it (a store whose centroids were written under a different
  * convention would otherwise mis-prune SILENTLY — probes pick from
  * one centroid set, `_c=` dirs were keyed by another), and batch /
  * query embedding widths are checked against `dim` (a wrong-width
  * vector would otherwise fold in as garbage cosines, never an
  * error). Pre-sidecar generations pass through on the caller's word,
  * the [[graft.text.LabelStore.bucketsOf]] discipline.
  */
object VectorStore {

  private def listsPath(dir: String) = s"$dir/lists"
  private def centsPath(dir: String) = s"$dir/centroids"
  private def metaPath(dir: String) =
    java.nio.file.Paths.get(dir, "_meta")

  /** The stored tables' schemas — the types parquet inference reads
    * back, `_c` an integer partition value. Reads pass them, so no
    * read pays a schema-inference Spark job. */
  private val centsSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))
  private val listsSchema = centsSchema.add("_c", IntegerType)

  /** The inverted lists of the generation at `root`. */
  private def listsAt(s: SparkSession, root: String): DataFrame =
    s.read.schema(listsSchema).parquet(listsPath(root))

  /** The generation all reads and mutations act on: the highest
    * `v<N>` subdir when [[retrain]] has published one, else the
    * store root itself (the base generation [[init]] writes). */
  private def genRoot(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    val v = Commit.latestVersion(root)
    if (v > 0) root.resolve("v" + v).toString else dir
  }

  /** The (nCentroids, dim) this generation was published with; `None`
    * on a pre-sidecar store. */
  def metaOf(dir: String): Option[(Int, Int)] = {
    val props = Commit.readProps(metaPath(genRoot(dir)))
    for (n <- props.get("nCentroids"); d <- props.get("dim"))
      yield (n.trim.toInt, d.trim.toInt)
  }

  /** Written LAST, after the generation's data dirs land (the
    * [[graft.text.LabelStore.publish]] crash-ordering lesson): a
    * crash mid-publish leaves data without meta — treated as
    * pre-sidecar — never meta asserting a geometry the data lacks. */
  private def writeMeta(dir: String, cents: Seq[(Long, Array[Float])]): Unit =
    Commit.writeProps(metaPath(dir), "nCentroids" -> cents.size.toString,
      "dim" -> cents.head._2.length.toString)

  /** Settle interrupted swaps and sweep stale staging — the writer
    * paths run this before they read. */
  private[graft] def recover(storeDir: String): Unit = {
    Commit.recover(java.nio.file.Paths.get(storeDir))
    Commit.recover(java.nio.file.Paths.get(listsPath(genRoot(storeDir))))
  }

  /** Load the resolved generation's geometry and fail fast when the
    * `_meta` sidecar disagrees with it — a silent mismatch mis-prunes
    * (probes pick centroids the `_c=` layout was not keyed by). */
  private def checkedCentroids(s: SparkSession, root: String)
      : Seq[(Long, Array[Float])] = {
    val cents = s.read.schema(centsSchema).parquet(centsPath(root))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    metaOf(root).foreach { case (n, d) =>
      require(cents.size == n,
        s"VectorStore at $root holds ${cents.size} centroids but its " +
          s"_meta records nCentroids=$n — the list layout was keyed " +
          "by a different geometry")
      require(cents.forall(_._2.length == d),
        s"VectorStore at $root: centroid dim ${cents.head._2.length} " +
          s"!= _meta dim $d")
    }
    cents
  }

  /** What a fold did: vectors appended and the (bounded) list
    * partitions they landed in. */
  final case class FoldStats(vectorsAdded: Long, listsTouched: Int)

  /** What a forget did: rows removed and list partitions rewritten —
    * counts only, the request keys are not retained. */
  final case class ForgetStats(vectorsRemoved: Long, listsRewritten: Int)

  /** Seed the store: centroids trained from `train` (the q29
    * convention — the first [[SimilarityQueries.nCentroids]] vec_ids;
    * a caller with a better codebook pre-shapes `train`) are PERSISTED
    * as the store's fixed geometry, and `train` itself is assigned and
    * written as the initial inverted lists. */
  def init(s: SparkSession, train: DataFrame, storeDir: String): Unit = {
    require(Commit.latestVersion(
        java.nio.file.Paths.get(storeDir)) == 0,
      s"store $storeDir already carries retrained generations — " +
        "init writes the BASE generation only; use retrain to re-seed")
    val cents = SimilarityQueries.centroids(train)
    require(cents.nonEmpty, "init needs at least one centroid vector")
    import s.implicits._
    cents.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(centsPath(storeDir))
    assign(train, cents)
      .write.mode("overwrite").partitionBy("_c")
      .parquet(listsPath(storeDir))
    writeMeta(storeDir, cents)
  }

  /** The store's fixed geometry (bounded read — ≤ nCentroids rows),
    * meta-checked, from the current generation. */
  def storedCentroids(s: SparkSession, storeDir: String)
      : Seq[(Long, Array[Float])] =
    checkedCentroids(s, genRoot(storeDir))

  /** RE-TRAIN the geometry against drift ([[listStats]] skew is the
    * trigger): new centroids from `train` (the same first-nCentroids
    * convention as [[init]] — a caller with a better codebook
    * pre-shapes `train`), the CURRENT generation's full vector set
    * re-assigned under them, and both published as the next `v<N>`
    * generation by [[Commit.claim]]. Readers and folds resolve the new
    * generation on their next call; in-flight readers finish on the
    * one they resolved, which stays on disk for exactly that reason
    * (prune old `v<N>` dirs once drained). Cost is honest: a retrain
    * IS a corpus-scale rebuild (one scan + one partitioned write) —
    * what the generation machinery buys is the ATOMIC swap under
    * live traffic, not incrementality. Returns the claimed version.
    *
    * WRITER contract: the swap protects in-flight READERS only —
    * retrain re-publishes the corpus it scanned, so a concurrent
    * [[fold]]/[[foldBatch]] that resolved the old generation and
    * appended after the scan would be silently absent from the new
    * one (and lost for good once old `v<N>` dirs are pruned).
    * Mutations must therefore quiesce across a retrain
    * (single-writer). The contract is ENFORCED, not just stated: the
    * old generation's list files are snapshotted at scan time and
    * re-checked immediately before the claim — any change aborts the
    * publish (tmp deleted, nothing claimed, loud error) and the
    * retry's scan includes the racing rows. The residual window is
    * the check→move instant, milliseconds against the scan-long
    * window the snapshot closes. */
  def retrain(s: SparkSession, storeDir: String, train: DataFrame): Long = {
    val cents = SimilarityQueries.centroids(train)
    require(cents.nonEmpty, "retrain needs at least one centroid vector")
    val scanRoot = genRoot(storeDir)
    val scanSnapshot = listFileSnapshot(scanRoot)
    val corpus = lists(s, storeDir)
      .select(col("vec_id"), col("embedding"))
    val root = java.nio.file.Paths.get(storeDir)
    Commit.recover(root)
    val tmp = Commit.stage(root)
    import s.implicits._
    cents.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite")
      .parquet(centsPath(tmp.toString))
    assign(corpus, cents)
      .repartition(col("_c"))
      .write.mode("overwrite").partitionBy("_c")
      .parquet(listsPath(tmp.toString))
    writeMeta(tmp.toString, cents)
    if (listFileSnapshot(scanRoot) != scanSnapshot) {
      Commit.deleteRecursively(tmp)
      throw new IllegalStateException(
        s"VectorStore.retrain: generation $scanRoot was mutated by a " +
          "concurrent fold during the retrain scan — publishing would " +
          "silently drop the folded vectors. Quiesce writers and retry " +
          "(the retry's scan includes them).")
    }
    Commit.claim(root, tmp)
  }

  /** Fail fast on a batch/query frame whose embedding width differs
    * from the store's: folded in, it would score garbage cosines
    * against every probe — silently. One narrow agg over the frame
    * (`counted` rides along so folds pay no extra pass). */
  private def checkDims(frame: DataFrame, vecCol: String, dim: Int,
                        what: String): Long = {
    val st = frame.agg(count(lit(1)),
      min(size(col(vecCol))), max(size(col(vecCol)))).head
    val n = st.getLong(0)
    if (n > 0) {
      require(st.getInt(1) == dim && st.getInt(2) == dim,
        s"$what embedding width [${st.getInt(1)}, ${st.getInt(2)}] != " +
          s"store dim $dim")
    }
    n
  }

  /** (relative path, size) of every data file under a generation's
    * lists table — the concurrent-mutation witness [[retrain]] compares
    * across its scan. Hidden/marker files excluded: rewritten
    * `_SUCCESS` timestamps must not fail an untouched store. */
  private[graft] def listFileSnapshot(genRoot: String)
      : Set[(String, Long)] = {
    val base = java.nio.file.Paths.get(listsPath(genRoot))
    if (!Files.isDirectory(base)) return Set.empty
    val st = Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => (base.relativize(p).toString, Files.size(p)))
        .toSet
    } finally st.close()
  }

  private def assign(vecs: DataFrame,
                     cents: Seq[(Long, Array[Float])]): DataFrame =
    vecs.select(col("vec_id"), col("embedding"), SimilarityQueries.assign(
      SimilarityQueries.centScores(cents, col("embedding"))).as("_c"))

  /** Fold an ingest batch (vec_ids disjoint from the store): one
    * narrow batch-scale assignment pass, then an APPEND into the
    * touched `_c=` partitions — existing lists are never read or
    * rewritten (assignment under fixed centroids is a pure function,
    * so admission cannot invalidate anything). */
  def fold(s: SparkSession, storeDir: String,
           batch: DataFrame): FoldStats = {
    recover(storeDir)
    val root = genRoot(storeDir)
    val cents = checkedCentroids(s, root)
    val a = assign(batch, cents).persist()
    try {
      val n = checkDims(a, "embedding", cents.head._2.length, "fold batch")
      if (n == 0) return FoldStats(0L, 0)
      val touched = a.select(col("_c")).distinct().collect().length
      a.write.mode("append").partitionBy("_c").parquet(listsPath(root))
      FoldStats(n, touched)
    } finally a.unpersist(false)
  }

  /** [[fold]] made IDEMPOTENT under foreachBatch's at-least-once
    * contract — the streaming ingest path ([[graft.streaming
    * .VectorIngest]]): a plain append replayed for the same batch id
    * DOUBLES the batch's vectors; here every file the batch lands
    * carries a `seg-b<id>-` name prefix, and the fold first sweeps
    * that prefix from ALL list dirs (assignment under fixed centroids
    * is deterministic, so a replay targets exactly the dirs its
    * previous attempt did — the sweep over ≤ nCentroids dirs is
    * belt-and-braces for a crashed partial write), then swaps its
    * staged parts in. Replay therefore REPLACES its own output
    * instead of appending beside it — the `batch=<id>` discipline of
    * [[graft.streaming.RollupStream.foldBatch]], pushed inside the
    * partition dirs because lists are keyed by `_c`, not by batch. */
  def foldBatch(s: SparkSession, storeDir: String, batch: DataFrame,
                batchId: Long): FoldStats = {
    val root = genRoot(storeDir)
    val cents = checkedCentroids(s, root)
    val a = assign(batch, cents).persist()
    try {
      val n = checkDims(a, "embedding", cents.head._2.length,
        s"foldBatch $batchId")
      // the replay sweep runs even for an empty batch: a previous
      // non-empty attempt of this id may have crashed mid-write
      recover(storeDir)
      LabelStore.sweepBatch(listsPath(root), "_c", batchId)
      if (n == 0) return FoldStats(0L, 0)
      FoldStats(n, LabelStore.landBatch(storeDir, a, listsPath(root), "_c",
        batchId))
    } finally a.unpersist(false)
  }

  /** The inverted lists (vec_id, embedding, _c) — filter `_c` by the
    * probed centroid ids to partition-prune a read. */
  def lists(s: SparkSession, storeDir: String): DataFrame =
    listsAt(s, genRoot(storeDir))

  /** IVF search against the store — q121's search: the store checks
    * (meta, query width), then [[SimilarityQueries.listSearch]] over
    * the resolved generation's lists and centroids. Queries
    * (`query_id`, `qe`); output (query_id, rk, vec_id, cos), self-hits
    * excluded. */
  def search(s: SparkSession, storeDir: String, queries: DataFrame,
             nProbe: Int, k: Int): DataFrame = {
    val root = genRoot(storeDir)
    val cents = checkedCentroids(s, root)
    checkDims(queries, "qe", cents.head._2.length, "search queries")
    // read via the SAME resolved generation as the geometry above —
    // a retrain landing between the two reads must not mix them
    SimilarityQueries.listSearch(listsAt(s, root), cents,
      queries, nProbe, k)
  }

  /** Per-list population census — the drift monitor [[init]]'s
    * no-retrain stance points at: skewing list sizes mean the trained
    * geometry no longer fits the data. */
  def listStats(s: SparkSession, storeDir: String): DataFrame =
    lists(s, storeDir).groupBy(col("_c")).agg(count(lit(1)).as("n"))

  /** FORGET vectors by id: one narrow scan locates the ids' list
    * partitions, ONLY those are rewritten by staged swap (emptied
    * lists removed), every other list stays byte-identical — the
    * [[graft.text.LabelStore.forget]] discipline on the vector half. */
  def forget(s: SparkSession, storeDir: String,
             ids: DataFrame): ForgetStats = {
    recover(storeDir)
    val root = genRoot(storeDir)
    checkedCentroids(s, root) // geometry/meta agreement, fail fast
    val d = ids.select(col("vec_id")).distinct().persist()
    try {
      val all = listsAt(s, root)
      val mine = all.join(broadcast(d), Seq("vec_id"), "left_semi")
      val hit = mine.select(col("_c").cast("long")).distinct().collect()
        .map(_.getLong(0)).toSeq.sorted
      if (hit.isEmpty) return ForgetStats(0L, 0)
      val removed = mine.count()
      val keep = all.filter(col("_c").isin(hit: _*))
        .join(broadcast(d), Seq("vec_id"), "left_anti")
      val tmp = Commit.stage(java.nio.file.Paths.get(storeDir))
      try LabelStore.rewritePartitions(s, listsPath(root),
        "_c", hit, keep, tmp)
      finally Commit.deleteRecursively(tmp)
      ForgetStats(removed, hit.size)
    } finally d.unpersist(false)
  }
}
