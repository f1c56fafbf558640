package graft.text

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.etl.Commit

/** Mutable BM25 posting store — incremental maintenance for the text-
  * retrieval index, completing the ingest-store triple beside
  * [[LabelStore]] (dedup labels) and
  * [[graft.similarity.VectorStore]] (vectors): production documents
  * ARRIVE, and rebuilding [[Bm25Index]]'s immutable artifact per batch
  * re-tokenizes the corpus.
  *
  * Why [[Bm25Index]] cannot fold: its postings DENORMALIZE df — a new
  * batch changes df for every term it mentions, so an append would
  * have to rewrite every posting of every touched term (term-scale
  * rewrites for a doc-scale batch). The store instead keeps postings
  * RAW — (t, doc_id, tf, dl), facts that never change once written —
  * and derives the global statistics at read time:
  *
  *   - df of the query's terms = a count over the PRUNED posting read
  *     the query already does (bucket-pruned by `_tb`, then term-
  *     matched — identical to full-corpus df for every matched term);
  *   - n_docs / avgdl = one aggregate over the `doclens` side table
  *     (doc-scale, two longs per row; `_db`-partitioned so erasure
  *     prunes its rewrite).
  *
  * [[fold]] is therefore append-only by construction: tokenize the
  * batch (batch-scale), append its posting rows into their `_tb=`
  * partitions and its (doc_id, dl) rows into `doclens/_db=` — no
  * existing file is read or rewritten, and fold-then-search is
  * row-identical to rebuild-then-search (q191 pins it with q111's OWN
  * oracle, the q183 discipline). dl rides denormalized on postings —
  * unlike df it is a property of the DOC, so appends cannot stale it.
  *
  * [[forget]] (the governance leg): postings are keyed by term, not
  * doc, so erasure pays ONE narrow index scan to locate the docs'
  * `_tb` partitions, rewrites only those (staged swap, untouched
  * buckets byte-identical — [[LabelStore.rewritePartitions]]), and
  * prunes the `doclens` rewrite to the docs' `_db` buckets. Global
  * stats need no patch-up: they derive from `doclens`, which just
  * shrank.
  *
  * A `_meta` sidecar (buckets — written LAST, the
  * [[LabelStore.publish]] crash-ordering rule) guards the layout:
  * every entry point fails fast when the recorded bucket count
  * disagrees with the requested convention (a mismatched probe would
  * otherwise prune to the WRONG partitions and silently miss
  * postings). */
object Bm25Store {

  private def postingsPath(dir: String) = s"$dir/postings"
  private def doclensPath(dir: String) = s"$dir/doclens"
  private def metaPath(dir: String) = Paths.get(dir, "_meta")

  /** The two tables' schemas — the types parquet inference reads back,
    * `_tb`/`_db` integer partition values. Reads pass them, so no read
    * pays a schema-inference Spark job. */
  private val postingsSchema = StructType(Seq(StructField("t", StringType),
    StructField("doc_id", LongType), StructField("tf", LongType),
    StructField("dl", IntegerType), StructField("_tb", IntegerType)))
  private val doclensSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("dl", IntegerType), StructField("_db", IntegerType)))

  /** The (doc_id, dl, _db) side table. */
  private def doclens(s: SparkSession, dir: String): DataFrame =
    s.read.schema(doclensSchema).parquet(doclensPath(dir))

  /** Posting-bucket count recorded at [[init]]; `None` pre-sidecar
    * (never the case for stores this object wrote — init always
    * records it). */
  def metaOf(dir: String): Option[Int] =
    Commit.readProps(metaPath(dir)).get("buckets").map(_.trim.toInt)

  private def checkedBuckets(dir: String): Int =
    metaOf(dir).getOrElse(throw new IllegalStateException(
      s"Bm25Store at $dir carries no _meta sidecar — not a store " +
        "this object initialized"))

  /** The writer paths' [[Commit.recover]]: settle interrupted bucket
    * swaps and sweep stale staging before reading. */
  private[graft] def recover(dir: String): Unit =
    Seq(dir, postingsPath(dir), doclensPath(dir))
      .foreach(p => Commit.recover(Paths.get(p)))

  /** Driver-side twin of the `_tb` partition expression (md5Hash60 %
    * buckets) — builds the partition-pruning literal from a collected
    * query-term set under the store's own bucket count
    * ([[Bm25Index.bucketOf]] is this at the artifact's count). */
  def bucketOf(t: String, buckets: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16) % buckets
  }

  /** The batch's (postings, doclens) frames — ONE tokenize pass
    * definition for init and fold, so the two write paths cannot
    * drift. Docs with a null text are skipped; docs whose text
    * tokenizes to nothing still land in `doclens` (they count toward
    * n_docs/avgdl exactly as q111's direct build counts them). */
  private def indexRows(docs: DataFrame, buckets: Int)
      : (DataFrame, DataFrame) = {
    val dtoks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
    val doclens = dtoks
      .select(col("doc_id"), size(col("toks")).as("dl"),
        pmod(col("doc_id"), lit(buckets.toLong)).as("_db"))
    val postings = dtoks
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("t"))
      .groupBy(col("t"), col("doc_id"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .withColumn("_tb",
        pmod(TextQueries.md5Hash60(col("t")), lit(buckets.toLong)))
    (postings, doclens)
  }

  /** Seed the store from the initial corpus slice. */
  def init(s: SparkSession, docs: DataFrame, storeDir: String,
           buckets: Int = 64): Unit = {
    require(buckets >= 1, "bucket count must be positive")
    val (postings, doclens) = indexRows(docs, buckets)
    postings.write.mode("overwrite").partitionBy("_tb")
      .parquet(postingsPath(storeDir))
    doclens.write.mode("overwrite").partitionBy("_db")
      .parquet(doclensPath(storeDir))
    Commit.writeProps(metaPath(storeDir), "buckets" -> buckets.toString)
  }

  /** What a fold did. */
  final case class FoldStats(docsAdded: Long, postingsAdded: Long)

  /** Fold a document batch (doc_ids disjoint from the store): one
    * batch-scale tokenize, then APPENDS into the touched `_tb=` /
    * `_db=` partitions — no existing file is read or rewritten. */
  def fold(s: SparkSession, storeDir: String, docs: DataFrame): FoldStats = {
    val buckets = checkedBuckets(storeDir)
    recover(storeDir)
    val (postings, doclens) = indexRows(docs, buckets)
    val p = postings.persist()
    try {
      val nPost = p.count()
      p.write.mode("append").partitionBy("_tb")
        .parquet(postingsPath(storeDir))
      val dlf = doclens.persist()
      try {
        val nDocs = dlf.count()
        dlf.write.mode("append").partitionBy("_db")
          .parquet(doclensPath(storeDir))
        FoldStats(nDocs, nPost)
      } finally dlf.unpersist(false)
    } finally p.unpersist(false)
  }

  /** [[fold]] made IDEMPOTENT under foreachBatch's at-least-once
    * contract — the streaming ingest path
    * ([[graft.streaming.Bm25Ingest]]): every file this batch lands in
    * either table carries a `seg-b<id>-` name prefix, and the fold
    * first sweeps that prefix from ALL partition dirs, then swaps its
    * staged parts in — a replay REPLACES its own output instead of
    * appending beside it (the [[graft.similarity.VectorStore.foldBatch]]
    * discipline, applied to both the `_tb` postings and the `_db`
    * doclens). */
  def foldBatch(s: SparkSession, storeDir: String, docs: DataFrame,
                batchId: Long): FoldStats = {
    val buckets = checkedBuckets(storeDir)
    val (postings, doclens) = indexRows(docs, buckets)
    // sweep BOTH tables even for an empty batch: a previous
    // non-empty attempt of this id may have crashed mid-write
    recover(storeDir)
    LabelStore.sweepBatch(postingsPath(storeDir), "_tb", batchId)
    LabelStore.sweepBatch(doclensPath(storeDir), "_db", batchId)
    val p = postings.persist()
    val dlf = doclens.persist()
    try {
      val nPost = p.count()
      val nDocs = dlf.count()
      if (nPost > 0)
        LabelStore.landBatch(storeDir, p, postingsPath(storeDir), "_tb",
          batchId)
      if (nDocs > 0)
        LabelStore.landBatch(storeDir, dlf, doclensPath(storeDir), "_db",
          batchId)
      FoldStats(nDocs, nPost)
    } finally { p.unpersist(false); dlf.unpersist(false) }
  }

  /** The raw postings (t, doc_id, tf, dl, _tb). */
  def postings(s: SparkSession, storeDir: String): DataFrame =
    s.read.schema(postingsSchema).parquet(postingsPath(storeDir))

  /** One (n_docs, avgdl) row — derived from `doclens`, so folds and
    * forgets keep it correct by construction. */
  def stats(s: SparkSession, storeDir: String): DataFrame =
    doclens(s, storeDir)
      .agg(count(lit(1)).cast("double").as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))

  /** The scoring-ready frame for a bounded query-term set: (qid, t,
    * doc_id, tf, df, dl, n_docs, avgdl) — the q116 read shape with df
    * DERIVED from the pruned read instead of denormalized. The `_tb`
    * prune happens at parquet partition level (the collected term set
    * builds the literal); df over the pruned-and-term-matched postings
    * equals full-corpus df for every matched term because the filter
    * is BY TERM. The only corpus-scale touch is the doc-scale
    * `doclens` aggregate behind [[stats]]. */
  def scored(s: SparkSession, storeDir: String, qterms: DataFrame)
      : DataFrame = {
    val buckets = checkedBuckets(storeDir)
    val terms = qterms.select(col("t")).distinct()
      .collect().map(_.getString(0))
    val tb = terms.map(bucketOf(_, buckets)).distinct.toSeq
    val matched = postings(s, storeDir)
      .filter(col("_tb").isin(tb: _*))
      .filter(col("t").isin(terms.toSeq: _*))
    val df_ = matched.groupBy(col("t")).agg(count(lit(1)).as("df"))
    matched.join(broadcast(qterms), Seq("t"))
      .join(broadcast(df_), Seq("t"))
      .crossJoin(broadcast(stats(s, storeDir)))
  }

  /** What a forget did. */
  final case class ForgetStats(docsRemoved: Long, postingBucketsRewritten: Int)

  /** FORGET documents by id: one narrow posting scan locates the ids'
    * `_tb` partitions (postings are term-keyed — the scan is the
    * honest price of not carrying a doc→terms sidecar), only those are
    * rewritten by staged swap; the `doclens` rewrite prunes to the
    * ids' `_db` buckets. Stats self-heal (they derive from doclens). */
  def forget(s: SparkSession, storeDir: String, ids: DataFrame): ForgetStats = {
    val buckets = checkedBuckets(storeDir)
    recover(storeDir)
    val d = ids.select(col("doc_id")).distinct().persist()
    try {
      val all = postings(s, storeDir)
      val mine = all.join(broadcast(d), Seq("doc_id"), "left_semi")
      // partition values read back as integers (postingsSchema)
      val hit = mine.select(col("_tb").cast("long")).distinct().collect()
        .map(_.getLong(0)).toSeq.sorted
      val dlAll = doclens(s, storeDir)
      val dHit = dlAll.join(broadcast(d), Seq("doc_id"), "left_semi")
      val removed = dHit.count()
      if (removed == 0 && hit.isEmpty) return ForgetStats(0L, 0)
      val keepP = all.filter(col("_tb").isin(hit: _*))
        .join(broadcast(d), Seq("doc_id"), "left_anti")
      val dbHit = dHit.select(col("_db").cast("long")).distinct().collect()
        .map(_.getLong(0)).toSeq.sorted
      val keepD = dlAll.filter(col("_db").isin(dbHit: _*))
        .join(broadcast(d), Seq("doc_id"), "left_anti")
      val tmp = Commit.stage(Paths.get(storeDir))
      try {
        LabelStore.rewritePartitions(s, postingsPath(storeDir),
          "_tb", hit, keepP, tmp.resolve("p"))
        LabelStore.rewritePartitions(s, doclensPath(storeDir),
          "_db", dbHit, keepD, tmp.resolve("d"))
      } finally Commit.deleteRecursively(tmp)
      ForgetStats(removed, hit.size)
    } finally d.unpersist(false)
  }
}
