package graft.etl

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed Silver table store.
  *
  * The reference's sink is Postgres with per-statement transactions;
  * our equivalent storage contract (SURVEY §7 "Design stance") is a
  * directory per table, published through [[Commit]]: readers see
  * either the old or the new snapshot (or bucket), never a partial
  * write.
  *
  * Scale note: snapshot-rewrite merge is O(table) per batch, which is
  * the right trade for dimension/entity tables (small-to-medium); the
  * historized child tables are append-only (`append`), so the 100 TB
  * growth path never rewrites them.
  */
final class SilverStore(val spark: SparkSession, val root: String) {
  private val rootPath = Paths.get(root)

  private def tablePath(table: String) = rootPath.resolve(table)

  def exists(table: String): Boolean = Files.exists(tablePath(table))

  /** Bucketed layout (MergeOps.mergeBucketed): entity tables partition
    * their directory by `_bucket=NN` (hash of the natural key mod
    * nBuckets) so a MERGE prunes its target scan to — and rewrites —
    * ONLY the buckets containing changed keys. The column is storage
    * layout, not schema: every logical read drops it. */
  val bucketCol = "_bucket"

  // bucketedness is a layout property that only this store's writes can
  // change — cache it so hot read paths don't pay exists()+LIST per call
  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  def isBucketed(table: String): Boolean =
    bucketedCache.computeIfAbsent(table, _ =>
      Commit.list(tablePath(table))
        .exists(_.getFileName.toString.startsWith(s"$bucketCol="))).booleanValue()

  private def invalidate(table: String): Unit = bucketedCache.remove(table)

  /** Read a table; empty DataFrame with the given schema when absent. */
  def read(table: String, schema: StructType): DataFrame =
    if (isBucketed(table)) readBucketed(table, schema).drop(bucketCol)
    else if (exists(table)) spark.read.schema(schema).parquet(tablePath(table).toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Read without a schema expectation (table must exist). */
  def read(table: String): DataFrame = {
    val df = spark.read.parquet(tablePath(table).toString)
    if (df.columns.contains(bucketCol)) df.drop(bucketCol) else df
  }

  /** Bucketed read KEEPING the `_bucket` partition column, so a filter
    * on it prunes at the FileIndex (only touched bucket dirs are even
    * listed). Empty frame (with `_bucket`) when the table is absent. */
  def readBucketed(table: String, schema: StructType): DataFrame = {
    val withBucket = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(bucketCol,
        org.apache.spark.sql.types.IntegerType, nullable = true))
    if (exists(table))
      spark.read.schema(withBucket).parquet(tablePath(table).toString)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], withBucket)
  }

  /** [[Commit.recover]] for the store root and `table`'s dir: settles a
    * crashed swap of the table or of one of its buckets and sweeps
    * stale staging. Writer paths run it before they read or write (an
    * unsettled bucket is invisible, and a merge would re-insert its
    * keys under fresh surrogate ids) — never readers: a read-only store
    * reaping a paused writer's staging would turn that writer's commit
    * into data loss. */
  def recover(table: String): Unit = {
    Commit.recover(rootPath)
    Commit.recover(tablePath(table))
    invalidate(table)
  }

  /** Stage a bucketed write: materialize `df` (which must carry
    * `_bucket`) in staging, partitioned by bucket. Returns the staged
    * path for [[commitBuckets]] — the split lets the caller derive
    * facts from the STAGED data (e.g. the new max id) before anything
    * becomes visible. */
  def stageBuckets(table: String, df: DataFrame): Path = {
    val tmp = Commit.stage(rootPath)
    df.write.mode("overwrite").partitionBy(bucketCol).parquet(tmp.toString)
    tmp
  }

  /** Swap ONLY the given `_bucket=NN` subdirectories of the staged
    * write into the live table, one [[Commit.swap]] each: the bucketed
    * MERGE's commit. Untouched bucket directories are not listed, read,
    * or rewritten — their files stay byte-identical; a touched bucket
    * with no staged dir (all its rows deleted upstream) is removed.
    * The caller deletes `tmp` afterwards.
    * Atomicity is PER BUCKET: a concurrent reader can see bucket A new
    * while bucket B is still old. That is the reference's own
    * consistency unit — its per-row `INSERT ... ON CONFLICT`
    * transactions commit row by row — so cross-bucket readers were
    * never promised a snapshot there either. Use [[overwrite]] when a
    * whole-table snapshot swap is required. */
  def commitBuckets(table: String, tmp: Path, buckets: Seq[Int]): Unit = {
    // the staged root must exist: an individual missing bucket dir
    // under it means "bucket intentionally emptied", but a missing
    // ROOT means the staging was lost (crashed writer, misfired
    // sweep) — proceeding would delete every touched bucket's data
    if (!Files.exists(tmp))
      throw new java.io.IOException(
        s"staged dir $tmp is gone — refusing to commit $table")
    buckets.foreach(b => Commit.swap(
      tablePath(table).resolve(s"$bucketCol=$b"),
      tmp.resolve(s"$bucketCol=$b")))
    invalidate(table)
  }

  /** Sidecar for bucketed tables: the surrogate-id high-water mark
    * (avoids a full-table id scan per merge batch) and the bucket
    * count the layout was created with (a later caller passing a
    * different nBuckets must not shear the layout). Written by
    * [[Commit.replaceFile]]; the dot prefix keeps it invisible to
    * parquet readers. Crash contract: the meta is written BEFORE the
    * bucket commit with the staged max, so a crash between the two
    * leaves the mark too HIGH — id gaps, never id collisions. */
  private def metaPath(table: String) = tablePath(table).resolve(".graft_meta")

  def writeMeta(table: String, maxId: Int, nBuckets: Int): Unit =
    Commit.replaceFile(metaPath(table), s"$maxId,$nBuckets".getBytes("UTF-8"))

  /** (maxId, nBuckets); None when absent or unreadable — callers fall
    * back to a full scan + the default layout, never crash. */
  def readMeta(table: String): Option[(Int, Int)] =
    try {
      val Array(m, n) = Files.readString(metaPath(table)).trim.split(',')
      Some((m.toInt, n.toInt))
    } catch { case _: Exception => None }

  /** Atomically replace the table with `df` (materialized to staging
    * first, so `df` may read from the table it replaces), by one
    * [[Commit.swap]]. `partitionCols` preserves a partitioned directory
    * layout. */
  def overwrite(table: String, df: DataFrame,
                partitionCols: Seq[String] = Nil): Unit = {
    recover(table)
    val tmp = Commit.stage(rootPath)
    val w = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    Commit.swap(tablePath(table), tmp)
    invalidate(table)
  }

  /** Historized append (H4/H5): children tables only grow. */
  def append(table: String, df: DataFrame): Unit = {
    recover(table)
    df.write.mode("append").parquet(tablePath(table).toString)
  }

  /** Append partitioned by `partitionCols` (e.g. `_load_date`): at
    * scale, historized tables are laid out so date-ranged reads prune
    * at the FileIndex — `read(table).filter(col("_load_date") === d)`
    * touches one partition directory, not the table. */
  def appendPartitioned(table: String, df: DataFrame,
                        partitionCols: Seq[String]): Unit = {
    recover(table)
    df.write.mode("append").partitionBy(partitionCols: _*)
      .parquet(tablePath(table).toString)
  }

  /** Compact an append-only table: per-file micro-batches accumulate
    * one small parquet file per append (the classic small-files
    * problem — at 10⁶ landed files the NAMENODE/listing cost dwarfs the
    * data). Rewrites the table to ~`targetFileBytes` files via
    * [[overwrite]], so readers never see a partial compaction. Returns
    * (files_before, files_after). */
  def compact(table: String, partitionCols: Seq[String] = Nil,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    recover(table)
    val live = tablePath(table)
    def files(): Seq[Path] = {
      val st = Files.walk(live)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      } finally st.close()
    }
    def parquetFiles(): Int =
      files().count(_.getFileName.toString.endsWith(".parquet"))
    val before = parquetFiles()
    val totalBytes = files().map(Files.size).sum
    val parts = math.max(1, (totalBytes / targetFileBytes).toInt)
    import org.apache.spark.sql.functions._
    // bucketed tables keep their `_bucket=` layout through compaction
    val partitionCols0 =
      if (partitionCols.isEmpty && isBucketed(table)) Seq(bucketCol)
      else partitionCols
    def rawRead() = spark.read.parquet(live.toString)
    val compacted =
      if (partitionCols0.isEmpty) read(table).repartition(parts)
      else {
        // shuffle on (partition value, salt): repartitioning on the
        // partition columns ALONE would send every row of a hot
        // partition value to one task and emit one oversized file per
        // value; the salt spreads each value over up to `parts` tasks
        // while the write's partitionBy keeps the directory layout
        val df = rawRead()
        val dataCols = df.columns.filterNot(partitionCols0.contains)
        df.withColumn("_salt",
            pmod(xxhash64(dataCols.map(col).toIndexedSeq: _*), lit(parts)))
          .repartition(parts,
            (partitionCols0 :+ "_salt").map(col).toIndexedSeq: _*)
          .drop("_salt")
      }
    val savedMeta = readMeta(table) // snapshot swap drops the sidecar
    overwrite(table, compacted, partitionCols0)
    savedMeta.foreach { case (m, n) => writeMeta(table, m, n) }
    (before, parquetFiles())
  }
}
