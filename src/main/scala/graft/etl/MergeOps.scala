package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** MERGE-equivalent upserts over parquet snapshots (SURVEY §2 H1-H3) —
  * the reference's `INSERT ... ON CONFLICT (naturalKey) DO UPDATE`
  * re-expressed as dedup + full-outer join + snapshot rewrite.
  */
object MergeOps {

  /** D4 last-wins dedup: the reference processes rows in file order and
    * later rows overwrite earlier upserts; MERGE needs unique source
    * keys, so collapse to the row with the highest `orderCol` per key
    * (`_row_id` from BronzeReader = file order). */
  def lastWins(df: DataFrame, keys: Seq[String], orderCol: String = "_row_id"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol).desc)
    df.withColumn("_lw_rn", row_number().over(w))
      .filter(col("_lw_rn") === 1)
      .drop("_lw_rn")
  }

  /** Upsert `source` into `target` on natural key `keys`.
    *
    * - matched rows: columns in `updateCols` come from source, the rest
    *   (surrogate id, excluded columns like vehiculo.carrier_id —
    *   `services/vehiculo.ts:209` — and `date_created`) stay from
    *   target; `date_updated` bumps only when any updated column
    *   actually changed (H8 trigger semantics, `model.sql:2-11`).
    * - unmatched source rows: inserted with fresh surrogate ids after
    *   `baseId`, the table's max id ([[SurrogateId]]; the caller knows
    *   it — a bucket-pruned `target` cannot see the whole table).
    * - unmatched target rows: kept as-is.
    *
    * `source` must be unique on `keys` (apply [[lastWins]] first) and
    * contain `keys ++ updateCols ++ insertOnlyCols`.
    *
    * Scale: one shuffle on the natural key (the join); at cluster scale
    * the target side can be bucketed on the key to make this a
    * shuffle-free sort-merge join. The id-assignment window runs on the
    * inserted delta only — never on the full table.
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
            idCol: String, baseId: Int, updateCols: Seq[String],
            insertOnlyCols: Seq[String] = Nil): DataFrame = {
    val now = current_timestamp()
    val allCols = target.columns.toSeq
    val srcCols = keys ++ updateCols ++ insertOnlyCols

    // Prefix non-key source columns to sidestep name resolution after
    // the USING-style join (keys coalesce into single output columns).
    val s = srcCols.filterNot(keys.contains)
      .foldLeft(source.select(srcCols.map(col): _*)) {
        (df, c) => df.withColumnRenamed(c, s"_s_$c")
      }
      .withColumn("_s_present", lit(true))

    val joined = target.withColumn("_t_present", lit(true))
      .join(s, keys, "full_outer")

    val tgtPresent = coalesce(col("_t_present"), lit(false))
    val srcPresent = coalesce(col("_s_present"), lit(false))

    val changed = updateCols.map(c =>
      !(col(s"_s_$c") <=> col(c))).reduceOption(_ || _).getOrElse(lit(false))

    // Matched + target-only rows: no id assignment, no window.
    val keptCols: Seq[Column] = allCols.map {
      case k if keys.contains(k) => col(k)
      case "date_updated" =>
        when(srcPresent && changed, now).otherwise(col("date_updated"))
          .as("date_updated")
      case c if updateCols.contains(c) =>
        when(srcPresent, col(s"_s_$c")).otherwise(col(c)).as(c)
      case c => col(c)
    }
    val kept = joined.filter(tgtPresent).select(keptCols: _*)

    // Source-only rows: fresh ids over the (small) inserted delta; the
    // id column is a typed null until SurrogateId fills it in place.
    val insertCols: Seq[Column] = allCols.map {
      case k if keys.contains(k) => col(k)
      case "date_created" => now.as("date_created")
      case "date_updated" => now.as("date_updated")
      case c if updateCols.contains(c) || insertOnlyCols.contains(c) =>
        col(s"_s_$c").as(c)
      case c => lit(null).cast(target.schema(c).dataType).as(c)
    }
    val inserted = SurrogateId.assign(
      joined.filter(!tgtPresent).select(insertCols: _*), idCol, baseId,
      keys.map(col))

    kept.unionByName(inserted)
  }

  /** [[merge]] against a bucket-partitioned stored table, scanning and
    * rewriting ONLY the buckets that contain source keys — the
    * reference's `ON CONFLICT DO UPDATE` at table scale. The snapshot-
    * rewrite merge is O(table) per batch; this is O(touched buckets).
    *
    * SIZING nBuckets (measured, tools/MergeBench): random batch keys
    * touch ~min(batchKeys, nBuckets) buckets, so the rewrite fraction
    * is ≈ batchKeys/nBuckets — a 20-key batch against 32 buckets
    * rewrites ~50% of the table, against 512 buckets ~4%. Pick
    * nBuckets ≫ the typical batch's distinct-key count AND so one
    * bucket ≈ 128-256 MB at expected table volume (10⁴ buckets for a
    * TB-scale entity table) — [[suggestBuckets]] mechanizes exactly
    * this trade. The default 32 suits THIS reference's
    * catalog-sized entity tables; the value is pinned per table in the
    * sidecar at creation, so choose it then.
    *
    * Layout: `_bucket = pmod(xxhash64(keys), nBuckets)` as a partition
    * directory — the target scan prunes at the FileIndex (untouched
    * bucket dirs are never listed) and the write swaps only touched
    * bucket dirs, so untouched files stay byte-identical (EtlSpec pins
    * this). Surrogate-id assignment needs the GLOBAL max id, which a
    * pruned scan cannot see: a `_graft_maxid` sidecar carries it
    * across batches (recomputed from touched buckets after each write).
    *
    * Atomicity is per bucket — the same consistency unit as the
    * reference's per-row transactions (see SilverStore.overwriteBuckets).
    */
  /** Bucket-count sizing for [[mergeBucketed]], mechanizing the
    * measured model (tools/MergeBench, SURVEY §8): a merge rewrites
    * ~min(batchKeys, nBuckets) buckets, so the rewrite fraction is
    * ≈ batchKeys/nBuckets — and a bucket should hold roughly
    * `targetBucketBytes` at the expected table volume so commit units
    * stay HDFS-block-sized. Takes whichever pressure demands more
    * buckets, rounds up to a power of two (stable as estimates drift),
    * and floors at 32. The count is pinned in the table sidecar at
    * creation — call this when CREATING a table, with the volume you
    * expect it to reach, not the volume it starts at. */
  def suggestBuckets(expectedTableBytes: Long,
                     typicalBatchKeys: Long = 1000,
                     targetBucketBytes: Long = 192L << 20,
                     maxRewriteFraction: Double = 0.05,
                     minBucketBytes: Long = 4L << 20): Int = {
    require(expectedTableBytes >= 0 && typicalBatchKeys >= 0)
    require(targetBucketBytes > 0 && maxRewriteFraction > 0 && minBucketBytes > 0)
    val bySize = expectedTableBytes.toDouble / targetBucketBytes
    // rewrite amplification only matters while buckets stay above
    // minBucketBytes: a small table rewriting half its (small) self is
    // cheaper than shattering into thousands of tiny files
    val byRewrite = math.min(typicalBatchKeys / maxRewriteFraction,
      expectedTableBytes.toDouble / minBucketBytes)
    val n = math.max(32.0, math.max(bySize, byRewrite))
    val capped = math.min(n, (1 << 20).toDouble).ceil.toInt
    if (Integer.bitCount(capped) == 1) capped
    else Integer.highestOneBit(capped) * 2
  }

  /** A row's bucket, the layout of every bucketed table:
    * [[mergeBucketed]] writes by it, [[deleteBucketed]] prunes by it. */
  private def bucketOf(keys: Seq[String], n: Int): Column =
    pmod(xxhash64(keys.map(col): _*), lit(n)).cast(IntegerType)

  def mergeBucketed(store: SilverStore, table: String,
                    schema: org.apache.spark.sql.types.StructType,
                    source: DataFrame, keys: Seq[String], idCol: String,
                    updateCols: Seq[String],
                    insertOnlyCols: Seq[String] = Nil,
                    nBuckets: Int = 32): Unit = {
    require(nBuckets >= 1)
    val bcol = store.bucketCol

    // settle crashed swaps BEFORE reading the target: an unsettled
    // bucket's rows are invisible, and this merge would re-insert its
    // keys with fresh surrogate ids
    store.recover(table)

    val meta = store.readMeta(table)
    if (store.exists(table) && (!store.isBucketed(table) || meta.isEmpty)) {
      // full merge + atomic snapshot swap, two cases:
      // - one-time migration from the flat snapshot layout (a flat
      //   table must not be merged bucket-pruned: its files carry no
      //   _bucket, the pruned scan would see nothing and every key
      //   would re-insert);
      // - bucketed table whose sidecar is lost/corrupt: the TRUE
      //   bucket count is unknowable (bucket dirs can be sparse), and
      //   pruning with a guessed count that differs from the stored
      //   layout would shear it — duplicate keys, mixed mod layouts.
      //   One full rewrite re-establishes a known layout + sidecar.
      // Both read the whole table regardless of layout (read() drops
      // _bucket), so the merge itself is layout-agnostic.
      val target = store.read(table, schema)
      val merged = merge(target, source, keys, idCol,
        SurrogateId.maxOf(target, idCol), updateCols, insertOnlyCols)
      store.overwrite(table,
        merged.withColumn(bcol, bucketOf(keys, nBuckets)), Seq(bcol))
      store.writeMeta(table,
        SurrogateId.maxOf(store.read(table, schema), idCol), nBuckets)
      return
    }

    // the STORED layout's bucket count (sidecar) wins over the
    // parameter: merging mod-64 into a mod-32 layout would miss every
    // existing key. Reaching here with a missing sidecar means the
    // table doesn't exist yet — initial create.
    val nb = meta.map(_._2).getOrElse(nBuckets)
    val maxId0 = meta.map(_._1).getOrElse(0)

    val touched: Seq[Int] =
      if (!store.exists(table)) (0 until nb)
      else source.select(bucketOf(keys, nb).as(bcol)).distinct()
        .collect().map(_.getInt(0)).toSeq.sorted
    val targetSub = store.readBucketed(table, schema)
      .filter(col(bcol).isin(touched: _*)).drop(bcol)
    val merged = merge(targetSub, source, keys, idCol, maxId0, updateCols,
      insertOnlyCols)

    // stage -> meta -> commit: the new high-water mark is derived from
    // the STAGED delta (a scan of touched-bucket bytes only) and made
    // durable before any bucket becomes visible, so a crash at any
    // point can only leave the mark high (id gaps), never low
    // (id collisions)
    val tmp = store.stageBuckets(table,
      merged.withColumn(bcol, bucketOf(keys, nb)))
    try {
      val stagedMax = SurrogateId.maxOf(
        store.spark.read.schema(
          org.apache.spark.sql.types.StructType(schema.fields :+
            org.apache.spark.sql.types.StructField(bcol,
              org.apache.spark.sql.types.IntegerType, nullable = true)))
          .parquet(tmp.toString), idCol)
      store.writeMeta(table, math.max(maxId0, stagedMax), nb)
      store.commitBuckets(table, tmp, touched)
    } finally Commit.deleteRecursively(tmp)
  }

  /** What a keyed delete did: the buckets it rewrote and the rows it
    * removed (the audit trail retains COUNTS, never the keys — a
    * forget request must not be remembered verbatim in logs). */
  final case class DeleteStats(touched: Seq[Int], deleted: Long)

  /** Keyed DELETE over a bucketed table — the right-to-be-forgotten /
    * retention op the MERGE family lacked. Same pruning discipline as
    * [[mergeBucketed]]: the deletion keys' bucket set is computed
    * first (bounded collect), ONLY those `_bucket=` directories are
    * read and rewritten (stage → per-bucket rename swap), every other
    * bucket's files stay byte-identical — at 100 TB a forget request
    * for k users touches ~min(k, nBuckets) buckets, never the table.
    * A bucket whose every row is deleted is REMOVED (the
    * [[SilverStore.commitBuckets]] "intentionally emptied" path), and
    * the id high-water mark in the sidecar is left untouched, so a
    * later re-insert of a deleted key gets a FRESH surrogate id — ids
    * are never reused across a forget (the property EtlSpec pins).
    *
    * Rows whose key columns contain NULL never match a deletion key
    * (anti-join equality), and null-keyed deletion rows delete
    * nothing — both by SQL join semantics, stated here so callers
    * scrub their request frame.
    *
    * Reference anchor: the reference's CloudSQL rows are mutable in
    * place but it ships no delete path at all (every service under
    * `etl-gcs-cloudsql/src/services/` upserts only); retention /
    * GDPR erasure is extension surface a lake-scale store must have. */
  def deleteBucketed(store: SilverStore, table: String,
                     schema: org.apache.spark.sql.types.StructType,
                     deleteKeys: DataFrame, keys: Seq[String])
      : DeleteStats = {
    require(keys.nonEmpty, "delete needs at least one key column")
    // single-writer discipline, as mergeBucketed: settle crashed swaps
    // before reading, or a stranded bucket's rows would silently
    // survive the delete
    store.recover(table)
    val meta = store.readMeta(table)
    require(store.exists(table) && store.isBucketed(table) &&
      meta.isDefined,
      s"deleteBucketed needs a bucketed layout with a sidecar for " +
        s"$table — migrate flat tables through mergeBucketed first")
    val nb = meta.get._2
    val bcol = store.bucketCol
    val req = deleteKeys.select(keys.map(col): _*).distinct()
    val touched = req.select(bucketOf(keys, nb).as(bcol)).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted
    if (touched.isEmpty) return DeleteStats(Nil, 0L)
    val sub = store.readBucketed(table, schema)
      .filter(col(bcol).isin(touched: _*)).drop(bcol)
    val kept = sub.join(req, keys, "left_anti")
    // two bounded passes over the TOUCHED buckets only: the count is
    // the audit record, and counting staged bytes instead would tie
    // the stat to a re-read of what was just written
    val deleted = sub.count() - kept.count()
    if (deleted == 0L) return DeleteStats(touched, 0L)
    val tmp = store.stageBuckets(table, kept.withColumn(bcol, bucketOf(keys, nb)))
    try store.commitBuckets(table, tmp, touched)
    finally Commit.deleteRecursively(tmp)
    DeleteStats(touched, deleted)
  }
}
