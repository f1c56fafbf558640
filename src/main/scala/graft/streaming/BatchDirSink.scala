package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.etl.Commit

/** The bounded-growth discipline for `foreachBatch` append sinks that
  * write one `batch=<id>` directory per trigger (the idempotent
  * overwrite-own-directory pattern of [[EventStreams.writeFlagsBatch]]
  * and [[AttributionStream.foldBatch]]'s credit write): one directory
  * per trigger is replay-safe but grows FOREVER (~500k dirs/year at a
  * 1-minute trigger — a listing-scale problem long before a data-scale
  * one). [[compact]] merges all but the newest batch directory (the
  * only id `foreachBatch` can still replay) into a versioned
  * `_compacted` store with a `through` watermark, and [[serve]] reads
  * compacted ∪ above-watermark dirs — row-identical across compaction,
  * with a stale replay of an already-compacted id EXCLUDED by the
  * watermark instead of double-served.
  *
  * Crash safety is [[graft.etl.Commit]]'s: the merged payload (rows +
  * watermark sidecar) stages completely and lands by its claim; a
  * crash before the claim changes nothing, a crash after it leaves
  * stale batch dirs at-or-below the watermark that [[serve]] already
  * excludes and the next [[compact]] sweeps.
  *
  * Shared by the attribution credit sink
  * ([[AttributionStream.compactCredits]]) and the anomaly-flags sink
  * ([[EventStreams.compactFlags]]) — one recipe, two sinks, the specs
  * pin each end to end. */
object BatchDirSink {

  /** The `batch` value stamped on rows whose true micro-batch id is
    * gone for good (compacted before the provenance column existed).
    * -1 sorts below every real id and can never collide with one. */
  val PreProvenanceBatch: Long = -1L

  /** Everything written so far — WITH the `batch` provenance column
    * (the micro-batch id, long): the compacted store (if a compaction
    * ran — `batch` preserved as a data column) plus every `batch=<id>`
    * directory ABOVE the compaction watermark, read under `basePath`
    * so the partition column survives the explicit leaf-dir listing.
    * A stale replay directory of an already-compacted id is excluded
    * rather than double-served. Fails with a descriptive error when
    * the sink is empty (`what` names it).
    *
    * Concurrent-compact safety (r18 ADVICE): between resolving the
    * compacted watermark and listing the batch dirs, a concurrent
    * [[compact]] may claim a NEWER watermark and delete the dirs it
    * merged — a read against the stale pair would silently miss those
    * rows. serve re-resolves the compacted state AFTER listing and
    * retries while the watermark moved, so the returned frame's
    * (watermark, dirs) pair is consistent. The frame is still lazy:
    * materialize it promptly — a compact that runs between serve() and
    * the action can delete a listed dir, which fails LOUDLY
    * (FileNotFoundException), never silently. */
  def serve(spark: SparkSession, dir: String, what: String): DataFrame = {
    var attempt = 0
    var result: Option[DataFrame] = None
    while (result.isEmpty) {
      val (through, compacted) = compactedState(spark, dir)
      val fresh = batchDirs(dir).filter(_._1 > through)
      raceSeam() // test seam: injects a concurrent compact here
      // consistency check: the compacted version we read must still be
      // the newest AFTER the dir listing — else a concurrent compact
      // merged (and deleted) some of the dirs we would have skipped
      if (compactedState(spark, dir)._1 == through) {
        val parts = compacted.toSeq ++
          (if (fresh.isEmpty) Nil
           else Seq(readBatchDirs(spark, dir, fresh)))
        require(parts.nonEmpty,
          s"no $what batches yet under $dir — the maintainer has not " +
            "completed a micro-batch (or the directory is wrong)")
        result = Some(parts.reduce(_ unionByName _))
      } else {
        attempt += 1
        require(attempt < 50,
          s"serve($dir) could not observe a stable compaction " +
            "watermark after 50 attempts — a compact loop is running " +
            "hot; serve between compactions")
      }
    }
    result.get
  }

  /** Merge every `batch=<id>` directory EXCEPT the newest into the
    * versioned `_compacted` store, then delete the merged directories.
    * Returns the new watermark (or the old one when there was nothing
    * to compact). See the object doc for the crash-safety argument. */
  def compact(spark: SparkSession, dir: String): Long = {
    val dirs = batchDirs(dir)
    val (through, compacted) = compactedState(spark, dir)
    if (dirs.isEmpty) return through
    val newest = dirs.map(_._1).max
    val newThrough = math.max(newest - 1, through)
    val merge = dirs.filter(d => d._1 > through && d._1 < newest)
    val stale = dirs.filter(_._1 <= through) // already-compacted replays
    if (merge.nonEmpty || newThrough > through) {
      val root = Paths.get(dir, "_compacted")
      Commit.recover(root)
      val stage = Commit.stage(root)
      val merged = (compacted.toSeq ++
        (if (merge.isEmpty) Nil
         else Seq(readBatchDirs(spark, dir, merge))))
        .reduceOption(_ unionByName _)
      merged match {
        case Some(df) =>
          df.write.mode("overwrite")
            .parquet(stage.resolve("rows").toString)
        case None => Files.createDirectories(stage.resolve("rows"))
      }
      Files.writeString(stage.resolve("through"), newThrough.toString)
      Commit.claim(root, stage)
      Commit.prune(root, 2)
    }
    // merged dirs and stale replay leftovers are now redundant — their
    // rows are served from the compacted store
    (merge ++ stale).foreach(d => Commit.drop(Paths.get(d._2)))
    newThrough
  }

  /** The every-N-triggers auto-compaction hook for `foreachBatch`
    * sinks (r18 directive — the bounded-growth guarantee by
    * construction instead of by operator discipline, wired the way
    * [[EventStreams.hourlyAnomaliesRefreshing]] refreshes thresholds):
    * call after writing `batch=<id>`; every `every`-th trigger runs
    * [[compact]], bounding the sink at ≤ `every` live batch dirs plus
    * one compacted store. Safe within the trigger that just wrote
    * `batch=<id>` — that id is the newest and compact never touches
    * the newest (replayable) dir. `every <= 0` disables. */
  def maybeCompact(spark: SparkSession, dir: String, id: Long,
                   every: Int): Option[Long] =
    if (every > 0 && id > 0 && id % every == 0) Some(compact(spark, dir))
    else None

  /** One-time migration stamping [[PreProvenanceBatch]] onto compacted
    * rows whose `batch` is NULL (stores compacted by the release that
    * null-filled pre-provenance rows instead of stamping the sentinel;
    * r18 directive). Rewrites the newest `_compacted` version in place
    * via the staged-claim idiom, preserving the watermark; later
    * compactions carry the sentinel forward as an ordinary value.
    * Returns the number of rows stamped (0 = nothing to migrate — also
    * when no compaction ever ran). */
  def migratePreProvenance(spark: SparkSession, dir: String): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val (through, compacted) = compactedState(spark, dir)
    compacted match {
      case None => 0L
      case Some(df) =>
        val nulls = df.filter(col("batch").isNull).count()
        if (nulls == 0) return 0L
        val root = Paths.get(dir, "_compacted")
        Commit.recover(root)
        val stage = Commit.stage(root)
        df.withColumn("batch",
            coalesce(col("batch"), lit(PreProvenanceBatch)))
          .write.mode("overwrite").parquet(stage.resolve("rows").toString)
        Files.writeString(stage.resolve("through"), through.toString)
        Commit.claim(root, stage)
        Commit.prune(root, 2)
        nulls
    }
  }

  /** Explicit `batch=<id>` leaf dirs under a shared basePath, so the
    * `batch` partition column is inferred; cast long (inference would
    * type small ids int) so compacted data rows union losslessly. */
  private def readBatchDirs(spark: SparkSession, dir: String,
                            dirs: Seq[(Long, String)]): DataFrame =
    spark.read.option("basePath", dir).parquet(dirs.map(_._2): _*)
      .withColumn("batch", col("batch").cast("long"))

  /** (watermark, compacted rows) from the newest complete `_compacted`
    * version; (-1, None) when compaction has never run. */
  private def compactedState(spark: SparkSession, dir: String)
      : (Long, Option[DataFrame]) = {
    val root = Paths.get(dir, "_compacted")
    Commit.versions(root).maxOption match {
      case None => (-1L, None)
      case Some(v) =>
        val vdir = root.resolve(s"v$v")
        val through = Files.readString(vdir.resolve("through")).trim.toLong
        val rows = vdir.resolve("rows")
        val hasRows = Files.isDirectory(rows) && {
          val st = Files.list(rows)
          try st.anyMatch(p =>
            p.getFileName.toString.startsWith("part-"))
          finally st.close()
        }
        (through, if (!hasRows) None else {
          val df = spark.read.parquet(rows.toString)
          // a store compacted before rows carried their provenance
          // column has no `batch` — stamp the sentinel (the ids are
          // gone for good: merged rows predate the column) so
          // serve/compact union cleanly and consumers never see a
          // null batch group (r18 directive; [[migratePreProvenance]]
          // persists the same stamp for stores whose compacted ROWS
          // already carry nulls)
          Some(if (df.columns.contains("batch")) df
               else df.withColumn("batch",
                 org.apache.spark.sql.functions.lit(PreProvenanceBatch)))
        })
    }
  }

  /** Test seam (the LabelStore.beforeMutate pattern): runs between
    * [[serve]]'s dir listing and its watermark re-check, so the spec
    * can inject a concurrent [[compact]] into the exact window the
    * retry exists for. No-op in production. */
  private[graft] var raceSeam: () => Unit = () => ()

  private def batchDirs(dir: String): Seq[(Long, String)] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Nil
    val st = Files.list(root)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("batch=\\d+"))
        .map(n => n.drop(6).toLong ->
          root.resolve(n).toString).toSeq.sortBy(_._1)
    } finally st.close()
  }
}
