package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.analytics.Attribution
import graft.etl.Commit

/** Streaming multi-touch attribution — the stream twin of q197's
  * [[Attribution.fold]], completing the fold family's streaming
  * coverage (rollups: [[RollupStream]]; SCD2: [[Scd2Stream]]; vectors:
  * [[VectorIngest]]; postings: [[Bm25Ingest]]): each micro-batch of
  * raw events splits into touches and conversions, the conversions are
  * credited against the stored per-user timeline (lookback-horizon
  * touches + one floor sentinel — O(rate × lookback) state per user,
  * never the touch history), per-conversion credits land in
  * `creditsDir/batch=<id>`, and the pruned timeline becomes the next
  * version of the state store.
  *
  * Idempotence under foreachBatch's AT-LEAST-ONCE contract is the
  * [[RollupStream.foldBatch]] versioned-store discipline verbatim:
  * batch `id` reads the latest state version STRICTLY BELOW `id` and
  * writes `v<id>` by staged swap, so a replay rebuilds `v<id>` from
  * exactly the same input state; the credit sink overwrites its own
  * `batch=<id>` directory (the [[EventStreams.writeFlagsBatch]]
  * pattern) instead of appending duplicates.
  *
  * Scale contract (r17): the user-grain timeline lives in
  * [[BucketedStateStore]] — hash-bucketed by user, a fold reads and
  * rewrites ONLY the buckets containing the batch's users, the version
  * manifest references the rest in their previous owners — so
  * per-batch write cost tracks the batch, not the user population
  * (the r16 store rewrote the full timeline every trigger). The credit
  * sink side gets [[compactCredits]]: `batch=<id>` directories grow
  * one per trigger forever (~500k/year at a 1-minute trigger), so
  * compaction merges all but the newest (the only replayable id) into
  * a versioned `_compacted` store and [[serveCredits]] reads
  * compacted ∪ newer batch dirs — row-identical across compaction,
  * and a stale replay of an already-compacted id is EXCLUDED by the
  * compaction watermark instead of double-served.
  *
  * Ordering contract (inherited from [[Attribution.fold]], enforced
  * loudly there): per-user event-time order across micro-batches —
  * touches strictly after the user's stored touch frontier AND
  * strictly after the user's last credited conversion (a marker row
  * in the state, r18), conversions at-or-after the touch frontier.
  * Out-of-order backfill needs pruned rows and must replay
  * [[Attribution.perConversion]] over the raw log instead. */
object AttributionStream {

  /** Start the maintainer over a raw event stream with columns
    * (`user`, `ts`, `channel`, `tie`) where `channel` ∈ `channels`
    * marks a touch and `channel` == `conversionType` a conversion.
    *
    * `autoCompactEvery` wires [[BatchDirSink.maybeCompact]] into the
    * trigger loop (r18 directive): every Nth micro-batch compacts the
    * credit sink right after its own `batch=<id>` write, so the
    * bounded-growth guarantee (≤ N live batch dirs + one compacted
    * store) holds BY CONSTRUCTION instead of by operator cadence.
    * `<= 0` disables (compact manually via [[compactCredits]]). */
  def maintainAttribution(events: DataFrame, channels: Seq[String],
                          conversionType: String, lookbackUs: Long,
                          storeDir: String, creditsDir: String,
                          checkpointDir: String,
                          buckets: Int = 64,
                          autoCompactEvery: Int = 64): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        foldBatch(df, id, channels, conversionType, lookbackUs,
          storeDir, creditsDir, buckets)
        BatchDirSink.maybeCompact(df.sparkSession, creditsDir, id,
          autoCompactEvery)
        ()
      }
      .start()

  /** One micro-batch's fold — factored so the replay property is
    * unit-testable: calling this twice with the same `id` leaves both
    * the store and the credit output row-identical. */
  private[graft] def foldBatch(batch: DataFrame, id: Long,
                               channels: Seq[String],
                               conversionType: String, lookbackUs: Long,
                               storeDir: String, creditsDir: String,
                               buckets: Int = 64)
      : BucketedStateStore.FoldStats = {
    val s = batch.sparkSession
    val root = Paths.get(storeDir)
    Files.createDirectories(root)
    Commit.recover(root)
    val (touches, conv) = splitBatch(batch, channels, conversionType,
      convTie = true)
    val conversions = conv.withColumnRenamed("tie", "cid")
    // touched buckets come from the RAW batch (touch ∪ conversion
    // users — a conversion-only user's stored timeline must be read)
    val touched = BucketedStateStore.touchedBuckets(
      batch, Seq("user"), buckets)
    val prev = BucketedStateStore.prevVersion(root, id)
    val state = prev match {
      case Some(v) =>
        BucketedStateStore.readSlice(s, root, v, touched, buckets)
      case None => Attribution.initState(touches, channels)
    }
    // pinned fold: the credit write and the state write are two
    // ACTIONS over the shared (stored slice ∪ annotated batch)
    // timeline — unpinned they would evaluate the state read + batch
    // window + guards twice per micro-batch
    val (credits, nextState, release) = Attribution.foldPinned(state,
      touches, conversions, channels,
      org.apache.spark.sql.functions.lit(lookbackUs))
    try {
      // credits first: if we crash between the two writes, the replay
      // re-reads the OLD state version (v<id> not yet swapped) and
      // overwrites batch=<id> with identical rows
      credits.write.mode("overwrite").parquet(s"$creditsDir/batch=$id")
      BucketedStateStore.publish(nextState, root, id, prev, touched,
        Seq("user"), buckets)
    } finally release()
  }

  /** All credited conversions so far — WITH their `batch` provenance
    * column (the micro-batch id that credited each conversion, long):
    * [[BatchDirSink.serve]] over the credit sink (compacted store ∪
    * above-watermark batch dirs; stale replays of already-compacted
    * ids excluded). Fails with a descriptive error when nothing has
    * been credited yet (the [[FunnelStream.serveSummary]] convention).
    *
    * Pre-provenance rows: a store compacted BEFORE credits carried the
    * provenance column serves those merged rows with `batch` =
    * [[BatchDirSink.PreProvenanceBatch]] (-1 — the real ids are gone
    * for good; they predate the column), never null (r19: the null
    * group consumers had to special-case is retired —
    * [[BatchDirSink.migratePreProvenance]] stamps stores whose
    * compacted rows still carry nulls). -1 means "credited before
    * provenance tracking", not "no batch". */
  def serveCredits(spark: SparkSession, creditsDir: String): DataFrame =
    BatchDirSink.serve(spark, creditsDir, "credited")

  /** Merge every `batch=<id>` directory EXCEPT the newest (the only id
    * foreachBatch can replay) into the versioned `_compacted` store,
    * then delete the merged directories — bounding the sink at one
    * live batch dir + one compacted store instead of one directory per
    * trigger forever. [[BatchDirSink.compact]] carries the crash-safety
    * argument. Returns the new watermark. */
  def compactCredits(spark: SparkSession, creditsDir: String): Long =
    BatchDirSink.compact(spark, creditsDir)

  /** Drop superseded state versions, keeping the newest `keep` plus
    * whatever their manifests still reference. */
  def prune(storeDir: String, keep: Int = 2): Unit =
    BucketedStateStore.prune(storeDir, keep)

  // ── streaming Markov attribution (r17) ───────────────────────────

  /** Start the Markov (removal-effect) maintainer — the stream twin of
    * q205's [[Attribution.markovFold]]: per-user chain frontiers live
    * in a [[BucketedStateStore]] (user-grain — touched-bucket folds),
    * the bounded transition-cell counts in a plain batch-id-versioned
    * sidecar store (≤ (channels+2)² rows — a full rewrite per trigger
    * IS the batch-proportional cost here), and [[serveMarkov]] reads
    * the q199 report from the latest cell version without touching
    * events. Same input contract as [[maintainAttribution]]. */
  def maintainMarkov(events: DataFrame, channels: Seq[String],
                     conversionType: String, frontierDir: String,
                     cellsDir: String, checkpointDir: String,
                     buckets: Int = 64): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        foldMarkovBatch(df, id, channels, conversionType, frontierDir,
          cellsDir, buckets)
        ()
      }
      .start()

  /** One micro-batch's Markov fold — replay-unit-testable like
    * [[foldBatch]]. */
  private[graft] def foldMarkovBatch(batch: DataFrame, id: Long,
                                     channels: Seq[String],
                                     conversionType: String,
                                     frontierDir: String,
                                     cellsDir: String,
                                     buckets: Int = 64)
      : BucketedStateStore.FoldStats = {
    val (touches, conversions) = splitBatch(batch, channels,
      conversionType, convTie = false)
    foldUserPlusSidecar(batch, id, frontierDir, cellsDir, buckets,
      "markov",
      init = Attribution.markovInitState(touches, conversions),
      fold = (frontier, cells) =>
        // pinned: the cells write and the frontier publish are two
        // ACTIONS over the shared chain window — unpinned they would
        // evaluate the frontier read + guards + window twice
        Attribution.markovFoldPinned(frontier, cells,
          touches, conversions))
  }

  /** (touches, conversions) projections of a raw event micro-batch —
    * the ONE place the stream twins split their input. */
  private def splitBatch(batch: DataFrame, channels: Seq[String],
                         conversionType: String, convTie: Boolean)
      : (DataFrame, DataFrame) = {
    val touches = batch.filter(col("channel").isin(channels: _*))
      .select(col("user"), col("ts"), col("channel"), col("tie"))
    val conv = batch.filter(col("channel") === conversionType)
    (touches,
      if (convTie) conv.select(col("user"), col("ts"), col("tie"))
      else conv.select(col("user"), col("ts")))
  }

  /** The shared two-store fold: user-grain state in a
    * [[BucketedStateStore]] (touched-bucket publication), a tiny
    * bounded sidecar in a plain batch-id-versioned store (full rewrite
    * per trigger IS the batch-proportional cost there). Sidecar writes
    * FIRST (the credits discipline): a crash between the two writes
    * leaves sidecar `v<id>` orphaned; the replay reads both stores
    * strictly below `id`, rebuilds from identical inputs, and
    * overwrites it. `fold` returns (next user state, next sidecar,
    * release thunk) — the pinned-fold contract. */
  private def foldUserPlusSidecar(batch: DataFrame, id: Long,
      userDir: String, sidecarDir: String, buckets: Int, what: String,
      init: => (DataFrame, DataFrame),
      fold: (DataFrame, DataFrame) => (DataFrame, DataFrame, () => Unit))
      : BucketedStateStore.FoldStats = {
    val s = batch.sparkSession
    val uroot = Paths.get(userDir)
    val croot = Paths.get(sidecarDir)
    Files.createDirectories(uroot); Files.createDirectories(croot)
    Commit.recover(uroot); Commit.recover(croot)
    val touched = BucketedStateStore.touchedBuckets(
      batch, Seq("user"), buckets)
    val prevU = BucketedStateStore.prevVersion(uroot, id)
    val prevC = Commit.latestBefore(croot, id)
    // the user store versions by SLOT (a compaction may own the
    // latest slot), the tiny sidecar by raw batch id — in-step means
    // both resolve to the same last batch
    require(prevU.map(_ >> 1) == prevC,
      s"$what stores out of step (user $prevU vs sidecar $prevC) — " +
        "both write every batch, so only manual surgery desyncs them")
    val (userState, sidecar) = (prevU, prevC) match {
      case (Some(uv), Some(cv)) =>
        (BucketedStateStore.readSlice(s, uroot, uv, touched, buckets),
          s.read.parquet(croot.resolve(s"v$cv").toString))
      case _ => init
    }
    val (nu, nc, release) = fold(userState, sidecar)
    try {
      val tmp = Commit.stage(croot)
      nc.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      // a replay replaces its own stale output
      Commit.swap(croot.resolve(s"v$id"), tmp)
      BucketedStateStore.publish(nu, uroot, id, prevU, touched,
        Seq("user"), buckets)
    } finally release()
  }

  /** Drop superseded Markov state: layered prune on the frontier store
    * plus keep-newest on the cell sidecar (each version is a full
    * ≤ (channels+2)²-row rewrite, so old ones are pure dead weight —
    * without this the sidecar grows one `v<id>` dir per trigger
    * forever, the credit-sink problem in version clothing). `keep = 2`
    * preserves the newest batch's replay input on both stores. */
  def pruneMarkov(frontierDir: String, cellsDir: String,
                  keep: Int = 2): Unit = {
    BucketedStateStore.prune(frontierDir, keep)
    Commit.prune(Paths.get(cellsDir), keep)
  }

  /** The q199 Markov report from the latest maintained cell counts. */
  def serveMarkov(spark: SparkSession, cellsDir: String,
                  chA: String, chB: String): DataFrame =
    Attribution.markovServe(latestSidecar(spark, cellsDir, "markov cell"),
      chA, chB)

  /** The q202 N-channel Markov report from the SAME maintained cell
    * counts — [[maintainMarkov]]'s state is channel-agnostic, so one
    * maintained store serves both the 2-channel closed form and the
    * N-channel Jacobi recipe (q207). */
  def serveMarkovN(spark: SparkSession, cellsDir: String,
                   channels: Seq[String], rounds: Int = 24): DataFrame =
    Attribution.markovNServe(latestSidecar(spark, cellsDir, "markov cell"),
      channels, rounds)

  private def latestSidecar(spark: SparkSession, dir: String,
                            what: String): DataFrame = {
    val root = Paths.get(dir)
    val v = Commit.versions(root).maxOption
      .getOrElse(sys.error(s"no $what state under $dir"))
    spark.read.parquet(root.resolve(s"v$v").toString)
  }

  // ── streaming time-decay attribution (r17) ───────────────────────

  /** Start the time-decay maintainer — the stream twin of q206's
    * [[Attribution.decayFold]]: per-user horizon rows live in a
    * [[BucketedStateStore]], the bounded per-channel decay totals in
    * a batch-id-versioned sidecar, and [[serveDecay]] reads the q198
    * report from the latest totals without touching events. Same
    * input contract as [[maintainAttribution]]. */
  def maintainDecay(events: DataFrame, channels: Seq[String],
                    conversionType: String, lookbackUs: Long,
                    horizonDir: String, totalsDir: String,
                    checkpointDir: String,
                    buckets: Int = 64): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        foldDecayBatch(df, id, channels, conversionType, lookbackUs,
          horizonDir, totalsDir, buckets)
        ()
      }
      .start()

  /** One micro-batch's decay fold — replay-unit-testable like
    * [[foldBatch]]. */
  private[graft] def foldDecayBatch(batch: DataFrame, id: Long,
                                    channels: Seq[String],
                                    conversionType: String,
                                    lookbackUs: Long,
                                    horizonDir: String,
                                    totalsDir: String,
                                    buckets: Int = 64)
      : BucketedStateStore.FoldStats = {
    val (touches, conversions) = splitBatch(batch, channels,
      conversionType, convTie = false)
    foldUserPlusSidecar(batch, id, horizonDir, totalsDir, buckets,
      "decay",
      init = Attribution.decayInitState(touches),
      fold = (horizon, totals) =>
        Attribution.decayFoldPinned(horizon, totals,
          touches, conversions, lookbackUs))
  }

  /** The q198 time-decay report from the latest maintained totals. */
  def serveDecay(spark: SparkSession, totalsDir: String,
                 channels: Seq[String]): DataFrame =
    Attribution.decayServe(
      latestSidecar(spark, totalsDir, "decay totals"), channels)

  /** [[pruneMarkov]] for the decay stores. */
  def pruneDecay(horizonDir: String, totalsDir: String,
                 keep: Int = 2): Unit = {
    BucketedStateStore.prune(horizonDir, keep)
    Commit.prune(Paths.get(totalsDir), keep)
  }
}
