package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming operators (SURVEY §2 I — absent from the
  * reference; the extension surface a telemetry / training-data
  * pipeline needs). Batch twins of the windowed operators live in
  * [[graft.analytics.EventQueries]] (q32/q33) and are oracle-checked;
  * these run the same semantics over unbounded streams with
  * watermark-driven state eviction.
  */
object EventStreams {

  /** Input event for the typed stateful operators. `ts_us` = event time
    * in epoch micros (the engine's canonical clock, see EventQueries). */
  case class Ev(user_id: Long, ts_us: Long, value: Double)

  /** Typed-event shape for the per-type monitors ([[hourlyAnomalies]]). */
  case class TypedEv(event_type: String, ts_us: Long)

  /** A closed session emitted by [[sessionizeStateful]]. */
  case class Session(user_id: Long, session_start_us: Long,
                     session_end_us: Long, n_events: Long, sum_value: Double)

  /** State-store record for [[sessionizeStateful]] — public: the state
    * encoder's generated code must be able to call the accessors. */
  case class OpenSession(start: Long, last: Long, n: Long, total: Double)

  /** Tumbling event-time windows with a watermark: late events beyond
    * `lateness` are dropped and window state is evicted — bounded state
    * on an unbounded stream. Works identically on a batch DataFrame
    * (watermark is a no-op there; q33 is the oracle-checked twin). */
  def hourlyWindows(events: DataFrame, lateness: String = "2 hours"): DataFrame =
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", lateness)
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("sum_value"))

  /** Native session windows (30-min gap) with watermark state eviction;
    * q32 is the batch oracle-checked twin. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     lateness: String = "2 hours"): DataFrame =
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", lateness)
      .groupBy(col("user_id"), session_window(col("ts_t"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** Windowed distinct-user ESTIMATES via the engine's constant-state
    * HLL aggregate ([[graft.plans.HllAgg]], q104's oracle-checked
    * sketch) — the unbounded-stream shape: an exact windowed
    * countDistinct holds one state row per (window, user), which grows
    * without bound in the user dimension; the 512-byte register sketch
    * keys state by WINDOW ONLY, so state size is windows × 512 bytes
    * no matter how many distinct users flow through. Works identically
    * on a batch frame (watermark is a no-op there) — StreamingSpec
    * pins stream output == the batch run of this same function, and
    * the register math itself is cross-engine-proven by q104. */
  def hourlyDistinctUsers(events: DataFrame,
                          lateness: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
    val hll = toC(graft.plans.HllAgg(toE(col("h"))).toAggregateExpression())
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .withWatermark("ts_t", lateness)
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), hll.as("_h"))
      .select(col("window.start").as("hour"), col("n_events"),
        // s_scaled is the exact integer register summary (stream ==
        // batch bit-for-bit); the FP estimate sits here in the open.
        // Unlike q104 (whose corpus cardinalities provably sit in the
        // raw-estimator regime, so the branch would be dead code under
        // the oracle), a streaming window CAN be nearly empty — a
        // quiet hour with 30 users needs HLL's standard small-range
        // correction (linear counting m·ln(m/V) when the raw estimate
        // is under 2.5m and zero registers remain) or the raw
        // estimator overshoots by an order of magnitude.
        col("_h.s_scaled").as("s_scaled"), {
          val m = graft.plans.HllAgg.m.toDouble
          val raw = lit(graft.plans.HllAgg.alphaNum) /
            col("_h.s_scaled").cast("double")
          round(when(raw <= lit(2.5 * m) && col("_h.zero_regs") > 0,
              lit(m) * log(lit(m) / col("_h.zero_regs").cast("double")))
            .otherwise(raw), 1).as("distinct_users_est")
        })
  }

  /** Windowed per-user event-frequency ESTIMATES via the engine's
    * Count-Min aggregate ([[graft.plans.CmsAgg]], q110's oracle-checked
    * sketch) — the frequency twin of [[hourlyDistinctUsers]]: an exact
    * windowed per-user count holds one state row per (window, user),
    * unbounded in users, while the 4×256-counter sketch keys state by
    * WINDOW ONLY (8 KiB/window at any user cardinality). `probeUsers`
    * is the bounded heavy-hitter candidate set a monitoring pipeline
    * tracks; estimates are `least` over the 4 counter rows each hash
    * byte lands in — one-sided (never under the true count), the q110
    * discipline. Works identically on a batch frame; StreamingSpec
    * pins stream output == the batch run of this same function. */
  def hourlyUserFrequencies(events: DataFrame, probeUsers: Seq[Long],
                            lateness: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
    require(probeUsers.nonEmpty && probeUsers.size <= 1024,
      "probe set must be bounded (driver-held literals)")
    val cms = toC(graft.plans.CmsAgg(toE(col("h"))).toAggregateExpression())
    // driver-side 60-bit md5 of each probe id — the same arithmetic as
    // the stream-side `h` column below, so probes index the counters
    // the stream updated
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val probes = array(probeUsers.map(u =>
      struct(lit(u).as("user_id"), lit(h60(u.toString)).as("ph"))): _*)
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .withWatermark("ts_t", lateness)
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), cms.as("_c"))
      .select(col("window.start").as("hour"), col("n_events"),
        explode(probes).as("p"), col("_c"))
      .select(col("hour"), col("n_events"), col("p.user_id").as("user_id"),
        least((0 until graft.plans.CmsAgg.d).map { j =>
          col("_c")(lit(j * graft.plans.CmsAgg.w) +
            shiftright(col("p.ph"), 8 * j).bitwiseAND(lit(255L)).cast("int"))
        }: _*).as("est_events"))
  }

  /** Windowed value-distribution quantiles via the engine's
    * log-histogram aggregate ([[graft.plans.HistAgg]], q120's
    * oracle-checked sketch) — the DISTRIBUTION member of the windowed
    * sketch family beside [[hourlyDistinctUsers]] (HLL) and
    * [[hourlyUserFrequencies]] (CMS): an exact windowed percentile
    * holds every value in state (or sorts per window); the 256-bucket
    * histogram keys state by WINDOW ONLY — 2 KiB/window at any event
    * volume, merged by elementwise add across micro-batches. Reports
    * nearest-rank p50/p90/p99 bucket lower bounds (q120's exact
    * extraction rule, ≤12.5% relative value error) over
    * `floor(value)`; negative values are skipped by the aggregate.
    *
    * Streaming frames can't run window functions, so the cumulative
    * scan q120 does with a Window here rides `aggregate()` — a bounded
    * O(256) fold per emitted row, stateless above the windowed
    * aggregation. Works identically on a batch frame; StreamingSpec
    * pins stream output == the batch run of this same function. */
  def hourlyValueQuantiles(events: DataFrame,
                           lateness: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
    val hist = toC(graft.plans.HistAgg(toE(col("v"))).toAggregateExpression())
    // nearest-rank bucket: smallest index whose cumulative count
    // reaches p% of the in-sketch total; -1 when the sketch is EMPTY
    // (all values null/negative — the `_total > 0` guard matters:
    // without it `0 >= 0` holds at the first bucket and an empty hour
    // would report quantile 0 instead of null). One shared fold
    // definition — see HistAgg.quantileBucketSql.
    def bExpr(p: Int) =
      expr(graft.plans.HistAgg.quantileBucketSql("_h", "_total", p))
    // bucket lower bound — HistAgg.loOf's one shared SQL transcription
    // (NULL for the -1 empty-sketch sentinel)
    def lo(name: String) = expr(graft.plans.HistAgg.loSparkSql(name))
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withColumn("v", floor(col("value")).cast("long"))
      .withWatermark("ts_t", lateness)
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(count(lit(1)).as("n_events"), hist.as("_h"))
      .withColumn("_total",
        expr("aggregate(_h, CAST(0 AS BIGINT), (a, x) -> a + x)"))
      .withColumn("_b50", bExpr(50))
      .withColumn("_b90", bExpr(90))
      .withColumn("_b99", bExpr(99))
      .select(col("window.start").as("hour"), col("n_events"),
        col("_total").as("n_values"),
        lo("_b50").as("p50_lo"), lo("_b90").as("p90_lo"),
        lo("_b99").as("p99_lo"))
  }

  /** Live volume monitoring — the streaming twin of q145: windowed
    * per-type event counts flagged against BATCH-computed robust
    * thresholds (the (type, median, MAD) triples a nightly q145 run
    * produces). The anomaly rule is q145's verbatim —
    * |c − med| > 3·max(MAD, 1) — so a flag on the live feed means
    * exactly what the audited batch query means by it. An event type
    * ABSENT from the threshold set flags unconditionally: a brand-new
    * type in production traffic IS the anomaly.
    *
    * Thresholds are driver-held literals (bounded by contract, like
    * the q110/CMS probe sets), folded per row with an array filter —
    * no join, no extra state; streaming state is exactly the windowed
    * count rows. Works identically on a batch frame; StreamingSpec
    * pins stream output == the batch run of this same function. */
  def hourlyAnomalies(events: DataFrame,
                      thresholds: Seq[(String, Long, Long)],
                      lateness: String = "2 hours"): DataFrame =
    flagAgainst(windowedTypeCounts(events, lateness), thresholds)

  /** The hourly (window, event_type, n) count rollup both anomaly
    * monitors score — one definition so the fixed-threshold and
    * refreshing variants cannot drift. */
  private def windowedTypeCounts(events: DataFrame,
                                 lateness: String): DataFrame =
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", lateness)
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** q145's flag rule over a windowed count frame: ONE definition for
    * [[hourlyAnomalies]] and each refreshed micro-batch of
    * [[hourlyAnomaliesRefreshing]]. */
  private def flagAgainst(counts: DataFrame,
                          thresholds: Seq[(String, Long, Long)]): DataFrame = {
    require(thresholds.nonEmpty && thresholds.size <= 1024,
      "threshold set must be bounded (driver-held literals)")
    val thLit = array(thresholds.map { case (t, med, mad) =>
      struct(lit(t).as("t"), lit(med).as("med"), lit(mad).as("mad"))
    }: _*)
    counts
      .withColumn("_th",
        element_at(filter(thLit, e => e.getField("t") === col("event_type")), 1))
      .select(col("window.start").as("hour"), col("event_type"), col("n"),
        col("_th.med").as("med"), col("_th.mad").as("mad"),
        when(col("_th").isNull, lit(1))
          .otherwise((abs(col("n") - col("_th.med")) >
            lit(3L) * greatest(col("_th.mad"), lit(1L))).cast("int"))
          .as("anomalous"))
  }

  /** Derive and publish the anomaly thresholds from an event history
    * frame (`event_type`, `ts_us`) — the "nightly q145 run" half of the
    * refresh loop, sharing q145's threshold math verbatim
    * ([[graft.analytics.EventQueries.robustThresholds]]). Each publish
    * lands as a new `v<N>` subdir of `dir` via unique-tmp + atomic
    * rename (the [[graft.text.Artifacts]] discipline), so a reader
    * never sees a half-written set; versions only grow, and readers
    * take the highest. */
  def writeAnomalyThresholds(events: DataFrame, dir: String): Unit = {
    val counts = events
      .select(col("event_type"), expr("ts_us div 3600000000").as("hr"))
      .groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("c"))
    val th = graft.analytics.EventQueries.robustThresholds(counts)
    graft.etl.Commit.publish(th, dir)
  }

  /** Read the highest-version published threshold set. */
  def loadAnomalyThresholds(spark: org.apache.spark.sql.SparkSession,
                            dir: String): Seq[(String, Long, Long)] = {
    val rows = graft.etl.Commit.loadLatest(spark, dir)
      .select(col("event_type"), col("med"), col("mad")).collect()
    require(rows.length <= 1024, "threshold set must stay bounded")
    rows.toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
  }

  /** [[hourlyAnomalies]] for LONG-RUNNING streams: the batch-derived
    * thresholds drift stale as traffic drifts, so instead of driver
    * literals fixed at stream start, each micro-batch of closed
    * windows is flagged in `foreachBatch` against the latest
    * [[writeAnomalyThresholds]] publication, re-read every
    * `refreshEvery` triggers (and on the first). The flag rule and
    * the threshold math are the SAME oracle-checked q145 definitions
    * as everywhere else — a refresh changes WHICH thresholds bind,
    * never what a flag means. Flags land under `outDir` as parquet,
    * one `batch=<id>` subdirectory per micro-batch (readers scan the
    * root; the id surfaces as a trailing partition column).
    *
    * Idempotence (the r10 advisor catch): `foreachBatch` is
    * AT-LEAST-ONCE — after a failure/restart the replayed micro-batch
    * runs again with the SAME batchId, so a plain parquet append
    * would duplicate its flag rows. Writing mode("overwrite") into
    * the per-batchId directory makes the replay rewrite its own
    * output instead (the pattern Spark's foreachBatch docs
    * recommend); [[writeFlagsBatch]] is the factored sink so the
    * replay property is unit-testable.
    *
    * State/scale: streaming state is exactly the windowed count rows
    * (as [[hourlyAnomalies]]); the threshold read is a tiny bounded
    * parquet scan every Nth trigger, not per row. */
  def hourlyAnomaliesRefreshing(events: DataFrame, thresholdDir: String,
                                outDir: String, checkpointDir: String,
                                refreshEvery: Int = 12,
                                lateness: String = "2 hours",
                                autoCompactEvery: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(refreshEvery >= 1, "refreshEvery must be >= 1")
    var th: Seq[(String, Long, Long)] = Seq.empty
    windowedTypeCounts(events, lateness).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (df: DataFrame, id: Long) =>
        if (th.isEmpty || id % refreshEvery == 0)
          th = loadAnomalyThresholds(df.sparkSession, thresholdDir)
        writeFlagsBatch(flagAgainst(df, th), outDir, id)
        // every Nth trigger compacts the sink it just appended to —
        // bounded growth by construction (≤ N live dirs + one
        // compacted store; r18 directive). <= 0 disables.
        BatchDirSink.maybeCompact(df.sparkSession, outDir, id,
          autoCompactEvery)
        ()
      }
      .start()
  }

  /** The idempotent per-micro-batch flag sink: a replay of batchId
    * `id` (foreachBatch's at-least-once contract) overwrites its own
    * `batch=<id>` directory instead of appending duplicates. */
  private[graft] def writeFlagsBatch(flags: DataFrame, outDir: String,
                                     id: Long): Unit =
    flags.write.mode("overwrite").parquet(s"$outDir/batch=$id")

  /** All flags written so far — WITH the `batch` provenance column:
    * [[BatchDirSink.serve]] over the flags sink (compacted store ∪
    * above-watermark batch dirs; a stale replay of an already-compacted
    * id is excluded rather than double-served). Fails with a
    * descriptive error when no micro-batch has completed yet. */
  def serveFlags(spark: org.apache.spark.sql.SparkSession,
                 outDir: String): DataFrame =
    BatchDirSink.serve(spark, outDir, "flag")

  /** Merge every flags `batch=<id>` directory EXCEPT the newest (the
    * only id foreachBatch can replay) into the watermarked
    * `_compacted` store and delete the merged directories — without
    * this the sink of [[hourlyAnomaliesRefreshing]] grows one
    * directory per trigger FOREVER (~500k/year at a 1-minute trigger):
    * the credit-sink recipe ([[AttributionStream.compactCredits]]),
    * applied to the flags side. Call on lineage-hygiene cadence (e.g.
    * every Nth trigger or nightly — [[hourlyAnomaliesRefreshing]]'s
    * `autoCompactEvery` wires exactly that), concurrent-safe with the
    * running stream because the newest (replayable) batch dir is never
    * touched, AND with concurrent [[serveFlags]] readers:
    * [[BatchDirSink.serve]] re-checks the watermark after listing and
    * retries if a compaction moved it (r18 ADVICE — the stale
    * (watermark, dirs) pair that could silently miss merged rows).
    * Returns the new watermark. */
  def compactFlags(spark: org.apache.spark.sql.SparkSession,
                   outDir: String): Long =
    BatchDirSink.compact(spark, outDir)

  /** Privacy-preserving live metrics feed — the streaming twin of the
    * q157 DP release: windowed per-type counts published with
    * discrete-Laplace noise ([[graft.analytics.DpNoise]], ε = ln 2),
    * each (window, type) cell its own release key, the whole PRF
    * keyed by caller-supplied SECRET material (required: noise an
    * audience can recompute from public inputs is subtractable, not
    * noise — production passes [[graft.analytics.DpNoise.secretFromConf]];
    * specs pass the published `OracleSecret` to verify the
    * arithmetic). The seed is (secret, cell identity), so a
    * recomputed or replayed window publishes the SAME released value
    * (the consistent-noise property — a restart must not hand a
    * reader fresh samples to average); the exact count never leaves
    * the pipeline. Stateless beyond the windowed counts; works
    * identically on a batch frame (stream==batch pinned in
    * StreamingSpec). */
  def hourlyDpCounts(events: DataFrame, secret: String,
                     lateness: String = "2 hours"): DataFrame =
    windowedTypeCounts(events, lateness)
      .select(col("window.start").as("hour"), col("event_type"),
        (col("n") + graft.analytics.DpNoise.noiseFor(
          concat(col("window.start").cast("long"), lit("|"),
            col("event_type")), secret)).as("released"))

  /** Stream-static dimension enrichment: join each micro-batch against
    * a (small) static dimension frame with a broadcast hash join — the
    * streaming twin of the batch pipelines' dim preload (SURVEY §2 A6/
    * C1). No watermark is needed because the static side holds no
    * streaming state. Unmatched events pass through with null dim
    * columns (left join — the miss-split pattern downstream operators
    * filter on).
    *
    * Dim freshness: for a plain parquet static side the FILE LISTING is
    * pinned when the streaming query starts — an in-place dim overwrite
    * mid-query breaks the scan (stale file paths). A dim that must
    * update during the query's lifetime belongs in `foreachBatch` with
    * a per-batch read (the [[StreamingEtl]] route) or in a table format
    * with snapshot isolation. */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    // dataset-qualified keys: bare col() would be AMBIGUOUS_REFERENCE
    // the moment both sides name their key the same way (the standard
    // dim-table shape)
    events.join(broadcast(dim), events(eventKey) === dim(dimKey), "left")

  /** Stream-stream inner join: attribute each purchase to the clicks of
    * the same user in the preceding `windowMinutes`. Both sides carry
    * watermarks and the join condition bounds event-time distance, so
    * Spark can evict join state for rows no click/purchase can still
    * match — the state stays proportional to the window, not the
    * stream. Inputs: streaming frames with (user_id, ts_us, event_id,
    * value) shape. */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
                       windowMinutes: Int = 30,
                       lateness: String = "1 hour"): DataFrame =
    attributionJoin(clicks, purchases, windowMinutes, lateness, "inner")

  /** LEFT OUTER variant: purchases emit immediately when a click
    * matches; a purchase with NO in-window click is emitted with null
    * click columns once the watermark passes the point where a
    * matching click could still arrive — the "unattributed conversions"
    * stream. Same bounded state as the inner join. (Outer side =
    * purchases: the left frame below.) */
  def clickAttributionOuter(clicks: DataFrame, purchases: DataFrame,
                            windowMinutes: Int = 30,
                            lateness: String = "1 hour"): DataFrame =
    attributionJoin(clicks, purchases, windowMinutes, lateness, "left_outer")

  private def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                              windowMinutes: Int, lateness: String,
                              joinType: String): DataFrame = {
    val c = clicks
      .withColumn("c_ts", timestamp_micros(col("ts_us")))
      .withWatermark("c_ts", lateness)
      .select(col("user_id").as("c_user"), col("c_ts"),
        col("event_id").as("click_id"))
    val p = purchases
      .withColumn("p_ts", timestamp_micros(col("ts_us")))
      .withWatermark("p_ts", lateness)
      .select(col("user_id").as("p_user"), col("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    val joined =
      if (joinType == "inner")
        c.join(p,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"))
      else
        // outer side must be the LEFT input of the left_outer join
        p.join(c,
          col("c_user") === col("p_user") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr(s"INTERVAL $windowMinutes MINUTES"),
          joinType)
    joined.select(
      coalesce(col("p_user"), col("c_user")).as("user_id"),
      col("click_id"), col("purchase_id"), col("value"))
  }

  /** Streaming exact dedup — the unbounded twin of the batch
    * fingerprint dedup (q23): keeps the first row per `keys` while
    * holding dedup state only within the watermark horizon, so
    * duplicates arriving within `lateness` of each other collapse and
    * state is evicted afterwards (at-least-once sources like the
    * file-ingest replay path become effectively-once downstream). */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
                           lateness: String = "1 hour"): DataFrame =
    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", lateness)
      .dropDuplicatesWithinWatermark(keys)

  /** A user's running lifetime profile — the feature-store row
    * [[userProfiles]] maintains. */
  case class UserProfile(user_id: Long, first_us: Long, last_us: Long,
                         n_events: Long, sum_value: Double)

  /** Running per-user lifetime profiles via `mapGroupsWithState` in
    * UPDATE mode — the streaming feature-store upsert feed (the
    * batch counterparts are q133's decayed counters and q138's
    * first-seen cohorts): every micro-batch re-emits the CURRENT
    * profile of each user it touched, ready to upsert into a serving
    * store keyed by user_id.
    *
    * Scale: state is ONE bounded record (4 numbers) per user ever
    * seen, partitioned by the group key; each trigger shuffles only
    * the batch's events. Unlike the sessionizer there is no event-time
    * eviction — a lifetime profile is deliberately forever-state, the
    * store's size IS the user dimension (on a cluster: RocksDB state
    * store, same layout). */
  def userProfiles(events: Dataset[Ev]): Dataset[UserProfile] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserProfile, UserProfile](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[UserProfile]) =>
          var first = Long.MaxValue
          var last = Long.MinValue
          var n = 0L
          var total = 0.0
          state.getOption.foreach { p =>
            first = p.first_us; last = p.last_us; n = p.n_events
            total = p.sum_value
          }
          // fold in timestamp order: deterministic per batch split
          // (double addition still isn't associative ACROSS splits —
          // the stream==batch spec compares sums under a 1e-9 band,
          // counts and timestamps exactly)
          rows.toSeq.sortBy(e => (e.ts_us, e.value)).foreach { e =>
            first = math.min(first, e.ts_us)
            last = math.max(last, e.ts_us)
            n += 1
            total += e.value
          }
          val p = UserProfile(uid, first, last, n, total)
          state.update(p)
          p
      }
  }

  /** Custom stateful sessionization via `flatMapGroupsWithState`: one
    * [[OpenSession]] per user in the state store, closed + emitted when
    * the gap is exceeded inside a batch or when the event-time timeout
    * fires (watermark passed last_event + gap). This is the operator to
    * reach for when session semantics outgrow `session_window` (e.g.
    * emitting per-event session ids, caps on session length, custom
    * merge logic).
    *
    * Scale: state is one small record per active user, partitioned by
    * the group key — the shuffle is on user_id only, and the state
    * store evicts via the timeout.
    */
  def sessionizeStateful(events: Dataset[Ev],
                         gapUs: Long = 30L * 60 * 1000000): Dataset[Session] = {
    import events.sparkSession.implicits._

    def close(uid: Long, s: OpenSession): Session =
      Session(uid, s.start, s.last + gapUs, s.n, s.total)

    events
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "2 hours")
      .as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, rows, state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(uid, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts_us, e.value))
            var open = state.getOption
            // late-but-within-watermark events from a later batch that
            // fall a full gap (or more) BEFORE the open session
            // accumulate into their own chain of earlier sessions
            // (consecutive late events within a gap of each other must
            // merge, like the batch session_window twin merges them)
            var pending: Option[OpenSession] = None
            val closed = Seq.newBuilder[Session]

            // fold the pending chain into `s` if it reaches within a
            // gap of s.start, else close the chain — MUST run before s
            // is closed or extended past reach of the chain
            def reconciled(s: OpenSession): OpenSession = pending match {
              case Some(p) if s.start - p.last < gapUs =>
                pending = None
                OpenSession(p.start, math.max(p.last, s.last),
                  p.n + s.n, p.total + s.total)
              case Some(p) =>
                closed += close(uid, p)
                pending = None
                s
              case None => s
            }

            sorted.foreach { e =>
              open match {
                // >= one full gap before the open start: session_window
                // semantics treat exactly-gap as separate (merge iff
                // distance < gap), so <= here
                case Some(s) if e.ts_us <= s.start - gapUs =>
                  pending match {
                    case Some(p) if e.ts_us - p.last < gapUs =>
                      pending = Some(OpenSession(math.min(p.start, e.ts_us),
                        math.max(p.last, e.ts_us), p.n + 1, p.total + e.value))
                    case Some(p) =>
                      closed += close(uid, p)
                      pending = Some(OpenSession(e.ts_us, e.ts_us, 1, e.value))
                    case None =>
                      pending = Some(OpenSession(e.ts_us, e.ts_us, 1, e.value))
                  }
                case Some(s) if e.ts_us - s.last < gapUs =>
                  // merge; never regress `last` (a regressed last fakes
                  // a gap for the next event), extend `start` backward
                  open = Some(OpenSession(math.min(s.start, e.ts_us),
                    math.max(s.last, e.ts_us), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed += close(uid, reconciled(s))
                  open = Some(OpenSession(e.ts_us, e.ts_us, 1, e.value))
                case None =>
                  open = Some(OpenSession(e.ts_us, e.ts_us, 1, e.value))
              }
            }
            open = open.map(reconciled)
            pending.foreach { p => closed += close(uid, p) }
            open.foreach { s =>
              state.update(s)
              // fire once the watermark passes the session's gap horizon
              state.setTimeoutTimestamp((s.last + gapUs) / 1000)
            }
            closed.result().iterator
          }
      }
  }
}
