package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The privacy-budget ledger over the repo's DP release family — the
  * accounting layer the mechanism ([[DpNoise]]) deliberately does not
  * do itself.
  *
  * '''Composition rule.''' Each release spends its own ε on the
  * `events` table. WITHIN one release, cells that partition the rows
  * (q159's (type, dow) histogram, the streaming feed's (hour, type)
  * windows) compose in PARALLEL — the whole release costs one ε, not
  * |cells|·ε — but ONLY when the cells actually partition the privacy
  * unit: q163's user-level release breaks that premise (a user spans
  * cells), so its own price is |cells|·ε before it even composes with
  * the others. ACROSS releases the same rows are queried again, so
  * SEQUENTIAL composition applies: the table's total spend is the SUM
  * of the releases' ε — which is what the ledger exists to make
  * visible; "we ran a few cheap releases" IS one expensive release,
  * and nothing before this ledger accounted for it.
  *
  * Integer discipline: ε is carried in micro-nats (ln 2 → 693147 =
  * [[EpsLn2E6]]) so the ledger — including its cumulative column — is
  * hash-checkable cross-engine (q161).
  *
  * Persistence: [[record]]/[[load]] use the versioned-parquet
  * publication idiom ([[graft.etl.Commit]] — the anomaly
  * thresholds' discipline): each recorded ledger is a new immutable
  * `v<N>`, so an auditor can replay spend history and a reader never
  * sees a half-written ledger. */
object DpLedger {

  /** ε = ln 2 in integer micro-nats — the budget every shipped
    * release spends ([[DpNoise]]'s mechanism is fixed at ε = ln 2). */
  val EpsLn2E6 = 693147L

  /** One ledger row: a named release, its mechanism, its ε spend, and
    * how many cells it released on the dataset at hand. */
  case class Release(release: String, mechanism: String,
                     eps_e6: Long, n_cells: Long)

  /** The shipped release family over an events frame (`event_type`,
    * `ts_us`), with per-release cell counts measured from THIS
    * dataset — one narrow scan, four bounded distinct-counts:
    *   - `q157_counts_by_type`: per-type event counts (|types| cells;
    *     row-level unit, cells partition events → one ε);
    *   - `q159_hist_type_dow`: the (type, day-of-week) histogram
    *     (parallel composition across its cells → one ε);
    *   - `q163_dp_user_counts`: per-type DISTINCT-USER counts — the
    *     USER-level release. Cells do NOT partition users (one user
    *     can appear in every cell), so parallel composition does not
    *     apply and the release costs |cells|·ε — the ledger row's
    *     eps_e6 is n_cells × [[EpsLn2E6]], the honest price of the
    *     stronger privacy unit;
    *   - `q164_dp_bounded_sum`: per-type contribution-bounded value
    *     sums — user-level like q163 (same |cells|·ε pricing; the
    *     clamp bounds sensitivity, not the cell structure). Mechanism
    *     recorded as `discrete_laplace_smoothed`: the C-scaled
    *     discrete-Laplace draw PLUS the uniform lattice-smoothing term
    *     ([[DpNoise.uniformFor]]) — without the smoothing the ε this
    *     row prices was not actually provided (the r11 mod-C leak);
    *   - `q169_dp_topk_select`: the exponential-mechanism private
    *     top-3 selection. k adaptive peeling rounds at ε = ln 2 each
    *     (the q169 proof) compose SEQUENTIALLY — the release costs
    *     k·ε and its cell count is k, the released ranks, both
    *     data-independent constants;
    *   - `q173_dp_quantile`: the exponential-mechanism private
    *     quantile intervals (p25/p50/p90 over the clamped value
    *     domain). Each draw costs 4·ln 2 (rank AND target each move
    *     ≤ 1 under a neighbor, so a bucket's |rank − target| moves
    *     ≤ 2 and its base-2 weight ≤ 4× — the q173 proof, with a
    *     ≤ 2⁻³¹ clip slack documented there); the three draws compose
    *     sequentially → 12·ln 2, cells = 3 released intervals, both
    *     data-independent;
    *   - `q185_svt_first_anomaly`: the sparse-vector AboveThreshold
    *     release — released total (ln 2) + threshold draw (ln 2) +
    *     the halting query's draw (2·ln 2) = 4·ln 2 TOTAL however
    *     many below-threshold cells the scan examined (the SVT
    *     theorem; the q185 scaladoc carries the discrete proof). One
    *     released cell identity, both constants data-independent;
    *   - `stream_hourly_counts`: [[graft.streaming.EventStreams
    *     .hourlyDpCounts]]'s (hour, type) windows, counted on the
    *     batch twin's cell space (row-level → one ε). */
  def shippedReleases(events: DataFrame): Seq[Release] = {
    val r = events
      .select(col("event_type"),
        expr("(ts_us div 86400000000 + 4) % 7").as("dow"),
        expr("ts_us div 3600000000").as("hr"))
      .agg(countDistinct(col("event_type")).as("c1"),
        countDistinct(col("event_type"), col("dow")).as("c2"),
        countDistinct(col("hr"), col("event_type")).as("c3"))
      .head() // bounded: one 3-column row
    Seq(
      Release("q157_counts_by_type", "discrete_laplace", EpsLn2E6,
        r.getLong(0)),
      Release("q159_hist_type_dow", "discrete_laplace", EpsLn2E6,
        r.getLong(1)),
      Release("q163_dp_user_counts", "discrete_laplace",
        r.getLong(0) * EpsLn2E6, r.getLong(0)),
      Release("q164_dp_bounded_sum", "discrete_laplace_smoothed",
        r.getLong(0) * EpsLn2E6, r.getLong(0)),
      Release("q169_dp_topk_select", "exponential", 3 * EpsLn2E6, 3),
      Release("q173_dp_quantile", "exponential", 12 * EpsLn2E6, 3),
      Release("q185_svt_first_anomaly", "svt_above_threshold",
        4 * EpsLn2E6, 1),
      Release("stream_hourly_counts", "discrete_laplace", EpsLn2E6,
        r.getLong(2)))
  }

  /** The ledger frame: one row per release (alphabetical — the q161
    * oracle's order), with the sequential-composition running total
    * `cum_eps_e6`. */
  def ledger(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val rel = shippedReleases(events).sortBy(_.release)
    val cum = rel.scanLeft(0L)(_ + _.eps_e6).tail
    rel.zip(cum)
      .map { case (e, c) => (e.release, e.mechanism, e.eps_e6,
        e.n_cells, c) }
      .toDF("release", "mechanism", "eps_e6", "n_cells", "cum_eps_e6")
  }

  /** Total sequential-composition spend of a ledger. */
  def totalEpsE6(releases: Seq[Release]): Long = releases.map(_.eps_e6).sum

  /** Publish a ledger as the next immutable version under `dir`. */
  def record(ledger: DataFrame, dir: String): Long =
    graft.etl.Commit.publish(ledger, dir)

  /** Read the highest-version recorded ledger. */
  def load(spark: SparkSession, dir: String): DataFrame =
    graft.etl.Commit.loadLatest(spark, dir)
}
