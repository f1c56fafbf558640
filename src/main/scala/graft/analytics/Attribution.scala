package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.AsOfJoin

/** Multi-touch attribution — credit each conversion's preceding touch
  * events within a lookback window under the three standard models
  * (first-touch, last-touch, linear), the marketing-warehouse twin of
  * the reference's event ingestion (its `events` stream records the
  * touches; the reference never aggregates them — extension surface
  * like q136/q138, and the q149 conversion-latency machinery's
  * natural completion).
  *
  * The naive lowering is a per-user RANGE join (touch.ts ∈
  * (conv.ts − L, conv.ts]) whose pair expansion is touches-in-window ×
  * conversions — quadratic on hot users and unbounded at 100 TB. This
  * computes the same credits with NO range join, riding the
  * [[AsOfJoin]] union trick twice over per-channel RUNNING COUNTS:
  *
  *   1. touches annotate per user (one hash exchange): `idx` =
  *      row_number, `cum_<ch>` = running touch count per channel —
  *      a prefix-sum timeline of the user's touch history;
  *   2. every conversion as-of probes the timeline at `ts` (counts
  *      and last channel AT conversion) and at `ts − L` (counts AT
  *      the window start) — window counts are the DIFFERENCE of two
  *      prefix reads, the Fenwick idiom, each probe one backward
  *      as-of (union + window, no join, inclusive at the probe);
  *   3. the first touch INSIDE the window is the raw touch with
  *      `idx = n0 + 1` — one equi-join on (user, idx), never a scan
  *      back through the window.
  *
  * Credits per attributed conversion (n1 > n0): first-touch → that
  * idx-(n0+1) touch's channel; last-touch → the as-of-at-`ts` channel
  * (inside the window whenever any touch is); linear → each channel
  * `(c1 − c0) · 10^6 div (n1 − n0)` — INTEGER millionths (the e6
  * discipline: bigint sums hash identically across engines; the ≤
  * (n−1)/10^6 truncation shortfall per conversion is the documented
  * price). Touches at exactly `ts − L` fall outside, at exactly `ts`
  * inside — half-open (ts − L, ts], the q186 interval convention.
  *
  * Scale shape: three user-hash exchanges (annotate, two as-of
  * unions) + one conversions-scale equi-join — everything linear in
  * events, per-user state never materializes a window's touch set.
  * Ties: touch order is (ts, tie); multiple touches on one timestamp
  * collapse to their last row for the as-of timeline (prefix counts
  * are taken AFTER the whole tie group — deterministic), while
  * first-touch reads the RAW sequence, so an intra-group first is
  * still found by its own idx.
  */
object Attribution {

  /** Per-conversion credit columns. `touches`: (`user`, `ts`,
    * `channel`, `tie`) — `tie` breaks equal-timestamp touch order
    * (a unique event id). `conversions`: (`user`, `ts`) + any
    * passthrough columns, preserved on the output. Adds: `n_touches`
    * (in-window count; 0 ⇒ unattributed, credit columns null),
    * `first_ch`, `last_ch`, and `lin_<ch>_e6` per channel. `lookback`
    * must subtract from `ts`'s type — an interval for timestamps, a
    * µs literal for the `ts_us` long clock. */
  def perConversion(touches: DataFrame, conversions: DataFrame,
                    channels: Seq[String], lookback: Column,
                    keepCounts: Boolean = false): DataFrame = {
    // SCOPED-cache the annotated timeline: creditsFromAnnotated reads
    // it from two branches (the tie-group rollup and the first-touch
    // probe), which re-ran the scan + user exchange + window chain
    // twice per report (r20). The fold path pins its timeline the same
    // way (foldScoped); this is the direct-replay twin of that pin —
    // released right after the report's action.
    val credited = graft.ScopedCache.withScopedCache(
        annotate(touches, channels))(a =>
      creditsFromAnnotated(a, conversions, channels, lookback))
    if (keepCounts) credited
    else credited.drop(channels.map(ch => s"k_$ch"): _*)
  }

  /** Step 1 alone: the per-user prefix-sum timeline — `idx` =
    * row_number, `cum_<ch>` = running per-channel touch count (one hash
    * exchange on `user`). [[Attribution.fold]] persists exactly these
    * rows as its state, continuing the counters batch over batch. */
  def annotate(touches: DataFrame, channels: Seq[String]): DataFrame = {
    require(channels.nonEmpty, "attribution needs at least one channel")
    val w = Window.partitionBy(col("user")).orderBy(col("ts"), col("tie"))
    touches
      .withColumn("idx", row_number().over(w))
      .withColumns(channels.map(ch => s"cum_$ch" ->
        sum(when(col("channel") === ch, 1L).otherwise(0L)).over(w)).toMap)
  }

  /** Steps 2–3 over a PRE-ANNOTATED timeline (from [[annotate]] or the
    * fold state): as-of prefix reads at `ts` and `ts − lookback`, the
    * (user, idx) first-touch equi-join, credit derivation. Emits the
    * per-channel in-window counts `k_<ch>` alongside the model columns
    * — the position/time-decay models reweight the same reads. */
  private[analytics] def creditsFromAnnotated(
      annotated: DataFrame, conversions: DataFrame,
      channels: Seq[String], lookback: Column): DataFrame = {
    require(channels.nonEmpty, "attribution needs at least one channel")
    // unique (user, ts) rows for the as-of timeline: the LAST row of
    // each tie group carries the whole group's prefix counts
    val groupAggs = Seq(max(col("idx")).as("idx"),
      max_by(col("channel"), col("idx")).as("channel")) ++
      channels.map(ch => max(col(s"cum_$ch")).as(s"cum_$ch"))
    val grouped = annotated
      .groupBy(col("user"), col("ts"))
      .agg(groupAggs.head, groupAggs.tail: _*)
    val convSide = Seq(col("user"), col("ts"), col("idx").as("n1"),
      col("channel").as("last_ch")) ++
      channels.map(ch => col(s"cum_$ch").as(s"c1_$ch"))
    val atConv = AsOfJoin.backward(
      conversions, "user", "ts", grouped.select(convSide: _*),
      "user", "ts", Seq("n1", "last_ch") ++ channels.map(ch => s"c1_$ch"))
    val startSide = Seq(col("user"), col("ts"), col("idx").as("n0")) ++
      channels.map(ch => col(s"cum_$ch").as(s"c0_$ch"))
    val atStart = AsOfJoin.backward(
      atConv.withColumn("ts0", col("ts") - lookback),
      "user", "ts0", grouped.select(startSide: _*),
      "user", "ts", Seq("n0") ++ channels.map(ch => s"c0_$ch"))
    val counted = atStart
      .withColumn("_n1", coalesce(col("n1"), lit(0L)))
      .withColumn("_n0", coalesce(col("n0"), lit(0L)))
      .withColumn("n_touches", col("_n1") - col("_n0"))
    val firsts = annotated.select(col("user").as("_fu"),
      col("idx").as("_fidx"), col("channel").as("_fch"))
    counted
      .join(firsts, col("user") === col("_fu") &&
        col("_fidx") === col("_n0") + 1 && col("n_touches") > 0, "left")
      .withColumn("first_ch", col("_fch"))
      .withColumn("last_ch",
        when(col("n_touches") > 0, col("last_ch")))
      .withColumns(channels.map(ch => s"k_$ch" ->
        when(col("n_touches") > 0,
          coalesce(col(s"c1_$ch"), lit(0L)) -
            coalesce(col(s"c0_$ch"), lit(0L)))).toMap)
      .withColumns(channels.map(ch => s"lin_${ch}_e6" ->
        when(col("n_touches") > 0,
          expr(s"(coalesce(c1_$ch, 0L) - coalesce(c0_$ch, 0L)) " +
            s"* 1000000L div (_n1 - _n0)"))).toMap)
      .drop((Seq("ts0", "n1", "n0", "_n1", "_n0", "_fu", "_fidx", "_fch") ++
        channels.flatMap(ch => Seq(s"c1_$ch", s"c0_$ch"))): _*)
  }

  /** POSITION-BASED (U-shaped) credit rollup — the fourth model, read
    * from the SAME prefix-sum machinery (`perConversion(keepCounts =
    * true)` output): 40% to the first touch, 40% to the last, 20%
    * split evenly over the middles. Integer e6 discipline throughout:
    * n = 1 → 10^6 to the only channel; n = 2 → 500 000 each to
    * first/last; n ≥ 3 → 400 000 first + 400 000 last + each middle
    * `200000 div (n − 2)` (the ≤ (n−3)/10^6 truncation shortfall per
    * conversion is the documented price, as with linear). A channel's
    * middle count is `k_ch − [first = ch] − [last = ch]` — no re-read
    * of the touch table. Output: (channel, position_e6). */
  def positionByChannel(perConvK: DataFrame,
                        channels: Seq[String]): DataFrame = {
    val aggs = channels.map { ch =>
      expr(s"""CAST(sum(CASE
        WHEN n_touches = 1 THEN coalesce(k_$ch, 0) * 1000000
        WHEN n_touches = 2 THEN
          ((CASE WHEN first_ch = '$ch' THEN 1 ELSE 0 END) +
           (CASE WHEN last_ch = '$ch' THEN 1 ELSE 0 END)) * 500000
        WHEN n_touches >= 3 THEN
          ((CASE WHEN first_ch = '$ch' THEN 1 ELSE 0 END) +
           (CASE WHEN last_ch = '$ch' THEN 1 ELSE 0 END)) * 400000 +
          (coalesce(k_$ch, 0)
             - (CASE WHEN first_ch = '$ch' THEN 1 ELSE 0 END)
             - (CASE WHEN last_ch = '$ch' THEN 1 ELSE 0 END))
            * (200000 div (n_touches - 2))
        ELSE 0 END) AS BIGINT)""").as(s"pos_$ch")
    }
    val one = perConvK.agg(aggs.head, aggs.tail: _*)
    val stack = channels.map(ch => s"'$ch', pos_$ch").mkString(", ")
    one.selectExpr(s"stack(${channels.size}, $stack) AS " +
      "(channel, position_e6)")
  }

  /** The per-channel rollup: one row per channel with first/last
    * conversion counts and summed linear credit (e6). ONE aggregation
    * pass over [[perConversion]] + a bounded `stack` unpivot. */
  def byChannel(perConv: DataFrame, channels: Seq[String]): DataFrame = {
    val aggs = channels.flatMap { ch =>
      Seq(sum(when(col("first_ch") === ch, 1L).otherwise(0L)).as(s"f_$ch"),
        sum(when(col("last_ch") === ch, 1L).otherwise(0L)).as(s"l_$ch"),
        sum(coalesce(col(s"lin_${ch}_e6"), lit(0L))).as(s"lin_$ch"))
    }
    val one = perConv.agg(aggs.head, aggs.tail: _*)
    val stack = channels.map(ch =>
      s"'$ch', f_$ch, l_$ch, lin_$ch").mkString(", ")
    one.selectExpr(s"stack(${channels.size}, $stack) AS " +
      "(channel, first_touch, last_touch, linear_e6)")
  }

  /** MARKOV (removal-effect) attribution over TWO channels — the
    * data-driven model: user journeys as a first-order chain over
    * states {START, chA, chB} with absorbers {CONV, NULL}; a channel's
    * credit is its REMOVAL EFFECT — the share of baseline conversion
    * probability that disappears when every transition into it is
    * rerouted to NULL — normalized across channels and scaled by total
    * conversions.
    *
    * Chain build: one lag/lead window over each user's (touch ∪
    * conversion) timeline — journeys reset after a conversion (prev =
    * CONV ⇒ from = START), an end-of-user touch absorbs to NULL.
    * Everything downstream of that single user-hash exchange is a
    * bounded 12-cell conditional aggregate + closed-form cofactor
    * arithmetic on the 2-transient-state absorption system, fixed-
    * point e6 at every division (`div` == DuckDB `//` — the oracle
    * replays each step bit-for-bit). Two channels keep the closed form
    * honest; N channels need a matrix solve and is a different
    * operator.
    *
    * Output: (channel, removal_e6, credited_conv, p_conv_e6). */
  def markovByChannel(touches: DataFrame, conversions: DataFrame,
                      chA: String, chB: String): DataFrame = {
    val cells = chainCells(chainEvents(touches, conversions))
      .withColumn("n", lit(1L))
    val m = countCells2(cells, chA, chB)
    // every division guarded greatest(x, 1) — the markovNByChannel
    // discipline: a degenerate chain (a channel with no outgoing
    // transitions, zero conversions) yields 0 denominators, and the
    // guard turns silent null rows into well-defined zeros. The q199
    // oracle carries the IDENTICAL guards, so non-degenerate inputs
    // (every denominator ≥ 1) are bit-for-bit unchanged.
    markovFromCounts(m, chA, chB)
  }

  /** The 2-channel closed form over a 1-row transition-count frame —
    * shared by [[markovByChannel]] (counts from the full chain window)
    * and the q205 incremental fold (counts from the maintained cell
    * store), so the two cannot drift. */
  private[analytics] def markovFromCounts(m: DataFrame, chA: String,
                                          chB: String): DataFrame =
    m.selectExpr(
        "nsc + nsv + nsk AS rs",
        "ncc + ncv + nck + ncn AS rc",
        "nvc + nvv + nvk + nvn AS rv",
        "nsc", "nsv", "nsk", "ncc", "ncv", "nck",
        "nvc", "nvv", "nvk")
      .selectExpr(
        "(rc - ncc) * (rv - nvv) - ncv * nvc AS det",
        "nck * (rv - nvv) + ncv * nvk AS acn",
        "(rc - ncc) * nvk + nvc * nck AS avn",
        "*")
      .selectExpr(
        "(nsc * ((acn * 1000000) div greatest(det, 1)) " +
          "+ nsv * ((avn * 1000000) div greatest(det, 1)) " +
          "+ nsk * 1000000) div greatest(rs, 1) AS as_e6",
        "(nsv * ((nvk * 1000000) div greatest(rv - nvv, 1)) " +
          "+ nsk * 1000000) div greatest(rs, 1) AS asc_e6", // chA removed
        "(nsc * ((nck * 1000000) div greatest(rc - ncc, 1)) " +
          "+ nsk * 1000000) div greatest(rs, 1) AS asv_e6", // chB removed
        "nsk + nck + nvk AS total_conv")
      .selectExpr(
        "1000000 - (asc_e6 * 1000000) div greatest(as_e6, 1) AS re_c_e6",
        "1000000 - (asv_e6 * 1000000) div greatest(as_e6, 1) AS re_v_e6",
        "as_e6", "total_conv")
      .selectExpr(
        s"""stack(2,
             '$chA', re_c_e6,
               (total_conv * re_c_e6) div greatest(re_c_e6 + re_v_e6, 1),
             '$chB', re_v_e6,
               (total_conv * re_v_e6) div greatest(re_c_e6 + re_v_e6, 1))
           AS (channel, removal_e6, credited_conv)""",
        "as_e6 AS p_conv_e6")
      .orderBy("channel")

  /** The Markov chain's event timeline: touches as their channel,
    * conversions as the CONV absorber with a max tiebreaker (same-ts
    * conversions order after touches — the q199 convention both
    * engines share). */
  private[analytics] def chainEvents(touches: DataFrame,
                                     conversions: DataFrame): DataFrame =
    touches.select(col("user"), col("ts"), col("tie"),
        col("channel").as("st"))
      .unionByName(conversions
        .withColumn("tie", lit(Long.MaxValue))
        .select(col("user"), col("ts"), col("tie"),
          lit("CONV").as("st")))

  /** Transition rows over a chain timeline — one lag/lead window per
    * user (the only event-scale work in the Markov family): every
    * event contributes from_st → st (journeys reset after a CONV:
    * prev = CONV ⇒ from = S), a journey-final touch (end of user)
    * additionally absorbs to NULL. */
  private[analytics] def chainCells(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user")).orderBy(col("ts"), col("tie"))
    val tr = ev
      .withColumn("prev",
        coalesce(lag(col("st"), 1).over(w), lit("CONV")))
      .withColumn("nxt", lead(col("st"), 1).over(w))
      .withColumn("from_st",
        when(col("prev") === "CONV", lit("S")).otherwise(col("prev")))
    tr.select(col("from_st"), col("st").as("to_st"))
      .unionByName(tr.filter(col("st") =!= "CONV" && col("nxt").isNull)
        .select(col("st").as("from_st"), lit("NULL").as("to_st")))
  }

  /** Weight of cell rows naming a state OUTSIDE {S, CONV, NULL} ∪
    * `channels` — the guard term [[countCells2]]/[[countCellsN]]
    * aggregate alongside the named cells (r18, the advisor's catch):
    * the per-cell `when(... === ch)` sums silently DROP any cell whose
    * state is not in the serve list, so serving a MAINTAINED store
    * with a narrower channel list than its maintainer's would report
    * numbers matching neither one-shot variant, with no error. The
    * guard rides the same aggregate (no extra job) and
    * [[strayGuard]]'s branch-structural raise_error fires before any
    * formula reads the counts. */
  private def strayAgg(channels: Seq[String]) = {
    val allowed = Seq("S", "CONV", "NULL") ++ channels
    sum(when(!col("from_st").isin(allowed: _*) ||
        !col("to_st").isin(allowed: _*), abs(col("n")))
      .otherwise(0L)).as("_stray")
  }

  private def strayGuard(cells: DataFrame): DataFrame =
    cells.filter(when(coalesce(col("_stray"), lit(0L)) === 0L, lit(true))
      .otherwise(raise_error(concat(
        lit("Markov cells name chain states outside the serve channel " +
          "list (total |n| of stray cells = "),
        col("_stray").cast("string"),
        lit(") — serving a maintained store with a channel list " +
          "narrower than its maintainer's would silently drop those " +
          "transitions; pass the maintained channel set")))))
      .drop("_stray")

  /** The 2-channel 12-cell count frame from WEIGHTED transition rows
    * (from_st, to_st, n) — `n` = 1 for the one-shot chain, a
    * maintained count for the fold state; both roads meet at
    * [[markovFromCounts]]'s closed form. Loud when the cells name a
    * state outside {S, CONV, NULL, chA, chB} — see [[strayAgg]]. */
  private[analytics] def countCells2(cells: DataFrame, chA: String,
                                     chB: String): DataFrame = {
    def n(f: String, t: String) =
      sum(when(col("from_st") === f && col("to_st") === t, col("n"))
        .otherwise(0L))
    strayGuard(cells.agg(
      n("S", chA).as("nsc"), n("S", chB).as("nsv"),
      n("S", "CONV").as("nsk"),
      n(chA, chA).as("ncc"), n(chA, chB).as("ncv"),
      n(chA, "CONV").as("nck"), n(chA, "NULL").as("ncn"),
      n(chB, chA).as("nvc"), n(chB, chB).as("nvv"),
      n(chB, "CONV").as("nvk"), n(chB, "NULL").as("nvn"),
      strayAgg(Seq(chA, chB))))
  }

  // ── incremental Markov attribution (r17) ─────────────────────────
  // q199 as MAINTENANCE (the q197/q203 discipline, the one r16 model
  // without a fold twin). The transition-count table is ASSOCIATIVE —
  // every chain event contributes exactly one from→st cell increment
  // whose `from` is its immediate predecessor — so the maintained
  // state is (a) the bounded cell-count table and (b) one frontier
  // row per user (the LAST event: the only predecessor a future
  // event can have). The single cross-batch correction is the NULL
  // absorption: a fold's per-user final touch absorbs to NULL, and
  // when a later batch appends events the stored frontier row rides
  // the fold's window as a VIRTUAL event that RETRACTS its own
  // absorption (n = −1) — counts are signed, so retraction is just
  // another row. The absorption arithmetic recomputes from the counts
  // at serve time ([[markovServe]] → [[markovFromCounts]], the same
  // closed form the one-shot chain uses), so q205's oracle is q199's
  // full-replay SQL verbatim: the hash match is the fold ≡ rebuild
  // proof.

  /** Empty fold state: (frontier (user, ts, tie, st), cells
    * (from_st, to_st, n)) — clean LocalRelations (an empty frame
    * derived by `limit(0)`+aliased selects drags its source's
    * constraints into every later union; Spark's Union constraint
    * rewrite chokes on the aliased attrs). */
  def markovInitState(touches: DataFrame, conversions: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{LongType, StringType,
      StructField, StructType}
    val s = touches.sparkSession
    def empty(schema: StructType) = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    (empty(chainEvents(touches, conversions).schema),
      empty(StructType(Seq(StructField("from_st", StringType),
        StructField("to_st", StringType),
        StructField("n", LongType)))))
  }

  /** Fold one batch into the Markov state. Append-only contract,
    * enforced loudly (the [[fold]] guard): every batch event must
    * order (ts, tie) strictly after its user's stored frontier.
    * Scale shape: untouched users' frontiers ride a broadcast
    * anti-join; the chain window runs over (batch ∪ one virtual row
    * per touched user) — batch-scale; the cell table is bounded
    * ((channels + 2)² rows) and folds by a tiny groupBy. */
  def markovFold(frontier: DataFrame, cells: DataFrame,
                 touches: DataFrame, conversions: DataFrame)
      : (DataFrame, DataFrame) =
    markovFoldImpl(frontier, cells, touches, conversions, identity)

  /** [[markovFold]] with the shared chain window PINNED (persisted):
    * the new cells and the new frontier both read it — two separate
    * ACTIONS over them (the stream twin writes each to parquet) would
    * otherwise evaluate the frontier read + guards + window twice.
    * Returns a release thunk the caller MUST invoke after its last
    * action over either frame (the [[foldPinned]] contract). */
  def markovFoldPinned(frontier: DataFrame, cells: DataFrame,
                       touches: DataFrame, conversions: DataFrame)
      : (DataFrame, DataFrame, () => Unit) = {
    var pinned: Option[DataFrame] = None
    val (nf, nc) = markovFoldImpl(frontier, cells, touches, conversions,
      tr => { val p = tr.persist(); pinned = Some(p); p })
    (nf, nc, () => pinned.foreach(_.unpersist(false)))
  }

  /** [[markovFold]] with the shared chain window pinned under a
    * `consumers`-action [[graft.ScopedCache]] scope (r21) — the batch
    * chain's HYBRID shape: a non-final fold checkpoints ONLY its
    * frontier eagerly (action 1; the user-grain frame whose lineage
    * must not re-run inside later folds) while its cell delta stays
    * lazy until the final serve action (action 2) — so the window
    * needs a two-action pin, which [[markovFoldPinned]]'s manual
    * release thunk cannot provide (nothing runs between the cut and
    * the serve to call it at the right time). The FINAL fold's window
    * is consumed by the serve action alone (its frontier is never
    * read, but the cell delta reads the window from three branches) —
    * `consumers = 1`. */
  def markovFoldScoped(frontier: DataFrame, cells: DataFrame,
                       touches: DataFrame, conversions: DataFrame,
                       consumers: Int)
      : (DataFrame, DataFrame) =
    markovFoldImpl(frontier, cells, touches, conversions,
      tr => graft.ScopedCache.pinned(tr, consumers = consumers))

  private def markovFoldImpl(frontier: DataFrame, cells: DataFrame,
                             touches: DataFrame, conversions: DataFrame,
                             pin: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    val ev = chainEvents(touches, conversions)
    val users = ev.select("user").distinct()
    val untouched = frontier.join(broadcast(users), Seq("user"), "left_anti")
    val touchedF = frontier.join(broadcast(users), Seq("user"), "left_semi")
    val guard = touchedF.select(col("user"),
      struct(col("ts"), col("tie")).as("_bfront"))
    val guarded = ev.join(broadcast(guard), Seq("user"), "left")
      .filter(when(col("_bfront").isNull ||
          struct(col("ts"), col("tie")) > col("_bfront"), lit(true))
        .otherwise(raise_error(concat(
          lit("markov fold is append-only: event at "),
          struct(col("ts"), col("tie")).cast("string"),
          lit(" not after stored frontier "),
          col("_bfront").cast("string"),
          lit(" — backfill requires a rebuild from the raw event log")))))
      .drop("_bfront")
    val replay = guarded.withColumn("_virtual", lit(false))
      .unionByName(touchedF.withColumn("_virtual", lit(true)))
    val w = Window.partitionBy(col("user")).orderBy(col("ts"), col("tie"))
    val tr = pin(replay
      .withColumn("prev",
        coalesce(lag(col("st"), 1).over(w), lit("CONV")))
      .withColumn("nxt", lead(col("st"), 1).over(w))
      .withColumn("from_st",
        when(col("prev") === "CONV", lit("S")).otherwise(col("prev"))))
    // batch events: their own transition (the virtual predecessor
    // supplies the first one's `from`), plus the new journey-final
    // NULL absorption; the virtual row's previous absorption — it was
    // chain-final at its own fold by definition — RETRACTS (−1)
    val delta = tr.filter(!col("_virtual"))
        .select(col("from_st"), col("st").as("to_st"), lit(1L).as("n"))
      .unionByName(tr
        .filter(!col("_virtual") && col("st") =!= "CONV" &&
          col("nxt").isNull)
        .select(col("st").as("from_st"), lit("NULL").as("to_st"),
          lit(1L).as("n")))
      .unionByName(tr.filter(col("_virtual") && col("st") =!= "CONV")
        .select(col("st").as("from_st"), lit("NULL").as("to_st"),
          lit(-1L).as("n")))
    val newCells = cells.unionByName(delta)
      .groupBy(col("from_st"), col("to_st")).agg(sum(col("n")).as("n"))
    val newFrontier = tr
      .groupBy(col("user"))
      .agg(max_by(struct(col("ts"), col("tie"), col("st")),
        struct(col("ts"), col("tie"))).as("_m"))
      .select(col("user"), col("_m.ts").as("ts"),
        col("_m.tie").as("tie"), col("_m.st").as("st"))
    (untouched.unionByName(newFrontier), newCells)
  }

  /** The q199 report from maintained cell counts — the serve half of
    * the fold, sharing [[markovFromCounts]]'s arithmetic with the
    * one-shot chain so fold and rebuild cannot drift. */
  def markovServe(cells: DataFrame, chA: String, chB: String): DataFrame =
    markovFromCounts(countCells2(cells, chA, chB), chA, chB)

  // ── incremental TIME-DECAY attribution (q206, round 17) ──────────
  // q198's fold twin, closing the family: every model now has an
  // incremental path. Per-channel decay totals are ASSOCIATIVE —
  // each conversion's in-window pairs are enumerated exactly once, in
  // the fold that receives the conversion — so state is (horizon:
  // the per-user in-window touch rows plus one frontier-holder row,
  // the [[fold]] prune shape minus the prefix annotations; totals:
  // one (channel, decay_w, n_weighted) row per channel, bounded).
  // All in-window touches of a batch conversion are PRESENT at fold
  // time: the stored horizon covers (frontier − L, frontier] and the
  // guard pins conversions at-or-after the frontier, so a window
  // (ts − L, ts] ⊆ stored ∪ batch. Fold ≡ rebuild exactly — q206's
  // oracle is q198's full-replay SQL verbatim. Ordering contract is
  // the family's ([[fold]]): per-user event-time order across
  // micro-batches.

  /** Empty decay state: (horizon (user, ts, channel, tie), totals
    * (channel, decay_w, n_weighted)) — clean LocalRelations (the
    * [[markovInitState]] constraint-rewrite note). */
  def decayInitState(touches: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{LongType, StringType,
      StructField, StructType}
    val s = touches.sparkSession
    def empty(schema: StructType) = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    (empty(touches.select(col("user"), col("ts"), col("channel"),
        col("tie")).schema),
      empty(StructType(Seq(StructField("channel", StringType),
        StructField("decay_w", LongType),
        StructField("n_weighted", LongType)))))
  }

  /** Fold one batch into the decay state. Append-only contract,
    * enforced loudly on BOTH frontiers (r18 — the advisor's catch):
    * the touch frontier (the [[fold]] guard) AND the per-user maximum
    * FOLDED-CONVERSION ts, carried in the horizon as one marker row
    * per converted user (`channel` IS NULL — real touches always have
    * a channel). Without the second frontier, a touch arriving in a
    * later batch with ts after the stored touch frontier but at-or-
    * before an already-folded conversion's ts passed silently, and its
    * pairs with that conversion were permanently missed (fold ≠
    * rebuild with no error — the conversion's weights were already
    * added from a window that predates the touch). Markov does not
    * need the marker: its chain frontier already stores CONV rows.
    * Scale shape: untouched users' horizons ride a broadcast
    * anti-join; the pair set is the q198 plan over (stored horizon ∪
    * batch) vs batch conversions —
    * [[graft.operators.RangeJoin.pointInInterval]]'s bucketed
    * (user, time-bucket) equi-join, output-bound, never a nested
    * loop; the totals fold is a bounded groupBy.
    *
    * Guard evaluation-dependence (r18 ADVICE): both frontier guards
    * are expression-level `raise_error`s on the returned HORIZON
    * output, so they fire when that output is materialized. The
    * stream twin always publishes the horizon, so every batch is
    * checked there; a BATCH caller that forces only the totals output
    * (`._2`) in a conversion-less batch does not evaluate the guarded
    * rows and gets no error for that batch — force `._1` (or both,
    * as the stream does) to arm the guard unconditionally. */
  def decayFold(horizon: DataFrame, totals: DataFrame,
                touches: DataFrame, conversions: DataFrame,
                lookbackUs: Long,
                decayUnitUs: Long = 86400000000L)
      : (DataFrame, DataFrame) =
    decayFoldImpl(horizon, totals, touches, conversions, lookbackUs,
      decayUnitUs, identity)

  /** [[decayFold]] with the shared timeline PINNED — the
    * [[foldPinned]] contract for the stream twin's two actions. */
  def decayFoldPinned(horizon: DataFrame, totals: DataFrame,
                      touches: DataFrame, conversions: DataFrame,
                      lookbackUs: Long,
                      decayUnitUs: Long = 86400000000L)
      : (DataFrame, DataFrame, () => Unit) = {
    var pinned: Option[DataFrame] = None
    val (nh, nt) = decayFoldImpl(horizon, totals, touches, conversions,
      lookbackUs, decayUnitUs,
      tl => { val p = tl.persist(); pinned = Some(p); p })
    (nh, nt, () => pinned.foreach(_.unpersist(false)))
  }

  private def decayFoldImpl(horizon: DataFrame, totals: DataFrame,
                            touches: DataFrame, conversions: DataFrame,
                            lookbackUs: Long, decayUnitUs: Long,
                            pin: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    val users = touches.select("user")
      .unionByName(conversions.select("user")).distinct()
    val untouched = horizon.join(broadcast(users), Seq("user"), "left_anti")
    val touchedAll = horizon.join(broadcast(users), Seq("user"), "left_semi")
    // conversion-frontier marker rows (channel IS NULL) vs real
    // horizon touches — see the fold contract in the scaladoc
    val touchedH = touchedAll.filter(col("channel").isNotNull)
    val markers = touchedAll.filter(col("channel").isNull)
    // ONE per-user two-frontier aggregate over touchedAll (r20, the
    // foldImpl restructure): the channel-null marker convention splits
    // the touch frontier from the conversion frontier inside one
    // aggregate — one broadcast build instead of two per fold, and the
    // guards join once instead of twice.
    val info = touchedAll.groupBy(col("user")).agg(
      max(when(col("channel").isNotNull, struct(col("ts"), col("tie"))))
        .as("_bfront"),
      max(when(col("channel").isNull, col("ts"))).as("_cfront"))
    val guardedT = touches
      .join(broadcast(info), Seq("user"), "left")
      .filter(when((col("_bfront").isNull ||
            struct(col("ts"), col("tie")) > col("_bfront")) &&
          (col("_cfront").isNull || col("ts") > col("_cfront")), lit(true))
        .otherwise(raise_error(concat(
          lit("decay fold is append-only: touch at "),
          struct(col("ts"), col("tie")).cast("string"),
          lit(" not after stored frontiers (touch "),
          coalesce(col("_bfront").cast("string"), lit("none")),
          lit(", conversion "),
          coalesce(col("_cfront").cast("string"), lit("none")),
          lit(") — an already-folded conversion's window would have " +
            "included it; backfill requires a replay from the raw log")))))
      .drop("_bfront", "_cfront")
      .select(col("user"), col("ts"), col("channel"), col("tie"))
    val guardedC = conversions
      .join(broadcast(info), Seq("user"), "left")
      .filter(when(col("_bfront").isNull ||
          col("ts") >= col("_bfront").getField("ts"), lit(true))
        .otherwise(raise_error(concat(
          lit("decay fold is append-only: conversion at "),
          col("ts").cast("string"), lit(" before stored frontier "),
          col("_bfront").cast("string"),
          lit(" — its window needs pruned history; replay instead")))))
      .drop("_bfront", "_cfront")
    val timeline = pin(touchedH.unionByName(guardedT))
    // next conversion frontier per touched user: max(stored marker,
    // batch conversions) — one bounded row per converted user, tie =
    // MaxValue so the marker can never shadow a real touch ordering
    val newMarkers = markers.select(col("user"), col("ts"))
      .unionByName(guardedC.select(col("user"), col("ts")))
      .groupBy(col("user")).agg(max(col("ts")).as("ts"))
      .select(col("user"), col("ts"),
        lit(null).cast("string").as("channel"),
        lit(Long.MaxValue).as("tie"))
    // the q198 pair plan: conversions as half-open (ts−L, ts]
    // intervals, bucketed point-in-interval equi-join
    val iv = guardedC.select(col("user").as("cu"),
      (col("ts") - lit(lookbackUs) + 1).as("_ws"),
      (col("ts") + 1).as("_we"), col("ts").as("cts"))
    val delta = graft.operators.RangeJoin.pointInInterval(
        timeline, "user", "ts", iv, "cu", "_ws", "_we",
        Seq("cts"), bucketWidth = lookbackUs)
      .withColumn("w",
        expr(decayWeightSql(s"(cts - ts) div $decayUnitUs")))
      .groupBy(col("channel"))
      .agg(sum(col("w")).as("decay_w"),
        count(lit(1)).as("n_weighted"))
    val newTotals = totals.unionByName(delta)
      .groupBy(col("channel"))
      .agg(sum(col("decay_w")).as("decay_w"),
        sum(col("n_weighted")).as("n_weighted"))
    (untouched.unionByName(pruneState(timeline, lit(lookbackUs)))
      .unionByName(newMarkers),
      newTotals)
  }

  /** The `65536 >> age` decay weight with the shift CLAMPED: Spark's
    * `shiftright` masks the shift amount mod 64 for longs, so a pair
    * aged ≥ 64 decay units would wrap back to FULL weight (65536 at
    * age 64) while DuckDB's `>>` returns 0 for any shift ≥ 64 — a
    * silent engine divergence for lookbacks of 64+ units (e.g. 90-day
    * lookback at day grain). Any shift > 16 is exactly 0 for a 2^16
    * weight, so clamping there matches DuckDB at every age. `age` is
    * a SQL expression, non-negative by the pair join's window. */
  private[analytics] def decayWeightSql(age: String): String =
    s"CASE WHEN ($age) > 16 THEN 0L " +
      s"ELSE shiftright(65536L, CAST(($age) AS INT)) END"

  /** The q198 report from maintained decay totals — zero-filled over
    * the channel list, the serve half of the fold. */
  def decayServe(totals: DataFrame, channels: Seq[String]): DataFrame = {
    val s = totals.sparkSession
    val chs = s.createDataFrame(channels.map(Tuple1(_))).toDF("channel")
    chs.join(totals, Seq("channel"), "left")
      .select(col("channel"),
        coalesce(col("decay_w"), lit(0L)).as("decay_w"),
        coalesce(col("n_weighted"), lit(0L)).as("n_weighted"))
      .orderBy("channel")
  }

  /** N-CHANNEL Markov (removal-effect) attribution — [[markovByChannel]]
    * generalized past the 2-transient closed form. Determinant/cofactor
    * arithmetic grows as count^|channels| and overflows BIGINT at scale;
    * instead the absorption probabilities come from `rounds` UNROLLED
    * fixed-point Jacobi iterations in integer e6 (the q136 PageRank
    * recipe): per round and transient state f,
    *
    *   a_f ← (n_fK·10^6 + Σ_j n_fj·a_j) div max(r_f, 1)
    *
    * — every term ≤ count·10^6, so magnitudes are SCALE-INDEPENDENT,
    * and both engines replay the same `rounds` steps bit-for-bit (the
    * model is DEFINED as this fixed-point recipe; iteration error
    * shrinks geometrically in the per-step continue probability and is
    * identical cross-engine by construction). The same recurrence runs
    * once for the full chain and once per removed channel (transitions
    * into the removed channel reroute to NULL — its terms just drop
    * out), all over one bounded 1-row count frame; the only event-scale
    * work is the lag/lead chain window [[markovByChannel]] also uses.
    *
    * ONE generator emits both the Spark `selectExpr` strings and the
    * DuckDB oracle CTE chain ([[markovNOracleSql]]), so the two
    * engines cannot drift. Output: (channel, removal_e6,
    * credited_conv, p_conv_e6), one row per channel. */
  def markovNByChannel(touches: DataFrame, conversions: DataFrame,
                       channels: Seq[String],
                       rounds: Int = 24): DataFrame =
    markovNFromCounts(countCellsN(
      chainCells(chainEvents(touches, conversions))
        .withColumn("n", lit(1L)), channels), channels, rounds)

  /** q202's N-channel report from maintained (from_st, to_st, n) cell
    * counts — the N-channel serve half of [[markovFold]] (q207). The
    * fold's cell table is channel-agnostic (each transition counts
    * under whatever states appear), so the SAME maintained state
    * serves both the 2-channel closed form ([[markovServe]]) and this
    * Jacobi recipe; both roads meet q202's formula generator. */
  def markovNServe(cells: DataFrame, channels: Seq[String],
                   rounds: Int = 24): DataFrame =
    markovNFromCounts(countCellsN(cells, channels), channels, rounds)

  /** The (1+|channels|)·(|channels|+2)-cell count frame from WEIGHTED
    * transition rows — [[countCells2]]'s N-channel sibling, with the
    * same loud stray-state guard ([[strayAgg]]). */
  private[graft] def countCellsN(cells: DataFrame,
                                     channels: Seq[String]): DataFrame = {
    def nm(f: String, t: String) = s"n_${f}_$t"
    val froms = "S" +: channels
    val tos = channels ++ Seq("CONV", "NULL")
    val aggs = (for (f <- froms; t <- tos) yield
      sum(when(col("from_st") === f && col("to_st") === t, col("n"))
        .otherwise(0L)).as(nm(f, t))) :+ strayAgg(channels)
    strayGuard(cells.agg(aggs.head, aggs.tail: _*))
  }

  /** The N-channel report from a guarded 1-row count frame, evaluated
    * ON THE DRIVER (r20 optimization): the count frame is BOUNDED —
    * (1+|channels|)·(|channels|+2) bigint cells, scale-independent (the
    * localTop20 / saturation-scalar precedent) — while the unrolled
    * Jacobi expression chain was ~26 stacked projection layers · ~13
    * aliases each that Catalyst re-analyzed and partially inlined on
    * every run (~0.5 s optimizer + ~1.5 s under AQE at ANY data size,
    * measured in r20; pure per-query overhead, growing with
    * |channels|³·rounds, never with data). The collect triggers
    * [[strayGuard]] exactly as the expression path did, and the local
    * arithmetic is bit-identical: Spark's `div` is Long division
    * truncating toward zero — exactly Scala's `Long./` (verified:
    * `-7 div 2 = -3`) — `greatest(x, 1)` is `math.max(x, 1L)`, and Long
    * overflow wraps identically in both (ANSI off). The retired
    * expression chain survives as [[markovNFromCountsExpr]], pinned
    * equal on randomized counts by OperatorSpec — the two
    * implementations cannot drift silently. */
  private[graft] def markovNFromCounts(m: DataFrame,
                                           channels: Seq[String],
                                           rounds: Int): DataFrame = {
    require(channels.nonEmpty && channels.forall(_.matches("[a-z0-9]+")),
      "channel names must be lowercase alphanumeric (no underscores — " +
        "the generated alias scheme joins parts with '_')")
    def nm(f: String, t: String) = s"n_${f}_$t"
    val row = m.collect()(0) // bounded 1-row frame; stray guard fires here
    import org.apache.spark.sql.types.{LongType, StringType, StructField,
      StructType}
    val outSchema = StructType(Seq(
      StructField("channel", StringType, nullable = false),
      StructField("removal_e6", LongType),
      StructField("credited_conv", LongType),
      StructField("p_conv_e6", LongType)))
    // a global agg over an EMPTY cells frame is one all-NULL row; the
    // expression chain propagated those nulls into every output column
    // — mirror it (the q202/q207 inputs are never empty, but the
    // degenerate case must not change shape)
    if (row.isNullAt(0))
      return m.sparkSession.createDataFrame(
        java.util.Arrays.asList(channels.sorted.map(x =>
          org.apache.spark.sql.Row(x, null, null, null)): _*), outSchema)
    val cnt: Map[String, Long] = row.schema.fieldNames.zipWithIndex
      .map { case (f, i) => f -> row.getLong(i) }.toMap
    val tos = channels ++ Seq("CONV", "NULL")
    def r(f: String) = tos.map(t => cnt(nm(f, t))).sum
    val systems: Seq[(String, Seq[String])] =
      ("full" -> channels) +:
        channels.map(x => s"no_$x" -> channels.filterNot(_ == x))
    // the SAME fixed-point recipe markovNSteps generates: per round and
    // transient f, a_f ← (n_fK·10^6 + Σ_j n_fj·a_j) div max(r_f, 1)
    val aS: Map[String, Long] = systems.map { case (sys, kept) =>
      var a: Map[String, Long] = kept.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) a = kept.map { f =>
        val flow = kept.map(j => cnt(nm(f, j)) * a(j)).sum
        f -> (cnt(nm(f, "CONV")) * 1000000L + flow) / math.max(r(f), 1L)
      }.toMap
      val flowS = kept.map(j => cnt(nm("S", j)) * a(j)).sum
      sys -> (cnt(nm("S", "CONV")) * 1000000L + flowS) / math.max(r("S"), 1L)
    }.toMap
    val totalConv = ("S" +: channels).map(f => cnt(nm(f, "CONV"))).sum
    val re: Map[String, Long] = channels.map(x => x ->
      (1000000L - (aS(s"no_$x") * 1000000L) / math.max(aS("full"), 1L)))
      .toMap
    val reSum = channels.map(re).sum
    val out = channels.sorted.map { x =>
      org.apache.spark.sql.Row(x, re(x),
        (totalConv * re(x)) / math.max(reSum, 1L), aS("full"))
    }
    m.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*), outSchema)
  }

  /** The retired Spark-expression lowering of [[markovNFromCounts]] —
    * kept (tests only) as the drift oracle: OperatorSpec asserts the
    * driver-local arithmetic equals this chain on randomized count
    * frames, and [[markovNOracleSql]] still generates the DuckDB twin
    * from the same [[markovNSteps]] formula source. */
  private[graft] def markovNFromCountsExpr(m: DataFrame,
                                               channels: Seq[String],
                                               rounds: Int): DataFrame = {
    // no underscores: generated aliases are a_<system>_<state>_<round>
    // with '_'-joined parts, and channels like ("a", "a_a") would
    // collide (system no_a + state a_a == system no_a_a + state a)
    require(channels.nonEmpty && channels.forall(_.matches("[a-z0-9]+")),
      "channel names must be lowercase alphanumeric (no underscores — " +
        "the generated alias scheme joins parts with '_')")
    val steps = markovNSteps(channels, rounds)
    val folded = steps.foldLeft(m) { (df, roundExprs) =>
      df.selectExpr("*" +: roundExprs.map { case (alias, e) =>
        s"${e.replace("//", "div")} AS $alias" }: _*)
    }
    val (reCols, stackSql) = markovNFinal(channels, rounds)
    folded
      .selectExpr("*" +: reCols.map { case (alias, e) =>
        s"${e.replace("//", "div")} AS $alias" }: _*)
      .selectExpr(stackSql.replace("//", "div"),
        s"a_full_S_$rounds AS p_conv_e6")
      .orderBy("channel")
  }

  /** The shared formula generator: per round, (alias, expr) pairs for
    * the full system and each removed-channel system. Exprs use the
    * DuckDB `//` integer-division spelling; the Spark side rewrites it
    * to `div`. System id "full" keeps every channel; "no_<x>" drops
    * transitions into x. Round 0 aliases are the zero seeds. */
  private def markovNSteps(channels: Seq[String], rounds: Int)
      : Seq[Seq[(String, String)]] = {
    def nm(f: String, t: String) = s"n_${f}_$t"
    def r(f: String) =
      (channels ++ Seq("CONV", "NULL")).map(t => nm(f, t)).mkString(" + ")
    val systems: Seq[(String, Seq[String])] =
      ("full" -> channels) +:
        channels.map(x => s"no_$x" -> channels.filterNot(_ == x))
    val seed: Seq[(String, String)] = for ((sys, kept) <- systems;
        f <- kept) yield (s"a_${sys}_${f}_0", "CAST(0 AS BIGINT)")
    val iters = (1 to rounds).map { t =>
      for ((sys, kept) <- systems; f <- kept) yield {
        val flow = kept.map(j =>
          s"${nm(f, j)} * a_${sys}_${j}_${t - 1}").mkString(" + ")
        (s"a_${sys}_${f}_$t",
          s"(${nm(f, "CONV")} * 1000000 + $flow) " +
            s"// greatest(${r(f)}, 1)")
      }
    }
    // start-state read per system, after the last transient round
    val starts = for ((sys, kept) <- systems) yield {
      val flow = kept.map(j =>
        s"${nm("S", j)} * a_${sys}_${j}_$rounds").mkString(" + ")
      (s"a_${sys}_S_$rounds",
        s"(${nm("S", "CONV")} * 1000000 + $flow) " +
          s"// greatest(${r("S")}, 1)")
    }
    (seed +: iters) :+ starts
  }

  /** Removal effects + credit split + stack, shared spelling. */
  private def markovNFinal(channels: Seq[String], rounds: Int)
      : (Seq[(String, String)], String) = {
    def nm(f: String, t: String) = s"n_${f}_$t"
    val total = ("S" +: channels).map(f => nm(f, "CONV")).mkString(" + ")
    val reCols = channels.map { x =>
      (s"re_${x}_e6",
        s"1000000 - (a_no_${x}_S_$rounds * 1000000) " +
          s"// greatest(a_full_S_$rounds, 1)")
    } :+ ("total_conv" -> total)
    val reSum = channels.map(x => s"re_${x}_e6").mkString(" + ")
    val stackArgs = channels.map { x =>
      s"'$x', re_${x}_e6, " +
        s"(total_conv * re_${x}_e6) // greatest($reSum, 1)"
    }.mkString(", ")
    (reCols, s"stack(${channels.size}, $stackArgs) " +
      "AS (channel, removal_e6, credited_conv)")
  }

  /** The DuckDB twin of [[markovNByChannel]] over the `events` table:
    * the SAME generated formulas, CTE-chained. `touchTypes` are the
    * channels (event_type values), conversions are 'purchase'. */
  def markovNOracleSql(channels: Seq[String], rounds: Int = 24): String = {
    def nm(f: String, t: String) = s"n_${f}_$t"
    val inList = channels.map(c => s"'$c'").mkString(", ")
    val froms = "S" +: channels
    val tos = channels ++ Seq("CONV", "NULL")
    val countCells = (for (f <- froms; t <- tos) yield
      s"CAST(sum(CASE WHEN from_st='$f' AND to_st='$t' THEN 1 ELSE 0 " +
        s"END) AS BIGINT) AS ${nm(f, t)}").mkString(",\n            ")
    val steps = markovNSteps(channels, rounds)
    val roundCtes = steps.zipWithIndex.map { case (es, i) =>
      val cols = es.map { case (a, e) => s"$e AS $a" }.mkString(",\n           ")
      s"j$i AS (SELECT *,\n           $cols\n         FROM ${if (i == 0) "m" else s"j${i - 1}"})"
    }.mkString(",\n        ")
    val (reCols, _) = markovNFinal(channels, rounds)
    val reSql = reCols.map { case (a, e) => s"$e AS $a" }
      .mkString(",\n           ")
    val reSum = channels.map(x => s"re_${x}_e6").mkString(" + ")
    val branches = channels.map { x =>
      s"WHEN '$x' THEN re_${x}_e6"
    }.mkString(" ")
    val credit = channels.map { x =>
      s"WHEN '$x' THEN (total_conv * re_${x}_e6) // greatest($reSum, 1)"
    }.mkString(" ")
    val values = channels.map(c => s"('$c')").mkString(", ")
    s"""
        WITH ev AS (
          SELECT user_id AS u, epoch_us(ts) AS ts,
                 CASE WHEN event_type = 'purchase'
                      THEN 9223372036854775807 ELSE event_id END AS tie,
                 CASE WHEN event_type = 'purchase' THEN 'CONV'
                      ELSE event_type END AS st
          FROM events
          WHERE event_type IN ($inList, 'purchase')),
        tr AS (SELECT st,
                      coalesce(lag(st) OVER w, 'CONV') AS prev,
                      lead(st) OVER w AS nxt
               FROM ev WINDOW w AS (PARTITION BY u ORDER BY ts, tie)),
        cells AS (
          SELECT CASE WHEN prev = 'CONV' THEN 'S' ELSE prev END
                   AS from_st, st AS to_st FROM tr
          UNION ALL
          SELECT st, 'NULL' FROM tr WHERE st <> 'CONV' AND nxt IS NULL),
        m AS (SELECT
            $countCells
          FROM cells),
        $roundCtes,
        fin AS (SELECT *,
           $reSql
         FROM j${steps.size - 1})
        SELECT chs.ch AS channel,
               CAST(CASE chs.ch $branches END AS BIGINT) AS removal_e6,
               CAST(CASE chs.ch $credit END AS BIGINT) AS credited_conv,
               CAST(a_full_S_$rounds AS BIGINT) AS p_conv_e6
        FROM fin, (VALUES $values) chs(ch)
        ORDER BY channel"""
  }

  // ── incremental attribution (r16) ────────────────────────────────
  // The fold family's attribution member (rollups: CascadedRollup.
  // foldFinest; SCD2: Scd2.fold; vectors/postings: VectorStore/
  // Bm25Store): conversions credited as they ARRIVE, per-batch cost,
  // against bounded per-user state instead of the full touch history.
  //
  // The state is [[annotate]]'s own rows — (user, ts, channel, tie,
  // idx, cum_<ch>) — PRUNED per user to the lookback horizon: rows
  // with ts > max(ts) − L, plus ONE floor sentinel (the newest older
  // row), which carries the absolute prefix counts every in-horizon
  // probe needs. Why that is lossless: a future conversion (append-
  // only ⇒ ts ≥ the user's frontier) probes prefixes at ts and
  // ts − L ≥ frontier − L — both at-or-after the sentinel — and its
  // first in-window touch has ts > ts − L ≥ frontier − L, i.e. is a
  // retained row; nothing a dropped row knew is ever read again.
  // State is therefore O(touch rate × lookback) per user — a sliding
  // window of the fact stream, not the fact stream.

  /** Empty fold state with the right schema (`idx` widened to long —
    * absolute indexes keep growing across batches). */
  def initState(touches: DataFrame, channels: Seq[String]): DataFrame =
    annotate(touches.limit(0), channels)
      .withColumn("idx", col("idx").cast("long"))

  /** Fold one batch: credit `conversions` against (stored state ∪
    * `touches`), returns (credits, new state). Credits are row-
    * identical to [[perConversion]] over the full history (q197's
    * oracle IS the full replay — the q187/q183 fold≡rebuild
    * discipline), at batch + horizon cost.
    *
    * Append-only contract, enforced loudly on BOTH frontiers (r18,
    * like [[decayFold]]): every batch touch must order (ts, tie)
    * strictly after its user's stored touch frontier AND strictly
    * after the user's last already-credited conversion (carried as a
    * channel-IS-NULL marker row in the state — a later-arriving touch
    * at-or-before that conversion's ts would have been in its window,
    * so the credits already in the sink are wrong and the fold must
    * abort, not absorb); every batch conversion at-or-after the touch
    * frontier's ts. Out-of-order backfill needs pruned rows and must
    * replay [[perConversion]] from the raw log instead.
    *
    * Scale shape: untouched users' state rides a broadcast anti-join
    * (no window, no shuffle); baselines/guards broadcast (batch-user-
    * scale); the hash exchanges — batch annotate, the two as-of
    * unions, the prune windows — all ride the touched slice only. */
  def fold(state: DataFrame, touches: DataFrame, conversions: DataFrame,
           channels: Seq[String], lookback: Column)
      : (DataFrame, DataFrame) =
    foldImpl(state, touches, conversions, channels, lookback, identity)

  /** [[fold]] with the shared timeline PINNED (persisted): the credits
    * and the new state both read (stored slice ∪ annotated batch) —
    * two separate ACTIONS over it (the stream twin writes each to
    * parquet) would otherwise evaluate the state read + batch window +
    * guards twice. Returns a release thunk the caller MUST invoke
    * after its last action over either frame. */
  def foldPinned(state: DataFrame, touches: DataFrame,
                 conversions: DataFrame, channels: Seq[String],
                 lookback: Column)
      : (DataFrame, DataFrame, () => Unit) = {
    var pinned: Option[DataFrame] = None
    val (credits, next) = foldImpl(state, touches, conversions,
      channels, lookback, tl => { val p = tl.persist(); pinned = Some(p); p })
    (credits, next, () => pinned.foreach(_.unpersist(false)))
  }

  /** [[fold]] with the shared timeline pinned under a TWO-consumer
    * [[graft.ScopedCache]] scope (r20) — the batch-chain caller's
    * shape (q197): the new state is checkpointed eagerly during query
    * BUILD (consumer 1) while the credits stay lazy until the final
    * report action (consumer 2). [[foldPinned]]'s release thunk cannot
    * serve that shape (nothing runs after the final action to call
    * it), and an unscoped persist would leak the timeline for the
    * session lifetime; the scoped pin releases itself after the second
    * consuming action. Without any pin, every fold's state read +
    * batch window + guards evaluate TWICE (once in the checkpoint,
    * once under the final report) — measured as most of q197's wall. */
  def foldScoped(state: DataFrame, touches: DataFrame,
                 conversions: DataFrame, channels: Seq[String],
                 lookback: Column): (DataFrame, DataFrame) =
    foldImpl(state, touches, conversions, channels, lookback,
      tl => graft.ScopedCache.pinned(tl, consumers = 2))

  private def foldImpl(state: DataFrame, touches: DataFrame,
                       conversions: DataFrame, channels: Seq[String],
                       lookback: Column, pin: DataFrame => DataFrame)
      : (DataFrame, DataFrame) = {
    val users = touches.select("user")
      .unionByName(conversions.select("user")).distinct()
    val touchedAll = state.join(broadcast(users), Seq("user"), "left_semi")
    val untouchedState = state.join(broadcast(users), Seq("user"), "left_anti")
    // conversion-frontier marker rows (channel IS NULL — see
    // [[decayFold]], the same enforcement) vs real annotated touches
    val touchedState = touchedAll.filter(col("channel").isNotNull)
    val markers = touchedAll.filter(col("channel").isNull)
    // ONE per-user guard/offset aggregate over touchedAll (r20 — was
    // three: base over the touch rows, cfront over the markers, plus
    // their projections front/offsets, each its own broadcast BUILD
    // subjob per fold): markers carry null idx/cum so the offset maxes
    // ignore them for free, and the conditional maxes split the two
    // frontiers by the channel-null marker convention. One aggregate,
    // one identical broadcast subtree for all three consumer joins
    // (exchange-reused within an action).
    val infoAggs = Seq(
      max(when(col("channel").isNotNull, struct(col("ts"), col("tie"))))
        .as("_bfront"),
      max(when(col("channel").isNull, col("ts"))).as("_cfront"),
      max(col("idx")).as("_bidx")) ++
      channels.map(ch => max(col(s"cum_$ch")).as(s"_bcum_$ch"))
    val info = touchedAll.groupBy(col("user"))
      .agg(infoAggs.head, infoAggs.tail: _*)
    // when().otherwise(raise_error) — the guard's pass/raise split is
    // branch-structural, not reliant on Or-disjunct evaluation order
    val guardedTouches = touches
      .join(broadcast(info), Seq("user"), "left")
      .filter(when((col("_bfront").isNull ||
            struct(col("ts"), col("tie")) > col("_bfront")) &&
          (col("_cfront").isNull || col("ts") > col("_cfront")), lit(true))
        .otherwise(raise_error(concat(
          lit("attribution fold is append-only: touch at "),
          struct(col("ts"), col("tie")).cast("string"),
          lit(" not after stored frontiers (touch "),
          coalesce(col("_bfront").cast("string"), lit("none")),
          lit(", conversion "),
          coalesce(col("_cfront").cast("string"), lit("none")),
          lit(") — an already-credited conversion's window would have " +
            "included it; backfill requires a replay from the raw log")))))
      .drop(info.columns.filter(_ != "user"): _*)
    val guardedConvs = conversions
      .join(broadcast(info), Seq("user"), "left")
      .filter(when(col("_bfront").isNull ||
          col("ts") >= col("_bfront").getField("ts"), lit(true))
        .otherwise(raise_error(concat(
          lit("attribution fold is append-only: conversion at "),
          col("ts").cast("string"), lit(" before stored frontier "),
          col("_bfront").cast("string"),
          lit(" — its window needs pruned history; replay instead")))))
      .drop(info.columns.filter(_ != "user"): _*)
    val newAnnot = annotate(guardedTouches, channels)
      .join(broadcast(info), Seq("user"), "left")
      .withColumn("idx", col("idx") + coalesce(col("_bidx"), lit(0L)))
      .withColumns(channels.map(ch => s"cum_$ch" ->
        (col(s"cum_$ch") + coalesce(col(s"_bcum_$ch"), lit(0L)))).toMap)
      .drop("_bidx" +: channels.map(ch => s"_bcum_$ch"): _*)
      .select(touchedState.columns.map(col): _*)
    val timeline = pin(touchedState.unionByName(newAnnot))
    val credits =
      creditsFromAnnotated(timeline, guardedConvs, channels, lookback)
    // next conversion frontier per touched user: max(stored marker,
    // batch conversions) — the annotation columns are null on the
    // marker (it is not a touch and never enters the timeline)
    val newMarkers = markers.select(col("user"), col("ts"))
      .unionByName(guardedConvs.select(col("user"), col("ts")))
      .groupBy(col("user")).agg(max(col("ts")).as("ts"))
      .select(Seq(col("user"), col("ts"),
        lit(null).cast("string").as("channel"),
        lit(Long.MaxValue).as("tie"),
        lit(null).cast("long").as("idx")) ++
        channels.map(ch => lit(null).cast("long").as(s"cum_$ch")): _*)
    (credits, untouchedState.unionByName(pruneState(timeline, lookback))
      .unionByName(newMarkers))
  }

  /** Per-user horizon prune of an annotated timeline: keep rows with
    * `ts > max(ts) − lookback` plus the newest older row (the floor
    * sentinel — its tie-group-final prefix counts answer every probe
    * at-or-after the horizon). */
  private def pruneState(annotated: DataFrame,
                         lookback: Column): DataFrame = {
    val wU = Window.partitionBy(col("user"))
    annotated
      .withColumn("_older",
        col("ts") <= max(col("ts")).over(wU) - lookback)
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("user"), col("_older"))
          .orderBy(col("ts").desc, col("tie").desc)))
      .filter(!col("_older") || col("_rn") === 1)
      .drop("_older", "_rn")
  }
}
