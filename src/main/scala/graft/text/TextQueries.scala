package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.analytics.{QuerySpec, Tables}
import TextFunctions._

/** Text-analysis + dedup query surface over the `documents` table
  * (BASELINE north star: dedup / text analysis for LLM-data pipelines).
  *
  * All sketches hash with md5 so DuckDB replicates them bit-for-bit —
  * the MinHash-LSH dedup is exact-oracle-checked end to end, not just
  * rows-counted.
  */
object TextQueries {

  // DuckDB fragments mirrored from TextFunctions (kept adjacent so the
  // two stay in sync).
  private val duckToks = """string_split_regex(trim(text), '\s+')"""
  private def duckVocabHits(vocab: Seq[String]) =
    s"len(list_filter($duckToks, t -> t IN (${vocab.map("'" + _ + "'").mkString(",")})))"
  private val duckPunct =
    "length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))"

  /** DuckDB twin of `quality_score_t` (length / punctuation /
    * stopword-ratio composite, r4) — ONE definition for the q21, q73,
    * and q153 oracles. */
  private lazy val duckQualityExpr: String = {
    val allStops = duckVocabHits(stopwords.flatMap(_._2))
    s"""floor((0.3 * least(len($duckToks) / 100.0, 1.0)
      + 0.4 * (1.0 - ($duckPunct) * 1.0 / greatest(length(text), 1))
      + 0.3 * least($allStops * 1.0 / greatest(len($duckToks), 1) * 5.0, 1.0))
      * 10000 + 0.5) / 10000"""
  }

  /** q24 document-frequency cut: shingles appearing in more than this
    * many documents are dropped from the inverted index (both engines).
    * See the q24 comment for the rationale. Exposed to [[PostingIndex]],
    * whose artifact name encodes it. */
  private[graft] val jaccardDfCap = 128

  /** Deterministic 0-99 hash band of doc_id — THE banding primitive
    * for reproducible splits (q71) and mixtures (q75): a pure function
    * of the key, identical on both engines, so assignments survive
    * reshards, reruns, and engine swaps. Keep [[duckHashBand]] in
    * byte-lockstep. */
  private[graft] def hashBand100: org.apache.spark.sql.Column =
    hashBand100Of(org.apache.spark.sql.functions.col("doc_id"))
  /** The same band over an arbitrary long key — q144/q147 band pair
    * endpoints and cluster reps; ONE definition so the audits can
    * never drift from the split they audit. */
  private[graft] def hashBand100Of(c: Column): Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100
  }
  /** The q71 train/val/test assignment of a long key (80/10/10 by
    * [[hashBand100Of]]) — shared by q71, q144, and q147. */
  private[graft] def splitOf(c: Column): Column = {
    import org.apache.spark.sql.functions._
    val b = hashBand100Of(c)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }
  private[text] val duckHashBand =
    "('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100"

  /** The canonical 60-bit md5-prefix hash of a string column — the
    * builtin-composed twin of the [[TextExpressions.ShingleHashes]]
    * kernel math (15 hex chars parsed base-16). One definition for
    * every caller that shuffles hashes instead of strings (q24's lang
    * key, q91's span keys); DuckDB mirror:
    * `('0x' || substring(md5(x), 1, 15))::BIGINT`. */
  private[graft] def md5Hash60(c: Column): Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  }

  /** Shared shingle CTE: distinct 3-word shingles per doc. */
  private val duckShingles =
    """t AS (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') toks
      |       FROM documents),
      |sh AS (SELECT doc_id, lang, unnest(dsh) s, len(dsh) n FROM (
      |  SELECT doc_id, lang, list_distinct(list_transform(
      |    generate_series(1, greatest(len(toks)-2, 0)),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) dsh
      |  FROM t))""".stripMargin

  /** DuckDB CTE chain ending in `pairs(da, db)` — the q25 MinHash-LSH
    * candidate pairs (da < db), shared by the q25 oracle and the q82
    * dup-cluster oracle. Piece 4a+b == hex chars [8b+1 .. 8b+8] of
    * md5(a || '|' || s), parsed as a big-endian uint32 (matches
    * TextKernels.minhashPieces). */
  private[text] val duckMinhashPairsCtes: String = {
    val minCols = (0 until 16).map(i =>
      s"min(('0x' || substring(m${i / 4}, ${(i % 4) * 8 + 1}, 8))::BIGINT) h$i")
      .mkString(", ")
    val bandSelects = (0 until 8).map(bn =>
      s"SELECT doc_id, $bn band, h${2 * bn} ha, h${2 * bn + 1} hb FROM mh")
      .mkString(" UNION ALL ")
    s"""$duckShingles,
        h AS (SELECT doc_id, md5('0|' || s) m0, md5('1|' || s) m1,
                     md5('2|' || s) m2, md5('3|' || s) m3 FROM sh),
        mh AS (SELECT doc_id, $minCols FROM h GROUP BY doc_id),
        bands AS ($bandSelects),
        pairs AS (
          SELECT DISTINCT a.doc_id da, b.doc_id db
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.ha = b.ha AND a.hb = b.hb
               AND a.doc_id < b.doc_id)"""
  }

  /** DuckDB transitive closure over `pairs(da, db)` ending in
    * `labels(doc_id, rep)` — shared by the q82/q108 cluster oracle and
    * q153's best-representative oracle (requires WITH RECURSIVE). */
  private[text] val duckClosureCtes: String = """
        edges AS (SELECT da a, db b FROM pairs
                  UNION SELECT db, da FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        labels AS (SELECT a AS doc_id, least(a, min(b)) AS rep
                   FROM reach GROUP BY a)"""

  /** q24's inverted-index rows, squeezed to TWO longs per row because
    * the index-build shuffle dominates the query (26M exploded rows at
    * 100×, ~2/3 of wall time): `lang` folds into the 60-bit shingle
    * key by xor (same md5 arithmetic both engines, so even the
    * astronomically-unlikely fused-key collisions match the oracle
    * bit-for-bit), and (doc_id, per-doc shingle count) pack into one
    * long — n < 2^20 always holds because the kernel emits DISTINCT
    * shingles of a bounded-length document. Doc order survives packing
    * (doc_id in the high bits), so sorted posting lists and the x<y
    * pair rule are unchanged. Shared with [[DedupIndex]] so the
    * persisted index and the one-shot query index the same rows. */
  private[graft] def jaccardIndexRows(docs: DataFrame): DataFrame =
    // spread BEFORE the kernel: a single-row-group local file would
    // otherwise serialize the per-shingle md5 kernel onto one core
    // (guide §2.5 input skew; no-op at scale — see plans.Spread)
    jaccardIndexRowsFromHs(graft.plans.Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"), col("lang"),
        shingle_hashes(col("text"), 3).as("hs")))

  /** [[jaccardIndexRows]] over a frame already carrying the shingle
    * hashes (doc_id, lang, hs) — the entry point for
    * [[DedupIndexes.buildAll]]'s shared kernel pass. ONE definition of
    * the pack/guard/xor tail either way. */
  private[graft] def jaccardIndexRowsFromHs(withHs: DataFrame): DataFrame =
    withHs
      .select(
        // the packing assumption is ENFORCED, not assumed: a >=2^20-
        // shingle document would silently bleed into the doc_id bits
        // and corrupt pair identity, so it fails the job loudly.
        // Branch ORDER matters: the guard is the when-condition so a
        // NULL-text doc (hs NULL, size NULL) falls through to the pack
        // branch and stays NULL — dropped at explode, exactly the
        // pre-guard behavior — instead of raising a bogus error
        when(size(col("hs")) >= (1 << 20),
          raise_error(concat(lit("q24: doc "), col("doc_id"),
            lit(" has too many shingles to pack"))))
          .otherwise(shiftleft(col("doc_id"), 20) + size(col("hs")))
          .as("dn"),
        // explode_OUTER + null filter ≡ explode here (the kernel never
        // emits null elements; null/empty arrays yield one null row,
        // dropped below) — but the non-outer form makes the optimizer
        // infer `size(hs) > 0 AND isnotnull(hs)` and push it below the
        // hs projection, re-evaluating the WHOLE shingle-md5 kernel
        // once per conjunct in the scan stage (the q24 before-plan:
        // 3 evaluations per row). Guide §4.4's duplication, expression
        // flavor.
        explode_outer(col("hs")).as("sh"),
        md5Hash60(col("lang")).as("lk"))
      .filter(col("sh").isNotNull)
      .select(col("dn"), col("sh").bitwiseXOR(col("lk")).as("skey"))

  /** Posting lists over [[jaccardIndexRows]], df-capped. */
  private[graft] def jaccardPostings(hs: DataFrame): DataFrame =
    hs.groupBy(col("skey"))
      .agg(array_sort(collect_list(col("dn"))).as("docs"))
      .filter(size(col("docs")) > 1 &&
        size(col("docs")) <= jaccardDfCap)

  /** The q24 tail over a posting-list frame (`docs`: sorted packed
    * (doc_id, n) longs): pair expansion → shared-shingle counts →
    * Jaccard ≥ 0.3. ONE definition for the direct build (q24) and the
    * artifact read path (q114) — the two can't drift. */
  private[graft] def jaccardPairsFromPostings(postings: DataFrame): DataFrame =
    postings
      .select(explode(pairExpand(col("docs"))).as("p"))
      .groupBy(col("p.x").as("dx"), col("p.y").as("dy"))
      .agg(count(lit(1)).as("shared"))
      .select(shiftright(col("dx"), 20).as("da"),
        shiftright(col("dy"), 20).as("db"), col("shared"),
        graft.analytics.StableRound.r4(col("shared").cast("double") /
          (col("dx").bitwiseAND(lit(1048575L)) +
           col("dy").bitwiseAND(lit(1048575L)) - col("shared")))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.3)
      .orderBy("da", "db")

  /** The q24 index → cap → pair → Jaccard CTE chain ending in `jp`
    * (da, db, shared, jaccard ≥ 0.3) — shared by the q24/q114 oracle
    * and the q154 threshold sweep. */
  private lazy val duckJaccardPairCtes: String = s"""$duckShingles,
        sk0 AS (SELECT doc_id, n,
                       xor(('0x' || substring(md5(s), 1, 15))::BIGINT,
                           ('0x' || substring(md5(lang), 1, 15))::BIGINT)
                         AS skey
                FROM sh),
        sk AS (SELECT * FROM (
                 SELECT *, count(*) OVER (PARTITION BY skey) df FROM sk0)
               WHERE df <= $jaccardDfCap),
        p AS (SELECT a.doc_id da, b.doc_id db, count(*) shared,
                     any_value(a.n) na, any_value(b.n) nb
              FROM sk a JOIN sk b
                ON a.skey = b.skey AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        jp AS (SELECT da, db, shared,
                 floor(shared * 1.0 / (na + nb - shared) * 10000 + 0.5)
                   / 10000 AS jaccard
               FROM p
               WHERE floor(shared * 1.0 / (na + nb - shared) * 10000 + 0.5)
                   / 10000 >= 0.3)"""

  /** Shared q24/q114 oracle: the full index → cap → pair → Jaccard
    * pipeline replayed in DuckDB. */
  private lazy val jaccardPairsOracleSql: String = s"""
        WITH $duckJaccardPairCtes
        SELECT da, db, shared, jaccard FROM jp
        ORDER BY da, db"""

  /** The q140 tail over a posting-list frame: pair expansion →
    * shared-shingle counts → Broder containment shared/min(|A|,|B|)
    * ≥ 0.6, with the engulfed side called out. ONE definition for the
    * artifact build ([[PostingIndex]]) and any direct caller — the
    * same no-drift contract as [[jaccardPairsFromPostings]]. */
  private[graft] def containmentPairsFromPostings(
      postings: DataFrame): DataFrame =
    postings
      .select(explode(pairExpand(col("docs"))).as("p"))
      .groupBy(col("p.x").as("dx"), col("p.y").as("dy"))
      .agg(count(lit(1)).as("shared"))
      .select(shiftright(col("dx"), 20).as("da"),
        shiftright(col("dy"), 20).as("db"), col("shared"),
        col("dx").bitwiseAND(lit(1048575L)).as("na"),
        col("dy").bitwiseAND(lit(1048575L)).as("nb"))
      .withColumn("containment",
        graft.analytics.StableRound.r4(col("shared").cast("double") /
          least(col("na"), col("nb"))))
      .filter(col("containment") >= 0.6)
      .select(col("da"), col("db"), col("shared"),
        when(col("na") <= col("nb"), col("da")).otherwise(col("db"))
          .as("inner_doc"),
        col("containment"))

  /** THE minhash banding: explode a frame carrying `doc_id` and a
    * 16-piece `sig` into its 8 two-piece band keys, one row per
    * (doc_id, band, ha, hb). The single definition shared by q25, the
    * q73 funnel stage, and the streaming near-dup — a band-layout
    * change here changes all three together (the streaming path's
    * "single batch == batch operator" equivalence depends on that). */
  private[graft] def explodeBands(mh: DataFrame): DataFrame =
    mh.select(col("doc_id"), posexplode(array(
      (0 until 8).map(bn => struct(col("sig").getItem(2 * bn).as("ha"),
        col("sig").getItem(2 * bn + 1).as("hb"))): _*
    )).as(Seq("band", "bh")))
      .select(col("doc_id"), col("band"),
        col("bh.ha").as("ha"), col("bh.hb").as("hb"))

  /** THE q25 candidate-pair pipeline (unordered): narrow per-row
    * minhash signature kernel → band explode → ONE bucket groupBy →
    * in-list pair expansion → distinct (da < db). Shared by q25 and
    * the q118 audit so the audited pipeline IS the shipped one —
    * signature is a NARROW per-row kernel (distinct shingles + 16
    * running minima inside one expression): the only shuffles are the
    * tiny bucket groupBy and the pair distinct. */
  private[graft] def minhashCandidatePairs(docs: DataFrame): DataFrame = {
    // spread before the signature kernel (guide §2.5; no-op at scale).
    // The null-signature drop happens AFTER the band explode, on the
    // generated ha attribute (sig null ⇔ ha null — the signature array
    // is containsNull=false): a sig-level filter pushes below the
    // projection and evaluates the whole minhash kernel twice per row
    // (the q25 before-plan), while a generator-output filter cannot
    // move below the kernel.
    val mh = graft.plans.Spread.byKey(docs, col("doc_id"))
      .select(col("doc_id"),
        minhash_signature(col("text"), 3).as("sig"))
    candidatePairsFromBands(explodeBands(mh).filter(col("ha").isNotNull))
  }

  /** The q25 tail over an already-banded frame (doc_id, band, ha, hb)
    * — the entry point for [[DedupIndexes.buildAll]], which feeds the
    * SAME band rows to this and to the [[BandIndex]] write. ONE
    * definition of bucket-collision pair expansion either way. */
  private[graft] def candidatePairsFromBands(bands: DataFrame): DataFrame =
    bands
      .groupBy(col("band"), col("ha"), col("hb"))
      .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
      .filter(size(col("docs")) > 1)
      .select(explode(pairExpand(col("docs"))).as("p"))
      .select(col("p.x").as("da"), col("p.y").as("db"))
      .distinct()

  /** All pairs (x, y) with x before y from a sorted array column —
    * posting-list pair expansion. Replaces a self-join: one groupBy +
    * explode instead of shuffling (and recomputing!) the build subtree
    * twice. `slice` is 1-based; element i (0-based) pairs with the tail
    * starting at i+2. */
  private[graft] def pairExpand(arr: Column): Column =
    flatten(transform(arr, (x, i) =>
      transform(slice(arr, i + lit(2), size(arr)),
        y => struct(x.as("x"), y.as("y")))))

  val queries: Map[String, QuerySpec] = Map(

    // ── token statistics (token counting, BPE-ish subwords) ────────
    "q20_token_stats" -> QuerySpec(
      build = (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        token_count(col("text")).as("n_tokens"),
        subword_count(col("text")).as("n_subwords"),
        mean_token_len(col("text")).as("mean_tok_len"),
        punct_count(col("text")).as("n_punct"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        SELECT doc_id,
               len($duckToks) AS n_tokens,
               CAST(list_sum(list_transform($duckToks,
                 w -> CAST(ceil(length(w)/4.0) AS BIGINT))) AS BIGINT) AS n_subwords,
               floor(list_sum(list_transform($duckToks, w -> length(w))) * 1.0
                 / len($duckToks) * 10000 + 0.5) / 10000 AS mean_tok_len,
               $duckPunct AS n_punct
        FROM documents ORDER BY doc_id"""),
      bench = true),

    // ── language ID heuristic + quality scoring ────────────────────
    "q21_lang_quality" -> QuerySpec(
      // tokenize ONCE per row into `_toks`: CollapseProject keeps the
      // split un-inlined (it's non-cheap + multiply referenced), so the
      // 6 vocab/length scorers share one regex split
      build = (s, d) => Tables.documents(s, d)
        .withColumn("_toks", tokens(col("text")))
        .select(
          col("doc_id"), col("lang"),
          lang_id_t(col("_toks")).as("lang_guess"),
          quality_score_t(col("text"), col("_toks")).as("quality"))
        .orderBy("doc_id"),
      oracle = Some {
        val hits = stopwords.map { case (l, v) => l -> duckVocabHits(v) }
        val best = hits.map(_._2).reduce((a, b) => s"greatest($a, $b)")
        val cases = hits.map { case (l, h) =>
          s"WHEN $h = best AND best > 0 THEN '$l'"
        }.mkString(" ")
        s"""
        SELECT doc_id, lang,
               CASE $cases ELSE 'und' END AS lang_guess,
               $duckQualityExpr AS quality
        FROM (SELECT *, $best AS best FROM documents)
        ORDER BY doc_id"""
      },
      bench = true),

    // ── document fingerprinting + exact dedup ──────────────────────
    "q22_fingerprint" -> QuerySpec(
      build = (s, d) => Tables.documents(s, d).select(
        col("doc_id"),
        doc_fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      oracle = Some("""
        SELECT doc_id,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents ORDER BY doc_id""")),

    "q23_dedup_exact" -> QuerySpec(
      build = (s, d) => {
        val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
        Tables.documents(s, d)
          .select(col("doc_id"), doc_fingerprint(col("text")).as("fp"))
          .withColumn("rn", row_number().over(w))
          .groupBy()
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("rn") === 1, 1).otherwise(0)).as("n_kept"),
            sum(when(col("rn") > 1, 1).otherwise(0)).as("n_dropped"))
      },
      oracle = Some("""
        SELECT count(*) AS n_docs,
               CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM (SELECT ROW_NUMBER() OVER (
                PARTITION BY md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                ORDER BY doc_id) rn
              FROM documents)""")),

    // ── n-gram Jaccard near-dup (inverted shingle index join) ──────
    // Correctness path; the scale path is q25 (LSH avoids the f²
    // posting-list blowup of the naive join). Posting lists are capped
    // at `jaccardDfCap` docs: pair expansion emits f²/2 pairs per list,
    // so one stop-shingle shared by 10⁶ docs would otherwise emit 5×10¹¹
    // pairs from a single task. A shingle that common carries no near-
    // dup signal (its Jaccard contribution is noise), so dropping it is
    // the standard df-cut — the oracle applies the identical cap. At the
    // test SFs the observed max df is 14, so the cap provably changes
    // nothing there while bounding the worst case at corpus scale.
    "q24_jaccard_pairs" -> QuerySpec(
      build = (s, d) =>
        // inverted index: shingle -> sorted posting list of (doc_id, n);
        // pairs sharing >=1 shingle come from per-list pair expansion.
        // The index key is a 60-bit md5 prefix computed inside the
        // per-row shingle_hashes kernel (identical arithmetic in the
        // oracle, so grouping is bit-equal cross-engine): an 8-byte
        // shuffle key, and the shingle strings never leave the row.
        jaccardPairsFromPostings(
          jaccardPostings(jaccardIndexRows(Tables.documents(s, d)))),
      oracle = Some(jaccardPairsOracleSql),
      bench = true),

    // ── q24 served from the materialized posting-list artifact ─────
    // The q99/q108/q113 treatment applied to q24's dominant costs: the
    // df-capped inverted index (corpus-scale explode + ONE skey
    // exchange) AND the pair expansion over it are per-dataset
    // structures, so [[PostingIndex]] pays both once, content-keyed —
    // `postings` for any future Jaccard/containment consumer, `pairs`
    // (the q24 result) for the common one. This query is the pair-set
    // read path: pair-scale parquet, orders of magnitude smaller than
    // the exploded corpus. Same oracle as q24: the read path must
    // reproduce the build path bit-for-bit.
    "q114_jaccard_from_index" -> QuerySpec(
      build = (s, d) => PostingIndex.pairs(s, d).orderBy("da", "db"),
      oracle = Some(jaccardPairsOracleSql),
      bench = true),

    // ── asymmetric containment pairs (sub-document duplication) ────
    // Jaccard (q24) misses the case dedup lit calls CONTAINMENT: a
    // short document living almost entirely inside a long one (quote
    // farms, concatenated dumps) scores low resemblance because the
    // union is dominated by the long side — shared/min(|A|,|B|) is the
    // right statistic (Broder's containment), and it is always >= the
    // Jaccard, so this pass catches engulfed docs q24's 0.3 gate
    // drops. Emits (da, db, shared, inner_doc, containment >= 0.6)
    // with inner_doc = the engulfed side (the one a curation run would
    // drop or merge).
    //
    // Scale shape: the SAME df-capped posting lists as q24, via the
    // content-keyed [[PostingIndex]] artifact — the "any future
    // Jaccard/containment consumer" promise cashed in: the v3 layout
    // materializes the containment pair set NEXT TO the jaccard pairs
    // from one postings build (the expansion measured 7.4 s per
    // invocation at 100× when recomputed; the read path is pair-scale
    // parquet), per-doc set sizes travel inside the packed (doc_id, n)
    // longs so the ratio needs no corpus join.
    "q140_containment_pairs" -> QuerySpec(
      build = (s, d) => PostingIndex.containmentPairs(s, d)
        .orderBy("da", "db"),
      oracle = Some(s"""
        WITH $duckShingles,
        sk0 AS (SELECT doc_id, n,
                       xor(('0x' || substring(md5(s), 1, 15))::BIGINT,
                           ('0x' || substring(md5(lang), 1, 15))::BIGINT)
                         AS skey
                FROM sh),
        sk AS (SELECT * FROM (
                 SELECT *, count(*) OVER (PARTITION BY skey) df FROM sk0)
               WHERE df <= $jaccardDfCap),
        p AS (SELECT a.doc_id da, b.doc_id db, count(*) shared,
                     any_value(a.n) na, any_value(b.n) nb
              FROM sk a JOIN sk b
                ON a.skey = b.skey AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        c AS (SELECT da, db, shared,
                     CASE WHEN na <= nb THEN da ELSE db END AS inner_doc,
                     floor(shared * 1.0 / least(na, nb) * 10000 + 0.5)
                       / 10000 AS containment
              FROM p)
        SELECT da, db, shared, inner_doc, containment
        FROM c WHERE containment >= 0.6 ORDER BY da, db"""),
      bench = true),

    // ── MinHash + LSH banding near-dup (the 100 TB dedup path) ─────
    // 16 min-hash functions from 4 md5s per shingle (each 128-bit md5
    // split into 4 32-bit hex pieces), 8 bands of 2; candidates = LSH
    // bucket collisions via posting-list pair expansion. Linear in
    // corpus size: one narrow pass per shingle (no 16x row explosion),
    // one groupBy(doc) with map-side combine, one groupBy(bucket) —
    // never a self-join, so the sketch subtree is computed once.
    "q25_minhash_lsh" -> QuerySpec(
      build = (s, d) =>
        minhashCandidatePairs(Tables.documents(s, d)).orderBy("da", "db"),
      oracle = Some(
        s"""
        WITH $duckMinhashPairsCtes
        SELECT da, db FROM pairs
        ORDER BY da, db"""),
      bench = true),

    // ── LSH dedup audit: the q25 approximation MEASURED (q117's ────
    // recipe for the text side). Per corpus, how well do the MinHash
    // band collisions (q25) recover the exact-Jaccard >= 0.3 truth set
    // (q24)? One row: truth size, candidate size, intersection,
    // precision, recall — integer counts plus the repo-standard r4
    // ratios, all order-free. An LSH dedup whose recall silently decays
    // (shingle distribution drift, band-width misconfiguration) deletes
    // nothing at 100 TB while reporting success; this is the query a
    // pipeline runs after re-tuning band parameters before trusting
    // them. Truth here is q24's OPERATIONAL policy (lang-keyed,
    // df-capped, >= 0.3) — a cross-language band collision counts
    // against precision because the dedup policy would reject it.
    // Scale: both inputs are the shipped pair pipelines (each linear,
    // never a self-join); the audit join is pair-scale, orders of
    // magnitude below the corpus.
    "q118_lsh_audit" -> QuerySpec(
      build = (s, d) => {
        val docs = Tables.documents(s, d)
        val exact = jaccardPairsFromPostings(
          jaccardPostings(jaccardIndexRows(docs)))
          .select(col("da"), col("db"), lit(1).as("e"))
        val lsh = minhashCandidatePairs(docs)
          .select(col("da"), col("db"), lit(1).as("l"))
        exact.join(lsh, Seq("da", "db"), "full_outer")
          .agg(count(col("e")).as("n_exact"),
            count(col("l")).as("n_lsh"),
            count(when(col("e").isNotNull && col("l").isNotNull, 1))
              .as("n_hit"))
          .select(col("n_exact"), col("n_lsh"), col("n_hit"),
            when(col("n_lsh") > 0, graft.analytics.StableRound.r4(
              col("n_hit").cast("double") / col("n_lsh")))
              .as("precision_lsh"),
            when(col("n_exact") > 0, graft.analytics.StableRound.r4(
              col("n_hit").cast("double") / col("n_exact")))
              .as("recall_lsh"))
      },
      oracle = Some(s"""
        WITH $duckMinhashPairsCtes,
        sk0 AS (SELECT doc_id, n,
                       xor(('0x' || substring(md5(s), 1, 15))::BIGINT,
                           ('0x' || substring(md5(lang), 1, 15))::BIGINT)
                         AS skey
                FROM sh),
        sk AS (SELECT * FROM (
                 SELECT *, count(*) OVER (PARTITION BY skey) df FROM sk0)
               WHERE df <= $jaccardDfCap),
        p AS (SELECT a.doc_id da, b.doc_id db, count(*) shared,
                     any_value(a.n) na, any_value(b.n) nb
              FROM sk a JOIN sk b
                ON a.skey = b.skey AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
        exact AS (SELECT da, db FROM p
                  WHERE floor(shared * 1.0 / (na + nb - shared) * 10000
                          + 0.5) / 10000 >= 0.3),
        c AS (SELECT
                (SELECT count(*) FROM exact) AS n_exact,
                (SELECT count(*) FROM pairs) AS n_lsh,
                (SELECT count(*) FROM exact e JOIN pairs l
                   ON e.da = l.da AND e.db = l.db) AS n_hit)
        SELECT n_exact, n_lsh, n_hit,
               CASE WHEN n_lsh > 0 THEN
                 floor(n_hit * 1.0 / n_lsh * 10000 + 0.5) / 10000
               END AS precision_lsh,
               CASE WHEN n_exact > 0 THEN
                 floor(n_hit * 1.0 / n_exact * 10000 + 0.5) / 10000
               END AS recall_lsh
        FROM c""")),

    // ── duplicate-graph triangle census (cluster cohesion audit) ───
    // The near-dup pair graph's SHAPE matters to dedup policy: a
    // clique of k mutual near-dups is one redundant document family
    // (keep 1, drop k-1 with confidence), while a long CHAIN through
    // pairwise-similar-but-transitively-different docs is exactly
    // where transitive-closure dedup (q82) over-merges. Triangle
    // density separates the two: n_nodes, n_edges, wedges
    // (Σ deg·(deg-1)/2 — integer), triangles, and the global
    // clustering coefficient 3·Δ/wedges (r4). High cc → clusters are
    // clique-like and q82's closure is safe; low cc → chains, tighten
    // the band threshold before deleting anything.
    //
    // Scale shape: edges come from the content-keyed [[PairIndex]]
    // artifact (pair-scale, corpus never touched). Triangle counting
    // uses the degree-ordered ORIENTATION (each undirected edge points
    // from its (deg, id)-smaller endpoint), the classic trick that
    // caps wedge fan-out at O(sqrt(|E|)) per node — a hub of degree D
    // contributes D wedges as a spoke but only its out-degree² as a
    // center — so the wedge join is bounded even when one document
    // family is huge. The closing-edge check is one more hash join of
    // wedge-scale against edge-scale; every aggregate integer. The
    // oracle replays the q25 pipeline and counts triangles by the
    // direct sorted-pair 3-way join (orientation is a Spark-side cost
    // device, not a semantic).
    "q142_dup_triangles" -> QuerySpec(
      build = (s, d) => {
        val pairs = PairIndex.load(s, d)
        val dg = pairs
          .select(explode(array(col("da"), col("db"))).as("v"))
          .groupBy(col("v")).agg(count(lit(1)).as("dg"))
        val ed = pairs
          .join(dg.select(col("v").as("da"), col("dg").as("ga")), "da")
          .join(dg.select(col("v").as("db"), col("dg").as("gb")), "db")
          .select(
            when(col("ga") < col("gb") ||
                 (col("ga") === col("gb") && col("da") < col("db")),
              struct(col("da").as("u"), col("db").as("v"), col("gb").as("gv")))
              .otherwise(
                struct(col("db").as("u"), col("da").as("v"), col("ga").as("gv")))
              .as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v"), col("e.gv").as("gv"))
        val tri = ed.as("x")
          .join(ed.as("y"), col("x.u") === col("y.u") &&
            (col("x.gv") < col("y.gv") ||
             (col("x.gv") === col("y.gv") && col("x.v") < col("y.v"))))
          .select(col("x.v").as("wu"), col("y.v").as("wv"))
          .join(ed.select(col("u").as("wu"), col("v").as("wv")),
            Seq("wu", "wv"), "left_semi")
          .agg(count(lit(1)).as("n_triangles"))
        // dg·(dg-1) is even, so the halving is an exact shift — never
        // the double division Column./ would plan
        val sums = dg.agg(count(lit(1)).as("n_nodes"),
          sum(shiftright(col("dg") * (col("dg") - 1), 1)).cast("long")
            .as("n_wedges"))
        val ne = pairs.agg(count(lit(1)).as("n_edges"))
        // deliberate bounded cross joins: three 1-row aggregates
        sums.crossJoin(ne).crossJoin(tri)
          .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
            col("n_triangles"),
            when(col("n_wedges") === 0, lit(0.0))
              .otherwise(graft.analytics.StableRound.r4(
                col("n_triangles") * 3.0 / col("n_wedges")))
              .as("clustering_coeff"))
      },
      oracle = Some(s"""
        WITH $duckMinhashPairsCtes,
        deg AS (SELECT v, count(*) dg FROM (
                  SELECT da v FROM pairs UNION ALL SELECT db FROM pairs)
                GROUP BY 1),
        tri AS (SELECT count(*) n_triangles
                FROM pairs p1
                JOIN pairs p2 ON p2.da = p1.da AND p2.db > p1.db
                JOIN pairs p3 ON p3.da = p1.db AND p3.db = p2.db),
        agg AS (SELECT
                  (SELECT count(*) FROM deg) n_nodes,
                  (SELECT count(*) FROM pairs) n_edges,
                  (SELECT CAST(sum(dg * (dg - 1) // 2) AS BIGINT) FROM deg)
                    n_wedges,
                  (SELECT n_triangles FROM tri) n_triangles)
        SELECT n_nodes, n_edges, n_wedges, n_triangles,
               CASE WHEN n_wedges = 0 THEN 0.0
                    ELSE floor(n_triangles * 3.0 / n_wedges * 10000 + 0.5)
                         / 10000 END AS clustering_coeff
        FROM agg"""),
      bench = true),

    // ── train/val/test leakage audit (near-dups across the split) ──
    // The q71 hash split assigns DOCUMENTS independently, so a near-
    // duplicate pair can land on both sides — and a test doc whose
    // near-twin sits in train is contamination that inflates eval
    // exactly like benchmark leakage (the Lee et al. 2022 finding:
    // dedup moves test perplexity because test-set near-dups of train
    // docs were scoring as memorized). This is the query a pipeline
    // runs AFTER splitting and BEFORE trusting eval numbers: the q25
    // pair set (from the content-keyed [[PairIndex]] artifact) bucketed
    // by the split pair it straddles — off-diagonal rows (leaking = 1)
    // are the leak census, diagonal rows the in-split dup context.
    // The fix loop it feeds: assign splits by CLUSTER representative
    // (q108's labels) instead of raw doc_id, rerun, off-diagonals
    // drop to zero.
    //
    // Scale shape: pair-scale only — the split of each endpoint is the
    // same pure md5-band function q71 uses (no join back to the
    // corpus), then one ≤6-row groupBy. Nothing corpus-scale moves.
    "q144_split_leakage" -> QuerySpec(
      build = (s, d) => {
        PairIndex.load(s, d)
          .select(splitOf(col("da")).as("_sa"),
            splitOf(col("db")).as("_sb"))
          .select(least(col("_sa"), col("_sb")).as("split_a"),
            greatest(col("_sa"), col("_sb")).as("split_b"))
          .groupBy(col("split_a"), col("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leaking",
            (col("split_a") =!= col("split_b")).cast("int"))
          .orderBy("split_a", "split_b")
      },
      oracle = Some(s"""
        WITH $duckMinhashPairsCtes,
        b AS (SELECT
                ('0x' || substring(md5(da::VARCHAR), 1, 8))::BIGINT % 100 ba,
                ('0x' || substring(md5(db::VARCHAR), 1, 8))::BIGINT % 100 bb
              FROM pairs),
        sp AS (SELECT
                 CASE WHEN ba < 80 THEN 'train'
                      WHEN ba < 90 THEN 'val' ELSE 'test' END sa,
                 CASE WHEN bb < 80 THEN 'train'
                      WHEN bb < 90 THEN 'val' ELSE 'test' END sb
               FROM b),
        g AS (SELECT least(sa, sb) split_a, greatest(sa, sb) split_b,
                     count(*) n_pairs
              FROM sp GROUP BY 1, 2)
        SELECT split_a, split_b, CAST(n_pairs AS BIGINT) AS n_pairs,
               CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS leaking
        FROM g ORDER BY split_a, split_b"""),
      bench = true),

    // ── cluster-aware splitting: q144's leak, FIXED ────────────────
    // The remedy the leakage audit points at: band on the duplicate-
    // cluster REPRESENTATIVE (q108's labels) instead of the raw
    // doc_id, so every member of a dup family lands in the same
    // split. Same census as q144 over the same pair set — but both
    // endpoints of any near-dup pair share a rep BY DEFINITION of the
    // transitive closure, so the matrix collapses to its diagonal:
    // leaking = 0 on every row, proven by the hash-checked output
    // (and the oracle, which recomputes the closure independently via
    // its recursive CTE). Run q144 on a raw split, this on the
    // cluster-aware one; the pair of results is the before/after of
    // the fix.
    //
    // Scale shape: pair-scale joins against the ClusterIndex artifact
    // (labels are pair-scale — singletons are implicit); the band is
    // the same pure md5 function, now of the rep key.
    "q147_cluster_split" -> QuerySpec(
      build = (s, d) => {
        val pairs = PairIndex.load(s, d)
        val labels = ClusterIndex.load(s, d)
          .select(col("doc_id"), col("rep"))
        pairs
          .join(labels.select(col("doc_id").as("da"), col("rep").as("_ra")),
            Seq("da"))
          .join(labels.select(col("doc_id").as("db"), col("rep").as("_rb")),
            Seq("db"))
          .select(splitOf(col("_ra")).as("_sa"),
            splitOf(col("_rb")).as("_sb"))
          .select(least(col("_sa"), col("_sb")).as("split_a"),
            greatest(col("_sa"), col("_sb")).as("split_b"))
          .groupBy(col("split_a"), col("split_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .withColumn("leaking",
            (col("split_a") =!= col("split_b")).cast("int"))
          .orderBy("split_a", "split_b")
      },
      oracle = Some(s"""
        WITH RECURSIVE $duckMinhashPairsCtes,
        $duckClosureCtes,
        pb AS (SELECT
                 ('0x' || substring(md5(la.rep::VARCHAR), 1, 8))::BIGINT
                   % 100 ba,
                 ('0x' || substring(md5(lb.rep::VARCHAR), 1, 8))::BIGINT
                   % 100 bb
               FROM pairs p
               JOIN labels la ON la.doc_id = p.da
               JOIN labels lb ON lb.doc_id = p.db),
        sp AS (SELECT
                 CASE WHEN ba < 80 THEN 'train'
                      WHEN ba < 90 THEN 'val' ELSE 'test' END sa,
                 CASE WHEN bb < 80 THEN 'train'
                      WHEN bb < 90 THEN 'val' ELSE 'test' END sb
               FROM pb),
        g AS (SELECT least(sa, sb) split_a, greatest(sa, sb) split_b,
                     count(*) n_pairs
              FROM sp GROUP BY 1, 2)
        SELECT split_a, split_b, CAST(n_pairs AS BIGINT) AS n_pairs,
               CASE WHEN split_a <> split_b THEN 1 ELSE 0 END AS leaking
        FROM g ORDER BY split_a, split_b"""),
      bench = true),

    // ── quality-aware cluster representatives (keep the BEST dup) ──
    // q82/q108 (and the facade's stage 4) keep the lowest doc_id per
    // duplicate cluster — deterministic, but blind: the survivor may
    // be the mangled OCR copy while a clean one is deleted. This is
    // the selection a curation run should make instead: per cluster,
    // the member with the highest composite quality score (ties to
    // the smaller doc_id), next to the naive representative's quality
    // so the delta — what min-id dedup LOSES — is a hash-checked
    // column, not a hunch.
    //
    // Scale shape: cluster labels from the [[ClusterIndex]] artifact
    // (pair-scale); ONE corpus-scale hash join attaches each labeled
    // doc's narrow quality score; the arg-max rides a struct max in a
    // map-side-combined groupBy — no window, no per-cluster sort. The
    // oracle recomputes the closure (recursive CTE) and the quality
    // formula independently.
    "q153_best_rep" -> QuerySpec(
      build = (s, d) => {
        val labels = ClusterIndex.load(s, d)
          .select(col("doc_id"), col("rep"))
        val scored = Tables.documents(s, d)
          .withColumn("_toks", tokens(col("text")))
          .select(col("doc_id"),
            quality_score_t(col("text"), col("_toks")).as("q"))
        labels.join(scored, "doc_id")
          .groupBy(col("rep"))
          .agg(count(lit(1)).as("n_docs"),
            max(struct(col("q").as("q"), (-col("doc_id")).as("nd")))
              .as("_b"),
            max(when(col("doc_id") === col("rep"), col("q")))
              .as("naive_quality"))
          .select(col("rep").as("cluster_rep"), col("n_docs"),
            (-col("_b.nd")).as("best_doc"),
            col("_b.q").as("best_quality"),
            col("naive_quality"))
          .orderBy("cluster_rep")
      },
      oracle = Some(s"""
        WITH RECURSIVE $duckMinhashPairsCtes,
        $duckClosureCtes,
        ql AS (SELECT doc_id, $duckQualityExpr AS q FROM documents),
        j AS (SELECT l.rep, l.doc_id, ql.q
              FROM labels l JOIN ql USING (doc_id)),
        g AS (SELECT rep, count(*) n_docs,
                max(CASE WHEN doc_id = rep THEN q END) naive_quality
              FROM j GROUP BY 1),
        b AS (SELECT rep, doc_id, q, row_number() OVER (
                PARTITION BY rep ORDER BY q DESC, doc_id ASC) rn
              FROM j)
        SELECT g.rep AS cluster_rep, CAST(g.n_docs AS BIGINT) AS n_docs,
               b.doc_id AS best_doc, b.q AS best_quality,
               g.naive_quality
        FROM g JOIN b ON b.rep = g.rep AND b.rn = 1
        ORDER BY cluster_rep"""),
      bench = true),

    // ── curriculum banding audit (the writer's band math, checked) ─
    // [[TrainOrder.writeCurriculumEpochOf]] orders each shard by
    // (quality band, md5 key) — low → high quality with reproducible
    // intra-band shuffle, the curriculum a staged training run reads.
    // This is its auditable summary: per band, the population and the
    // exact e4 quality range. Bands are integer-exact — band =
    // q_e4·bands div 10000 clamped — so the oracle replays them
    // bit-for-bit, and non-overlapping ranges (max_q of band b below
    // min_q of band b+1) prove the banding is monotone.
    // Scale shape: one narrow quality scan + an 8-row rollup.
    "q160_curriculum_bands" -> QuerySpec(
      build = (s, d) => TrainOrder
        .curriculumOrder(Tables.documents(s, d), epoch = 0, shards = 8,
          bands = 8)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("q_e4")).as("min_q_e4"),
          max(col("q_e4")).as("max_q_e4"))
        .orderBy("band"),
      oracle = Some(s"""
        WITH q AS (SELECT CAST(coalesce(
                            floor($duckQualityExpr * 10000 + 0.5), 0)
                          AS BIGINT) AS q_e4
                   FROM documents),
        b AS (SELECT q_e4,
                least(q_e4 * 8 // 10000, 7) AS band
              FROM q)
        SELECT CAST(band AS BIGINT) AS band, count(*) AS n_docs,
               CAST(min(q_e4) AS BIGINT) AS min_q_e4,
               CAST(max(q_e4) AS BIGINT) AS max_q_e4
        FROM b GROUP BY band ORDER BY band"""),
      bench = true),

    // ── dedup savings forecast (what will cluster dedup delete?) ───
    // The planning scalar beside the q154 threshold sweep: per source,
    // how many documents — and how many characters, the storage/token
    // number a budget owner actually reads — would min-id cluster
    // dedup drop? A droppable doc is any near-dup cluster member that
    // is not its cluster's representative; clusters spanning sources
    // attribute each drop to the DROPPED doc's source, so the report
    // also shows which source is paying for duplication. Run BEFORE
    // dedup: the forecast prices the run.
    //
    // Scale shape: labels come pair-scale from the [[ClusterIndex]]
    // artifact; the corpus contributes one narrow 3-column scan into a
    // left join; the rollup is |sources|-bounded. Nothing corpus-scale
    // shuffles. The label side is deliberately NOT broadcast-hinted:
    // it grows with the corpus's duplicated mass (multi-GB at 100 TB
    // with a few-percent dup fraction), and a forced hint would build
    // and ship it past the broadcast limit while disabling AQE's
    // size-based fallback — AQE broadcasts it when it IS small (every
    // sibling consumer, q153 and the facade, already does this).
    "q158_dedup_savings" -> QuerySpec(
      build = (s, d) => {
        val labels = ClusterIndex.load(s, d)
          .select(col("doc_id"), col("rep"))
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .join(labels, Seq("doc_id"), "left")
          .withColumn("_drop",
            (col("rep").isNotNull && col("rep") =!= col("doc_id"))
              .cast("long"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("rep").isNotNull.cast("long")).as("n_in_clusters"),
            sum(col("_drop")).as("n_droppable"),
            sum(col("_drop") * col("n_chars")).as("chars_droppable"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH RECURSIVE $duckMinhashPairsCtes,
        $duckClosureCtes,
        j AS (SELECT d.source, d.n_chars, l.rep, d.doc_id
              FROM documents d LEFT JOIN labels l USING (doc_id))
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN rep IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_in_clusters,
               CAST(sum(CASE WHEN rep IS NOT NULL AND rep <> doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_droppable,
               CAST(sum(CASE WHEN rep IS NOT NULL AND rep <> doc_id
                             THEN n_chars ELSE 0 END) AS BIGINT)
                 AS chars_droppable
        FROM j GROUP BY source ORDER BY source"""),
      bench = true),

    // ── vocabulary growth curve (Heaps'-law audit) ─────────────────
    // The diversity health check a corpus owner plots before and after
    // curation: cumulative distinct tokens vs cumulative token count
    // across ten deterministic corpus prefixes (doc_id-order deciles).
    // A healthy diverse corpus keeps discovering vocabulary (Heaps'
    // law, V ~ n^β); a curve that flattens early means the tail of the
    // corpus is re-treading the head — boilerplate, templated spam, or
    // upstream dedup failure. All-integer output.
    //
    // Scale shape: cumulative distinct across prefixes is NOT ten
    // passes — each token's FIRST decile comes from one token-scale
    // groupBy (map-side combined), running distinct = prefix sum of
    // new-token counts over the ≤10-row rollup (a bounded window; the
    // q138 denominator discipline). Decile boundaries derive from one
    // bounded max-id scalar.
    "q155_vocab_growth" -> QuerySpec(
      build = (s, d) => {
        import s.implicits._
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        // bounded scalar; coalesced so an empty corpus yields the
        // all-zero 10-row curve instead of an NPE (max(id) is null)
        val mx = docs.agg(coalesce(max(col("doc_id")), lit(0L)))
          .head.getLong(0)
        // INTEGER division (`div`), matching the oracle's `//` exactly
        // — `/` on Columns is double division, and cross-engine
        // equality would then hang on FP rounding never crossing a
        // decile boundary (it does, for large doc_id)
        val dec = expr(s"cast(doc_id * 10 div ${mx + 1} as int)").as("dec")
        // novelty over word-3-SHINGLES (the q24 kernel, 60-bit hashed
        // — the oracle replays the same md5 arithmetic): the shingle
        // space is combinatorial, so the curve discriminates even on
        // corpora whose word vocabulary saturates in the first prefix
        val shs = docs.select(dec,
          explode(shingle_hashes(col("text"), 3)).as("h"))
        val fresh = shs.groupBy(col("h")).agg(min(col("dec")).as("dec"))
          .groupBy(col("dec")).agg(count(lit(1)).as("_new"))
        val tot = docs
          .select(dec, explode(tokens(col("text"))).as("t"))
          .groupBy(col("dec")).agg(count(lit(1)).as("_n"))
        val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        (0 until 10).toDF("decile")
          .join(fresh.withColumnRenamed("dec", "decile"), Seq("decile"), "left")
          .join(tot.withColumnRenamed("dec", "decile"), Seq("decile"), "left")
          // the window runs over exactly 10 rows — bounded by construction
          .select(col("decile"),
            sum(coalesce(col("_n"), lit(0L))).over(w).as("cum_tokens"),
            sum(coalesce(col("_new"), lit(0L))).over(w)
              .as("cum_distinct_shingles"))
          .orderBy("decile")
      },
      oracle = Some(s"""
        WITH docs AS (SELECT * FROM documents WHERE text IS NOT NULL),
        mx AS (SELECT max(doc_id) + 1 AS m FROM docs),
        $duckShingles,
        hs AS (SELECT CAST(sh.doc_id * 10 // (SELECT m FROM mx) AS INT)
                        AS dec,
                      ('0x' || substring(md5(sh.s), 1, 15))::BIGINT AS h
               FROM sh JOIN docs ON docs.doc_id = sh.doc_id),
        tk AS (SELECT CAST(doc_id * 10 // (SELECT m FROM mx) AS INT) AS dec,
                      unnest($duckToks) AS t
               FROM docs),
        fr AS (SELECT dec, count(*) AS nw FROM (
                 SELECT h, min(dec) AS dec FROM hs GROUP BY 1)
               GROUP BY 1),
        tt AS (SELECT dec, count(*) AS n FROM tk GROUP BY 1),
        ds AS (SELECT unnest(generate_series(0, 9)) AS decile)
        SELECT ds.decile,
               CAST(sum(coalesce(tt.n, 0)) OVER (ORDER BY ds.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_tokens,
               CAST(sum(coalesce(fr.nw, 0)) OVER (ORDER BY ds.decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_distinct_shingles
        FROM ds LEFT JOIN fr ON fr.dec = ds.decile
                LEFT JOIN tt ON tt.dec = ds.decile
        ORDER BY ds.decile"""),
      bench = true),

    // ── dedup-threshold sweep (pick the Jaccard cutoff from data) ──
    // The tuning report a dedup owner reads BEFORE committing a
    // threshold: for each candidate cutoff t ∈ {30..90}%, how many
    // pairs survive and how many documents are touched? The cliff in
    // these curves is where near-dup structure ends and noise begins —
    // choosing t by eyeballing a handful of pairs is how a 100 TB
    // dedup silently deletes 30% of a corpus. Sweeps the EXACT q24
    // pair set (r4 Jaccard values both engines hash-match), so the
    // report inherits q24's oracle proof.
    //
    // Scale shape: reads the pair artifact ([[PostingIndex.pairs]] —
    // pair-scale parquet, zero corpus work), expands ×7 thresholds,
    // and the doc counts ride a (t, doc)-distinct — everything
    // pair-scale. The t×100 integer comparison is the same IEEE
    // double multiply in both engines.
    "q154_threshold_sweep" -> QuerySpec(
      build = (s, d) => {
        val ths = Array(30, 40, 50, 60, 70, 80, 90)
        val m = PostingIndex.pairs(s, d)
          .select(col("da"), col("db"), col("jaccard"),
            explode(typedlit(ths)).as("t_pct"))
          .filter(col("jaccard") * 100 >= col("t_pct"))
        val np = m.groupBy(col("t_pct"))
          .agg(count(lit(1)).as("_np"))
        val nd = m.select(col("t_pct"),
            explode(array(col("da"), col("db"))).as("doc")).distinct()
          .groupBy(col("t_pct")).agg(count(lit(1)).as("_nd"))
        import s.implicits._
        // every candidate threshold appears even when nothing survives
        // it (a 0-pairs row is the answer "safe to cut here")
        ths.toSeq.toDF("t_pct")
          .join(np, Seq("t_pct"), "left")
          .join(nd, Seq("t_pct"), "left")
          .select(col("t_pct"),
            coalesce(col("_np"), lit(0L)).as("n_pairs"),
            coalesce(col("_nd"), lit(0L)).as("n_docs"))
          .orderBy("t_pct")
      },
      oracle = Some(s"""
        WITH $duckJaccardPairCtes,
        ths AS (SELECT unnest([30, 40, 50, 60, 70, 80, 90]) AS t_pct),
        m AS (SELECT t.t_pct, j.da, j.db FROM ths t
              JOIN jp j ON j.jaccard * 100 >= t.t_pct),
        np AS (SELECT t_pct, count(*) n_pairs FROM m GROUP BY 1),
        nd AS (SELECT t_pct, count(*) n_docs FROM (
                 SELECT DISTINCT t_pct, doc FROM (
                   SELECT t_pct, da AS doc FROM m
                   UNION ALL SELECT t_pct, db FROM m))
               GROUP BY 1)
        SELECT ths.t_pct,
               CAST(coalesce(np.n_pairs, 0) AS BIGINT) AS n_pairs,
               CAST(coalesce(nd.n_docs, 0) AS BIGINT) AS n_docs
        FROM ths LEFT JOIN np USING (t_pct) LEFT JOIN nd USING (t_pct)
        ORDER BY t_pct"""),
      bench = true),

    // ── incremental near-dup: probe a NEW batch against the corpus ──
    // band index (q119). The operational shape dedup actually runs in
    // at 100 TB: the corpus is already sketched (its band signatures
    // live in the [[BandIndex]] artifact, banding-scale — 8 rows/doc),
    // and an arriving ingest batch must be checked against it WITHOUT
    // re-sketching or re-shuffling the corpus. The batch (here the
    // deterministic doc_id % 8 == 0 slice, ~12.5% — an ingest-sized
    // bite) computes its signatures in one narrow scan, then its bands
    // BROADCAST into a hash join against a single filtered scan of the
    // index — zero corpus-side exchange; the only shuffle is the
    // pair-scale distinct. Cost per batch = batch sketching + one
    // index scan, independent of how the corpus got to 100 TB. Output
    // is (new_doc, corpus_doc) candidates — same band semantics as
    // q25, so a batch-vs-corpus hit is exactly a q25 pair that
    // straddles the split (the spec asserts that identity).
    // r13: the read side is THE partitioned band store
    // ([[BandIndex.loadPartitioned]] — one band-store layout for
    // every batch probe; q119 had kept the flat r11 scan while q168
    // proved the pruned path). This batch is ingest-sized (~12.5%),
    // so its bucket set often covers most of the store and the prune
    // degenerates gracefully toward the full scan it replaced —
    // q168's 1.6% batch is where the pruning bites; both run the SAME
    // store and probe shape now. The bucket count comes from
    // [[BandIndex.scaledBuckets]] (one bucket ≈ one IO unit): a FIXED
    // 1024 was measured at 3.3 s vs the flat scan's 0.4 s at sf0.1 —
    // all of it per-file footer/listing overhead on a 40 k-row store
    // split 1024 ways.
    "q119_incremental_neardup" -> QuerySpec(
      build = (s, d) => {
        val buckets = BandIndex.scaledBuckets(s, d)
        val batch = Tables.documents(s, d)
          .filter(col("doc_id") % 8 === 0)
          .select(col("doc_id"),
            minhash_signature(col("text"), 3).as("sig"))
          .filter(col("sig").isNotNull)
        // batch-scale probe frame, scoped-cached: the bucket collect
        // below warms it, the join's broadcast build reuses it — the
        // batch is sketched ONCE (the q98 builder-collect idiom)
        graft.ScopedCache.withScopedCache(explodeBands(batch)
          .withColumnRenamed("doc_id", "new_doc")
          .withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))) {
          probes =>
            // bounded collect: ≤ min(8·|batch|, buckets) bucket ids
            val hit = probes.select(col("_bb")).distinct().collect()
              .map(_.get(0))
            // partitioned-store scan, batch slice filtered out at the
            // read (pushed to parquet) — "the index the corpus built
            // last week"
            val corpus = BandIndex.loadPartitioned(s, d, buckets)
              .filter(col("_bb").isin(hit: _*))
              .filter(col("doc_id") % 8 =!= 0)
            corpus.join(broadcast(probes.drop("_bb")),
                Seq("band", "ha", "hb"))
              .select(col("new_doc"), col("doc_id").as("corpus_doc"))
              .distinct()
              .orderBy("new_doc", "corpus_doc")
        }
      },
      oracle = Some(s"""
        WITH $duckMinhashPairsCtes
        SELECT DISTINCT b.doc_id AS new_doc, a.doc_id AS corpus_doc
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.ha = b.ha AND a.hb = b.hb
        WHERE b.doc_id % 8 = 0 AND a.doc_id % 8 <> 0
        ORDER BY new_doc, corpus_doc"""),
      bench = true),

    // ── incremental probe from the PARTITIONED band store (r12) ────
    // q119 with the flat index scan replaced by the flat-COST read:
    // the corpus bands live in [[BandIndex.loadPartitioned]] (rows
    // carry `_bb = pmod(ha, buckets)` as a parquet partition; bucket
    // count by [[BandIndex.scaledBuckets]] — one bucket ≈ one IO
    // unit), the batch here is an ingest-sized bite (doc_id % 64 —
    // ~1.6%), and its ≤ min(8·|batch|, buckets)-bucket set is pushed
    // as a partition filter, so the index read is bounded by the
    // BATCH's bucket set at file-listing time — the per-batch cost
    // that stays flat while the corpus grows 1000× (measured: SURVEY
    // §8 round-12 table; `tools/IncrementalBench`). The oracle is
    // q119's replay over the smaller batch: pruning is row-invisible
    // by construction (a matching row shares `ha`, hence its bucket),
    // so a hash match here proves the pruned read = the full scan on
    // the real corpus, not just on fixtures.
    // Scale shape: batch-scale sketch + bounded driver bucket collect
    // + touched-partition scan + pair-scale distinct.
    "q168_incremental_pruned" -> QuerySpec(
      build = (s, d) => {
        val buckets = BandIndex.scaledBuckets(s, d)
        val batch = Tables.documents(s, d)
          .filter(col("doc_id") % 64 === 0)
          .select(col("doc_id"),
            minhash_signature(col("text"), 3).as("sig"))
          .filter(col("sig").isNotNull)
        // batch sketched ONCE: the bucket collect warms the scoped
        // cache, the join's broadcast build reuses it (q119's shape)
        graft.ScopedCache.withScopedCache(explodeBands(batch)
          .withColumnRenamed("doc_id", "new_doc")
          .withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))) {
          probes =>
            // bounded collect: ≤ min(8·|batch|, buckets) bucket ids
            val hit = probes.select(col("_bb")).distinct().collect()
              .map(_.get(0))
            val corpus = BandIndex.loadPartitioned(s, d, buckets)
              .filter(col("_bb").isin(hit: _*))
              .filter(col("doc_id") % 64 =!= 0)
            corpus.join(broadcast(probes.drop("_bb")),
                Seq("band", "ha", "hb"))
              .select(col("new_doc"), col("doc_id").as("corpus_doc"))
              .distinct()
              .orderBy("new_doc", "corpus_doc")
        }
      },
      oracle = Some(s"""
        WITH $duckMinhashPairsCtes
        SELECT DISTINCT b.doc_id AS new_doc, a.doc_id AS corpus_doc
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.ha = b.ha AND a.hb = b.hb
        WHERE b.doc_id % 64 = 0 AND a.doc_id % 64 <> 0
        ORDER BY new_doc, corpus_doc"""),
      bench = true),

    // ── incremental index maintenance (fold a batch INTO the index) ─
    // The write half of q119: the corpus's band/pair/label structures
    // exist (built when the corpus did); an accepted ingest batch must
    // UPDATE them so tomorrow's batch probes today's corpus — without
    // re-sketching the corpus or re-converging its untouched clusters.
    // [[IncrementalDedup]] computes the batch's new pairs (q119's
    // broadcast probe + batch-internal expansion) and re-converges
    // ONLY the touched components (label semi-join pulls their pair
    // mass); untouched labels pass through verbatim. The query splits
    // the corpus deterministically (top ~20% of doc ids = "the
    // batch"), runs the incremental path, and reports the cluster-size
    // census of the UPDATED labels — while the oracle computes the
    // census of the FROM-SCRATCH closure over the whole corpus, so a
    // hash match proves incremental == rebuild exactly (including
    // batch docs that BRIDGE two old clusters into one).
    // Scale shape: batch-scale sketch, one base-band scan with the
    // batch broadcast, affected-component-scale re-convergence.
    // Deliberately NOT benched in graft.Bench: ~90% of the query's
    // wall time is constructing the "yesterday" state (base bands +
    // pairs + a full label convergence) that a production store
    // already has on disk — benching the demo setup would report the
    // cost the operator exists to avoid. The correctness gate still
    // runs it at every SF. The per-batch costs ARE measured where
    // they belong: `tools/IncrementalBench` times probe + fold alone
    // against pre-built artifacts scaled 1×..1000× (SURVEY §8
    // round-12 table) — with the partitioned band store
    // ([[BandIndex.loadPartitioned]] + [[IncrementalDedup
    // .newPairsPruned]]) a 100-doc batch costs ~the same against a
    // 1000× corpus as against 1×.
    // ── retrieval chunking audit (r15) ──────────────────────────────
    // The RAG-side counterpart of q79's training packer: documents
    // split into fixed-width token windows (W=32) with stride S=24
    // (overlap W−S=8 preserves cross-boundary context). The chunker is
    // ALL in-row arithmetic — starts are the multiples of S where the
    // previous window has not already reached the end (no tail chunk
    // fully inside its predecessor, no token uncovered), so the plan is
    // one narrow projection + one source-grain rollup; nothing
    // token-scale ever shuffles. The audit aggregates what a chunk
    // store costs: chunk counts, the overlap tax in token mass (e4),
    // and a COVERAGE PROOF — fully_covered must equal n_docs, and the
    // oracle recomputes the same boundary math, so the hash match pins
    // the chunker's edge cases (short docs, exact-multiple lengths,
    // tails) cross-engine.
    "q192_chunking_audit" -> QuerySpec(
      build = (s, d) => {
        val W = 32; val S = 24
        Tables.documents(s, d).filter(col("text").isNotNull)
          .select(col("doc_id"), col("source"),
            TextFunctions.tokens(col("text")).as("toks"))
          .withColumn("len", size(col("toks")))
          .filter(col("len") > 0)
          .withColumn("starts", expr(
            s"""filter(sequence(0, len - 1, $S),
                  p -> p = 0 OR p + ${W - S} < len)"""))
          .withColumn("n_chunks", size(col("starts")))
          .withColumn("ct", expr(
            s"aggregate(transform(starts, p -> least($W, len - p)), " +
              "0L, (a, x) -> a + x)"))
          .withColumn("covered", expr(
            s"element_at(starts, -1) + least($W, len - element_at(starts, -1))"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chunks")).as("n_chunks"),
            sum(col("len")).as("doc_tokens"),
            sum(col("ct")).as("chunk_tokens"),
            sum(when(col("covered") === col("len"), 1L).otherwise(0L))
              .as("fully_covered"))
          .withColumn("overlap_e4",
            expr("(chunk_tokens - doc_tokens) * 10000 div doc_tokens"))
          .orderBy("source")
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, source, $duckToks AS toks
                   FROM documents WHERE text IS NOT NULL),
        d AS (SELECT doc_id, source, len(toks) AS l FROM t
              WHERE len(toks) > 0),
        st AS (SELECT doc_id, source, l,
                      unnest([p FOR p IN range(0, l, 24)
                              IF p = 0 OR p + 8 < l]) AS p
               FROM d),
        per AS (SELECT doc_id, source, l, count(*) AS n_chunks,
                       sum(least(32, l - p)) AS ct,
                       max(p + least(32, l - p)) AS covered
                FROM st GROUP BY 1, 2, 3)
        SELECT source, count(*) AS n_docs,
               CAST(sum(n_chunks) AS BIGINT) AS n_chunks,
               CAST(sum(l) AS BIGINT) AS doc_tokens,
               CAST(sum(ct) AS BIGINT) AS chunk_tokens,
               CAST(sum(CASE WHEN covered = l THEN 1 ELSE 0 END) AS BIGINT)
                 AS fully_covered,
               CAST((sum(ct) - sum(l)) * 10000 // sum(l) AS BIGINT)
                 AS overlap_e4
        FROM per GROUP BY source ORDER BY source"""),
      bench = true),

    "q165_incremental_index" -> QuerySpec(
      build = (s, d) => {
        val docs = Tables.documents(s, d)
        val mx = docs.agg(coalesce(max(col("doc_id")), lit(0L)))
          .head.getLong(0) // bounded scalar (the q155 guard)
        val isBatch = expr(s"doc_id * 5 div ${mx + 1}") === 4
        def bandsOf(df: DataFrame) = explodeBands(
          df.select(col("doc_id"),
            minhash_signature(col("text"), 3).as("sig"))
            .filter(col("sig").isNotNull))
        val baseBands = bandsOf(docs.filter(!isBatch))
        val batchBands = bandsOf(docs.filter(isBatch))
        val basePairs = candidatePairsFromBands(baseBands)
        val np = IncrementalDedup.newPairs(baseBands, batchBands)
        CurationQueries.withDupClusterLabels(s, basePairs) { old =>
          IncrementalDedup.updatedLabels(s, basePairs, old, np) { upd =>
            upd.groupBy(col("rep")).agg(count(lit(1)).as("cs"))
              .groupBy(col("cs"))
              .agg(count(lit(1)).as("n_clusters"),
                sum(col("cs")).as("n_docs"))
              .withColumnRenamed("cs", "cluster_size")
              .orderBy("cluster_size")
          }
        }
      },
      oracle = Some(s"""
        WITH RECURSIVE $duckMinhashPairsCtes,
        $duckClosureCtes,
        cs AS (SELECT rep, count(*) n FROM labels GROUP BY 1)
        SELECT CAST(n AS BIGINT) AS cluster_size,
               count(*) AS n_clusters,
               CAST(sum(n) AS BIGINT) AS n_docs
        FROM cs GROUP BY 1 ORDER BY 1""")),

    // ── winnowing fingerprints (rolling-hash, local-edit-robust) ───
    // The oracle recomputes the k-gram polynomial hash + window minima
    // with independent SQL arithmetic (base 31, mod 1e9+7, k=5, w=4).
    "q51_winnowing" -> QuerySpec(
      build = (s, d) => Tables.documents(s, d)
        .select(col("doc_id"),
          winnow_fingerprints(col("text"), 5, 4).as("fps"))
        .filter(size(col("fps")) > 0)
        .select(col("doc_id"), size(col("fps")).as("n_fp"),
          array_min(col("fps")).as("min_fp"), array_max(col("fps")).as("max_fp"))
        .orderBy("doc_id"),
      oracle = Some("""
        WITH d AS (SELECT doc_id,
                     lower(regexp_replace(trim(text), '\s+', ' ', 'g')) t
                   FROM documents),
        dd AS (SELECT doc_id, t, length(t) AS n FROM d WHERE length(t) >= 8),
        idx AS (SELECT doc_id, t, n,
                  unnest(generate_series(1, CAST(n - 4 AS BIGINT))) AS i
                FROM dd),
        h AS (SELECT doc_id, n, i,
                (unicode(substring(t, CAST(i AS INT), 1)) * 923521
                 + unicode(substring(t, CAST(i + 1 AS INT), 1)) * 29791
                 + unicode(substring(t, CAST(i + 2 AS INT), 1)) * 961
                 + unicode(substring(t, CAST(i + 3 AS INT), 1)) * 31
                 + unicode(substring(t, CAST(i + 4 AS INT), 1))) % 1000000007
                  AS hv
              FROM idx),
        w AS (SELECT a.doc_id, a.i, min(b.hv) AS fp
              FROM h a JOIN h b ON b.doc_id = a.doc_id
                AND b.i BETWEEN a.i AND a.i + 3
              WHERE a.i <= a.n - 7
              GROUP BY a.doc_id, a.i)
        SELECT doc_id, CAST(count(DISTINCT fp) AS INT) AS n_fp,
               min(fp) AS min_fp, max(fp) AS max_fp
        FROM w GROUP BY doc_id ORDER BY doc_id""")),

    // ── BPE-ish regex pre-tokenizer (GPT-2 style word/number/punct) ─
    "q52_regex_tokens" -> QuerySpec(
      build = (s, d) => {
        val pat = " ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"
        Tables.documents(s, d).select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(pat), lit(0)))
            .as("n_pieces"),
          token_count(col("text")).as("n_ws_tokens"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                 ' ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
                 AS INT) AS n_pieces,
               len($duckToks) AS n_ws_tokens
        FROM documents ORDER BY doc_id""")),

    // ── vocabulary statistics: document frequency + term frequency ─
    // The vocab-building pass of a training-data pipeline: explode →
    // one groupBy(token) with map-side partial agg → global top-k via
    // TakeOrderedAndProject (orderBy+limit never sorts the full
    // token stream). df = distinct docs containing the token.
    "q69_vocab_df" -> QuerySpec(
      build = (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .groupBy(col("t"))
        .agg(countDistinct(col("doc_id")).as("df"),
          count(lit(1)).as("tf"))
        .orderBy(col("df").desc, col("tf").desc, col("t"))
        .limit(20),
      oracle = Some(s"""
        SELECT t, count(DISTINCT doc_id) AS df, count(*) AS tf
        FROM (SELECT doc_id, unnest($duckToks) AS t FROM documents)
        GROUP BY t
        ORDER BY df DESC, tf DESC, t
        LIMIT 20""")),

    // ── custom Generator (UDTF): explode_shingles as LATERAL VIEW ──
    // The table-function leg of the custom-function triad (expressions
    // = UDF, TopKRowsAgg/GeoMean = UDAF, this = UDTF): a native
    // Catalyst Generator planned through GenerateExec, called from SQL
    // exactly like explode. Streams one (pos, shingle) row per k-gram
    // with no per-row intermediate array.
    "q74_generator_shingles" -> QuerySpec(
      build = (s, d) => {
        Tables.documents(s, d).filter(col("doc_id") < 3)
          .createOrReplaceTempView("docs_gen_v")
        s.sql("""
          SELECT doc_id, s.pos, s.shingle
          FROM docs_gen_v
          LATERAL VIEW explode_shingles(ws_tokenize(text), 3) s AS pos, shingle
          ORDER BY doc_id, pos""")
      },
      oracle = Some("""
        WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') toks
                   FROM documents WHERE doc_id < 3)
        SELECT doc_id, CAST(i - 1 AS INT) AS pos,
               toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
        FROM (SELECT doc_id, toks,
                unnest(generate_series(1, greatest(len(toks) - 2, 0))) i
              FROM t)
        ORDER BY doc_id, pos""")),

    // ── the cleaning funnel, end to end ────────────────────────────
    // The composition a real training-data pipeline runs, as ONE
    // declarative plan: quality floor → exact-fingerprint dedup among
    // survivors → MinHash-LSH near-dup removal among those (drop the
    // higher doc_id of each candidate pair). Per-language counts at
    // every stage. Each stage reuses the already-oracle-checked pieces
    // (q21 quality, q22 fingerprint, q25 LSH), so the oracle replays
    // the identical math; the funnel itself stays linear — the only
    // non-narrow steps are the fp window and the LSH bucket groupBy.
    "q73_clean_funnel" -> QuerySpec(
      build = (s, d) => {
        val qmin = 0.55
        // spread before the kernels (guide §2.5; no-op at scale). A
        // scoped cache of the staged kernel columns was tried and
        // REVERTED (r20): it forces one UNPRUNED pass — the minhash
        // signature computed for every doc although only the final
        // near-dup branch reads it — where the union branches' column
        // pruning keeps each pass at exactly the kernels its stage
        // needs (bench: the cached variant measured ~1.2× net).
        val staged = Tables.documents(s, d)
          .withColumn("_toks", tokens(col("text")))
          .select(col("doc_id"), col("lang"),
            quality_score_t(col("text"), col("_toks")).as("q"),
            doc_fingerprint(col("text")).as("fp"),
            minhash_signature(col("text"), 3).as("sig"))
        val qual = staged.filter(col("q") >= qmin)
        val exact = qual
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
          .filter(col("rn") === 1)
        val bands = explodeBands(exact.filter(col("sig").isNotNull))
        val removal = bands
          .groupBy(col("band"), col("ha"), col("hb"))
          .agg(array_sort(collect_list(col("doc_id"))).as("docs"))
          .filter(size(col("docs")) > 1)
          .select(explode(pairExpand(col("docs"))).as("p"))
          .select(col("p.y").as("doc_id")).distinct()
        val fin = exact.join(removal, Seq("doc_id"), "left_anti")

        // one row per (stage, lang) via UNION, not per-lang left joins:
        // a left-join shape lets count()-style consumers prune the
        // entire funnel (row count = raw side's); with the union every
        // branch's row count depends on its own stage actually running
        def cnt(df: DataFrame, stage: Int, name: String) =
          df.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
            .select(lit(stage).as("stage"), lit(name).as("stage_name"),
              col("lang"), col("n_docs"))
        cnt(Tables.documents(s, d), 1, "raw")
          .unionByName(cnt(qual, 2, "quality"))
          .unionByName(cnt(exact, 3, "exact_dedup"))
          .unionByName(cnt(fin, 4, "near_dedup"))
          .orderBy("stage", "lang")
      },
      oracle = Some {
        val quality = duckQualityExpr
        val minCols = (0 until 16).map(i =>
          s"min(('0x' || substring(m${i / 4}, ${(i % 4) * 8 + 1}, 8))::BIGINT) h$i")
          .mkString(", ")
        val bandSelects = (0 until 8).map(bn =>
          s"SELECT doc_id, $bn band, h${2 * bn} ha, h${2 * bn + 1} hb FROM mh")
          .mkString(" UNION ALL ")
        s"""
        WITH q0 AS (
          SELECT doc_id, lang, text, $quality AS q,
                 md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
          FROM documents),
        qual AS (SELECT * FROM q0 WHERE q >= 0.55),
        exact AS (SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) rn
            FROM qual) WHERE rn = 1),
        t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') toks
              FROM exact),
        sh AS (SELECT doc_id, unnest(dsh) s FROM (
          SELECT doc_id, list_distinct(list_transform(
            generate_series(1, greatest(len(toks)-2, 0)),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) dsh
          FROM t)),
        h AS (SELECT doc_id, md5('0|' || s) m0, md5('1|' || s) m1,
                     md5('2|' || s) m2, md5('3|' || s) m3 FROM sh),
        mh AS (SELECT doc_id, $minCols FROM h GROUP BY doc_id),
        bands AS ($bandSelects),
        removal AS (
          SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
            ON a.band = b.band AND a.ha = b.ha AND a.hb = b.hb
               AND a.doc_id < b.doc_id),
        fin AS (SELECT * FROM exact
                WHERE doc_id NOT IN (SELECT doc_id FROM removal))
        SELECT stage, stage_name, lang, CAST(n_docs AS BIGINT) AS n_docs
        FROM (
          SELECT 1 stage, 'raw' stage_name, lang, count(*) n_docs
          FROM documents GROUP BY 3
          UNION ALL
          SELECT 2, 'quality', lang, count(*) FROM qual GROUP BY 3
          UNION ALL
          SELECT 3, 'exact_dedup', lang, count(*) FROM exact GROUP BY 3
          UNION ALL
          SELECT 4, 'near_dedup', lang, count(*) FROM fin GROUP BY 3)
        ORDER BY stage, lang"""
      },
      bench = true),

    // ── stratified mixture sampling (dataset mixing) ───────────────
    // Composing a training mix: each source stratum keeps a different
    // deterministic fraction (hash-banded per doc_id like q71, so the
    // mix is reproducible across engines, reshards, and reruns).
    // Reports kept/total docs and kept character mass per source —
    // the numbers a mixture designer actually balances.
    "q75_mixture_sample" -> QuerySpec(
      build = (s, d) => {
        val h = hashBand100
        val rate = when(col("source").isin("src0", "src1", "src2", "src3",
            "src4"), lit(100))
          .when(col("source").isin("src5", "src6", "src7", "src8", "src9"),
            lit(70))
          .when(col("source").isin("src10", "src11", "src12", "src13",
            "src14"), lit(40))
          .otherwise(lit(20))
        Tables.documents(s, d)
          .withColumn("kept", (h < rate).cast("int"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("kept")).cast("long").as("n_kept"),
            sum(when(col("kept") === 1, col("n_chars"))
              .otherwise(0L)).as("kept_chars"))
          .orderBy("source")
      },
      oracle = Some(s"""
        SELECT source, count(*) AS n_docs,
               CAST(sum(kept) AS BIGINT) AS n_kept,
               CAST(sum(CASE WHEN kept = 1 THEN n_chars ELSE 0 END)
                 AS BIGINT) AS kept_chars
        FROM (SELECT source, n_chars,
                CASE WHEN $duckHashBand <
                     (CASE WHEN source IN ('src0','src1','src2','src3','src4')
                             THEN 100
                           WHEN source IN ('src5','src6','src7','src8','src9')
                             THEN 70
                           WHEN source IN ('src10','src11','src12','src13','src14')
                             THEN 40
                           ELSE 20 END)
                     THEN 1 ELSE 0 END AS kept
              FROM documents)
        GROUP BY source ORDER BY source""")),

    // ── repetition metrics (Gopher-style quality filters) ──────────
    // Training-data quality signals: fraction of tokens that are
    // distinct, and the share of bigram occurrences taken by the most
    // frequent bigram — high top-bigram share flags boilerplate/spam.
    // Shape: one narrow pass for the per-doc ratios + one explode →
    // two-level groupBy (partial-agg both levels) for the bigram mode.
    "q72_repetition" -> QuerySpec(
      build = (s, d) => {
        // null-text docs drop on BOTH engines (legacy size(null) = -1
        // would emit (-1, -1, 1.0) here where the oracle emits NULLs —
        // same cross-engine divergence class q26 filters against)
        val docs = Tables.documents(s, d).filter(col("text").isNotNull)
        val base = docs
          .select(col("doc_id"), tokens(col("text")).as("toks"))
          .select(col("doc_id"), size(col("toks")).as("n_tok"),
            size(array_distinct(col("toks"))).as("n_uniq"))
        val bg = docs
          .select(col("doc_id"), explode(shingles(col("text"), 2)).as("bg"))
          .groupBy(col("doc_id"), col("bg"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("doc_id"))
          .agg(max(col("c")).as("max_bg"), sum(col("c")).as("n_bg"))
        base.join(bg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_tok"),
            graft.analytics.StableRound.r4(
              col("n_uniq") / col("n_tok")).as("uniq_ratio"),
            graft.analytics.StableRound.r4(coalesce(
              col("max_bg") / col("n_bg"), lit(0.0))).as("top_bigram_frac"))
          .orderBy("doc_id")
      },
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, $duckToks AS toks FROM documents
                   WHERE text IS NOT NULL),
        b AS (SELECT doc_id, len(toks) n_tok,
                     len(list_distinct(toks)) n_uniq FROM t),
        bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
               FROM (SELECT doc_id, toks,
                       unnest(generate_series(1, len(toks) - 1)) i
                     FROM t)),
        bgc AS (SELECT doc_id, bg, count(*) c FROM bg GROUP BY 1, 2),
        bga AS (SELECT doc_id, max(c) max_bg,
                       CAST(sum(c) AS BIGINT) n_bg FROM bgc GROUP BY 1)
        SELECT b.doc_id AS doc_id, n_tok,
               floor(n_uniq * 1.0 / n_tok * 10000 + 0.5) / 10000 AS uniq_ratio,
               floor(coalesce(max_bg * 1.0 / n_bg, 0) * 10000 + 0.5) / 10000
                 AS top_bigram_frac
        FROM b LEFT JOIN bga ON b.doc_id = bga.doc_id
        ORDER BY b.doc_id""")),

    // ── deterministic hash split (reproducible train/val/test) ─────
    // Sampling for dataset splits must be a PURE FUNCTION of the key —
    // rand() resamples per run/engine and can't be oracle-checked or
    // reproduced across reshards. Split = md5(doc_id) mod 100 banded
    // 80/10/10: any engine, any partitioning, any day produces the
    // same assignment. Narrow per-row math + one partial-agg groupBy.
    "q71_hash_split" -> QuerySpec(
      build = (s, d) => {
        Tables.documents(s, d)
          .withColumn("split", splitOf(col("doc_id")))
          .groupBy(col("lang"), col("split"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("n_chars"))
          .orderBy("lang", "split")
      },
      oracle = Some(s"""
        SELECT lang,
               CASE WHEN h < 80 THEN 'train'
                    WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS n_chars
        FROM (SELECT lang, n_chars, $duckHashBand AS h
              FROM documents)
        GROUP BY 1, 2 ORDER BY lang, split""")),

    // ── SimHash (16-bit, md5-derived) per document ─────────────────
    // One narrow kernel call per row ([[TextKernels.simhash16]]): the
    // former explode(doc × distinct-token × 16 bits) + two groupBys
    // pushed 16× the corpus rows through two shuffles for the same
    // answer (TextKernelsSpec pins kernel == explode formulation).
    "q26_simhash" -> QuerySpec(
      // null-text docs drop (the explode formulation and the oracle's
      // unnest both emit no row for them; the kernel would null-propagate
      // and keep the row — a cross-engine divergence without the filter)
      build = (s, d) => Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"), simhash(col("text")).as("simhash"))
        .orderBy("doc_id"),
      oracle = Some("""
        WITH tok AS (
          SELECT doc_id, md5(unnest(list_distinct(
            string_split_regex(trim(text), '\s+')))) h
          FROM documents),
        tb AS (
          SELECT doc_id, b,
            ((strpos('0123456789abcdef', substring(h, b // 4 + 1, 1)) - 1)
              >> (b % 4)) % 2 AS bit
          FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) b) bits),
        bitsum AS (
          SELECT doc_id, b, sum(bit * 2 - 1) v FROM tb GROUP BY doc_id, b)
        SELECT doc_id,
               CAST(sum(CASE WHEN v > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash
        FROM bitsum GROUP BY doc_id ORDER BY doc_id""")),

    // ── Gopher repetition filter (Rae et al. 2021 §A1.1) ───────────
    // The repetition half of Gopher's quality rules: drop documents
    // dominated by a single repeated 2-gram (>20% of characters) or by
    // duplicated 3-grams (>15%; Gopher thresholds dup 5..10-grams, but
    // this corpus's ~35-token docs almost never repeat a 5-gram — the
    // 3-gram variant keeps the signal non-vacuous at every tested SF).
    // Character-mass thresholds, unlike
    // q72's occurrence-ratio signals — and where q72 pays an explode +
    // two-level groupBy, this is per-document and zero-shuffle — two
    // narrow kernel passes over ONE tokenization, so at 100 TB it
    // streams at scan speed like q21/q26. The keep-flags compare on
    // integer masses (5·top2 ≤ chars ⇔ top2/chars ≤ 0.20) so the
    // boolean can never diverge across engines on a rounded double.
    "q135_repetition_filter" -> QuerySpec(
      build = (s, d) => Tables.documents(s, d)
        .filter(col("text").isNotNull)
        .withColumn("_toks", tokens(col("text")))
        .withColumn("_m2", repetition_mass_t(col("_toks"), 2))
        .withColumn("_m3", repetition_mass_t(col("_toks"), 3))
        .withColumn("_chars", greatest(length(col("text")), lit(1)).cast("long"))
        .select(
          col("doc_id"),
          graft.analytics.StableRound.r4(least(
            col("_m2").getItem(0).cast("double") / col("_chars"),
            lit(1.0))).as("top2_frac"),
          graft.analytics.StableRound.r4(least(
            col("_m3").getItem(1).cast("double") / col("_chars"),
            lit(1.0))).as("dup3_frac"),
          (col("_m2").getItem(0) * 5 <= col("_chars") &&
            col("_m3").getItem(1) * 20 <= col("_chars") * 3).as("keep"))
        .orderBy("doc_id"),
      oracle = Some(s"""
        WITH t AS (SELECT doc_id, greatest(length(text), 1) AS n_chars,
                          $duckToks toks
                   FROM documents WHERE text IS NOT NULL),
        g2 AS (SELECT doc_id, count(*) cnt, length(g) glen FROM (
                 SELECT doc_id, array_to_string(toks[i:i+1], ' ') g
                 FROM t, unnest(generate_series(1, len(toks) - 1)) u(i))
               GROUP BY doc_id, g),
        m2 AS (SELECT doc_id, max(cnt * glen) top2 FROM g2 GROUP BY doc_id),
        g3 AS (SELECT doc_id, count(*) cnt, length(g) glen FROM (
                 SELECT doc_id, array_to_string(toks[i:i+2], ' ') g
                 FROM t, unnest(generate_series(1, len(toks) - 2)) u(i))
               GROUP BY doc_id, g),
        m3 AS (SELECT doc_id, sum(cnt * glen) FILTER (WHERE cnt >= 2) dup3
               FROM g3 GROUP BY doc_id)
        SELECT t.doc_id,
               ${graft.analytics.StableRound.sql4(
                 "least(coalesce(top2, 0) * 1.0 / n_chars, 1.0)")} AS top2_frac,
               ${graft.analytics.StableRound.sql4(
                 "least(coalesce(dup3, 0) * 1.0 / n_chars, 1.0)")} AS dup3_frac,
               (coalesce(top2, 0) * 5 <= n_chars
                 AND coalesce(dup3, 0) * 20 <= n_chars * 3) AS keep
        FROM t LEFT JOIN m2 USING (doc_id) LEFT JOIN m3 USING (doc_id)
        ORDER BY t.doc_id"""),
      bench = true),

    // ── greedy max-coverage document selection ─────────────────────
    // Submodular data selection: pick 5 documents that together cover
    // the most DISTINCT 3-shingles — the facility-location shape used
    // to choose representative/diverse training subsets, where
    // near-duplicate candidates contribute almost no marginal gain.
    // Greedy is (1−1/e)-optimal and inherently sequential; like q132
    // the constant k unrolls into 5 bounded rounds: the corpus pays
    // TWO shingle scans (candidate-pool stats, pool posting fetch —
    // the pool's postings then persist at ≤50 docs), each round is an
    // anti/semi-join of those bounded postings against the ≤5-doc
    // covered set (broadcast), and the ≤5-row greedy state iterates
    // driver-side (the q29/q132 bounded-probe discipline). Gains are
    // distinct-shingle COUNTS — integers, replayed exactly by DuckDB's
    // unrolled CTE chain.
    "q134_coverage_select" -> QuerySpec(
      build = (s, d) => {
        val rows0 = Tables.documents(s, d)
          .filter(col("text").isNotNull)
          .select(col("doc_id"),
            explode(shingle_hashes(col("text"), 3)).as("h"))
        val pool = rows0.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("nsh"))
          .orderBy(col("nsh").desc, col("doc_id").asc).limit(50)
          .persist()
        val cp = rows0
          .join(broadcast(pool.select(col("doc_id"))), Seq("doc_id"))
          .persist()
        val picked = scala.collection.mutable
          .ArrayBuffer[(Int, Long, Long)]() // (rk, doc_id, gain)
        val first = pool.orderBy(col("nsh").desc, col("doc_id").asc)
          .limit(1).collect().head
        picked += ((1, first.getLong(0), first.getLong(1)))
        for (k <- 2 to 5) {
          val selIds = picked.map(_._2).toSeq
          val covered = cp.filter(col("doc_id").isin(selIds: _*))
            .select(col("h")).distinct()
          val covCnt = cp.join(broadcast(covered), Seq("h"))
            .groupBy(col("doc_id")).agg(count(lit(1)).as("cov"))
          val best = pool.filter(!col("doc_id").isin(selIds: _*))
            .join(covCnt, Seq("doc_id"), "left")
            .select(col("doc_id"),
              (col("nsh") - coalesce(col("cov"), lit(0L))).as("gain"))
            .orderBy(col("gain").desc, col("doc_id").asc)
            .limit(1).collect().head
          picked += ((k, best.getLong(0), best.getLong(1)))
        }
        import s.implicits._
        picked.toSeq.toDF("rk", "doc_id", "gain")
      },
      oracle = Some {
        val steps = (2 to 5).map { k =>
          s"""g$k AS (SELECT p.doc_id, p.nsh - coalesce(c.cnt, 0) gain
                FROM pool p
                LEFT JOIN (SELECT cp.doc_id, count(*) cnt FROM cp
                           JOIN cov${k - 1} cv ON cv.h = cp.h
                           GROUP BY 1) c ON c.doc_id = p.doc_id
                WHERE p.doc_id NOT IN (SELECT doc_id FROM sel${k - 1})),
        s$k AS (SELECT $k rk, doc_id, CAST(gain AS BIGINT) gain
                FROM g$k ORDER BY gain DESC, doc_id LIMIT 1),
        sel$k AS (SELECT doc_id FROM sel${k - 1}
                  UNION ALL SELECT doc_id FROM s$k),
        cov$k AS (SELECT DISTINCT cp.h FROM cp
                  JOIN sel$k USING (doc_id))"""
        }.mkString(",\n        ")
        s"""
        WITH $duckShingles,
        hs AS (SELECT doc_id,
                 ('0x' || substring(md5(s), 1, 15))::BIGINT h, n
               FROM sh),
        pool AS (SELECT doc_id, CAST(max(n) AS BIGINT) nsh FROM hs
                 GROUP BY 1 ORDER BY nsh DESC, doc_id LIMIT 50),
        cp AS (SELECT hs.doc_id, hs.h FROM hs
               JOIN pool ON pool.doc_id = hs.doc_id),
        s1 AS (SELECT 1 rk, doc_id, nsh gain FROM pool
               ORDER BY nsh DESC, doc_id LIMIT 1),
        sel1 AS (SELECT doc_id FROM s1),
        cov1 AS (SELECT DISTINCT cp.h FROM cp JOIN sel1 USING (doc_id)),
        $steps
        SELECT CAST(rk AS INTEGER) rk, doc_id, gain
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
              UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
              UNION ALL SELECT * FROM s5)
        ORDER BY rk"""
      })
  )
}
