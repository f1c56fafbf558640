package graft.similarity

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{QuerySpec, Tables}
import graft.operators.TopK
import VectorFunctions._

/** Similarity search over the `embeddings` table (`array<float>` 64-d):
  * brute-force cosine top-k as the exact baseline, IVF as the pruned
  * scale path, plus embedding-cosine near-dup (dedup family).
  *
  * Scale design: brute-force is a broadcast-join of the (small) query
  * set against the corpus — linear scan, no shuffle of the big side;
  * IVF prunes the scanned fraction to nprobe/ncentroid. Both agree
  * exactly with the DuckDB oracle because cosine is computed in double
  * with identical summation order.
  */
object SimilarityQueries {

  private val duckCos =
    "list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"

  /** Deterministic centroid choice for IVF: the first 16 vectors. A
    * production build would k-means these; the index mechanics
    * (assign -> probe -> rerank) are identical. */
  private[similarity] val nCentroids = 16
  private[similarity] val nProbe = 2

  /** q90 SemDeDup near-neighbor threshold — same planted-near-dup
    * cosine floor as q27/q67 (the synthetic corpus' dup pairs sit
    * above it, organic pairs below); interpolated into the oracle SQL
    * so both engines replay one constant. */
  private val semDedupTau = 0.4

  /** Random-hyperplane LSH planes: 8 planes x 64 dims, components in
    * [-1, 1] derived from md5 so they are reproducible anywhere (the
    * oracle embeds the same literals). */
  private val nPlanes = 8
  private val dim = 64
  private[graft] lazy val planes: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes) { p =>
      Array.tabulate(dim) { j =>
        val hex = md.digest(s"plane:$p:$j".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
      }
    }
  }

  /** q105 JL target dimension and its ±1 sign matrix (row k = output
    * coordinate), md5-derived so both engines replay one constant. */
  private val jlDim = 16
  private[graft] lazy val jlSigns: Array[Array[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(jlDim) { k =>
      Array.tabulate(dim) { j =>
        val nib = md.digest(s"jl:$k:$j".getBytes("UTF-8"))(0) & 0xf
        if (nib % 2 == 0) 1L else -1L
      }
    }
  }

  /** 4-bit random-hyperplane band signature (band b uses planes
    * 4b..4b+3): a pair is an LSH candidate when all 4 signs agree in
    * some band. */
  private[graft] def hyperplaneBand(v: Column, band: Int): Column =
    (0 until 4).map { j =>
      val plane = typedlit(planes(band * 4 + j))
      when(cosine(v, plane) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Wider 12-bit band signature over a SEPARATE 24-plane family (same
    * md5 derivation, distinct seed tag) for callers without a natural
    * blocking key (q85 media near-dup): 4096 buckets per band instead
    * of the 4-bit family's 16, so bucket occupancy — and the quadratic
    * pair expansion — shrinks 256× for the same corpus (was 8-bit/256
    * buckets through round 8; the pair expansion dominated the q85
    * build at 100×, and for a fingerprint embedding recall is
    * unaffected — only byte-identical payloads clear cos > 0.9, and
    * identical embeddings band identically at ANY width). Not used by
    * the oracle-checked q54/q67, whose SQL embeds the 8-plane family
    * literals. */
  private[graft] lazy val planes24: Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(24) { p =>
      Array.tabulate(dim) { j =>
        val hex = md.digest(s"plane24:$p:$j".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        ((java.lang.Long.parseLong(hex, 16) % 2001L) - 1000L) / 1000.0
      }
    }
  }

  private[graft] def hyperplaneBand12(v: Column, band: Int): Column =
    (0 until 12).map { j =>
      val plane = typedlit(planes24(band * 12 + j))
      when(cosine(v, plane) >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Centroid literals for q29, collected once at plan-build time (16
    * rows — bounded, driver-safe) so corpus→centroid assignment is a
    * NARROW per-row argmax over in-closure literals: zero shuffle and
    * zero row expansion, vs the former cross-join + row_number window
    * that shuffled 16× the corpus bytes. */
  private[similarity] def centroids(e: DataFrame): Seq[(Long, Array[Float])] =
    e.filter(col("vec_id") < nCentroids)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  /** `array<struct<c: r4(cos(centroid, v)), n: -cid>>` — struct ordering
    * makes max/sort rank by (cosine desc, cid asc), the exact order the
    * old window used; same cosine kernel + rounding, so hashes are
    * unchanged. */
  private[similarity] def centScores(cents: Seq[(Long, Array[Float])], v: Column): Column =
    array(cents.map { case (cid, vec) =>
      struct(graft.analytics.StableRound.r4(cosine(typedlit(vec), v)).as("c"),
        lit(-cid).as("n"))
    }: _*)

  // ── the IVF rule, written once: assign → probe → pruned list read.
  // Each takes a centroid-score column ([[centScores]], or q76's
  // k-means twin), so every IVF path — direct (q29/q76/q90), served
  // from the lists (q121/q124/q126/q129) and the [[VectorStore]] —
  // ranks centroids by the same (r4 cosine desc, cid asc) order.

  /** The nearest centroid's id: the argmax score struct's `n` is -cid. */
  private[similarity] def assign(scores: Column): Column =
    -array_max(scores).getField("n")

  /** `q` with one row per probed centroid: each row's `nProbe`
    * best-scoring centroids, as `cid` (same narrow math as [[assign]]:
    * sort the scores per row, take the best nProbe). */
  private[similarity] def probes(q: DataFrame, scores: Column,
                                 nProbe: Int): DataFrame = {
    val keep = q.columns.toSeq.map(col)
    q.select(keep :+ explode(
        slice(reverse(array_sort(scores)), 1, nProbe)).as("_p"): _*)
      .select(keep :+ (-col("_p.n")).as("cid"): _*)
  }

  /** The probed inverted lists of `lists` (partitioned by `_c`), joined
    * to their probes. The one driver-side collect — ≤ queries×nProbe
    * cids — exists because the `_c` filter needs literals at plan time
    * to PARTITION-prune the list read (PlanSpec pins the
    * PartitionFilters); the probes then broadcast into the pruned scan,
    * so per-query cost tracks the probed lists, never the corpus. */
  private[similarity] def probedLists(lists: DataFrame,
                                      probes: DataFrame): DataFrame = {
    val cids = probes.select(col("cid")).distinct()
      .collect().map(_.getLong(0)).sorted
    lists.filter(col("_c").isin(cids: _*))
      .join(broadcast(probes), col("_c") === col("cid"))
  }

  /** Each query's top `k` non-self candidates by r4 cosine of (`qe`,
    * `embedding`) on bounded heaps — (query_id, rk, vec_id, cos). */
  private def rerank(cand: DataFrame, k: Int): DataFrame =
    TopK.perKeyRanked(cand.filter(col("vec_id") =!= col("query_id"))
        .withColumn("cos", graft.analytics.StableRound.r4(
          cosine(col("qe"), col("embedding"))))
        .select(col("query_id"), col("vec_id"), col("cos")),
      Seq("query_id"), Seq(col("cos").desc, col("vec_id")), k, "rk")
      .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))

  /** The direct IVF search (q29, q76) under centroid scores `scores`:
    * the corpus assignment is a narrow per-row expression (never
    * expanded or shuffled), the vec_id < 10 queries' probes broadcast
    * into it, and the probed lists' members rerank. */
  private def directSearch(e: DataFrame,
                           scores: Column => Column): DataFrame = {
    val assigned = e.select(col("vec_id"), col("embedding"),
      assign(scores(col("embedding"))).as("cid"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    rerank(assigned.join(broadcast(probes(q, scores(col("qe")), nProbe)),
        Seq("cid")), 5)
      .orderBy("query_id", "rk")
  }

  /** IVF search over inverted `lists(vec_id, embedding, _c)` under
    * centroids `cents`: queries (`query_id`, `qe`) probe their nProbe
    * nearest lists, read partition-pruned, rerank. ONE body for q121
    * and [[VectorStore.search]]. */
  private[similarity] def listSearch(lists: DataFrame,
      cents: Seq[(Long, Array[Float])], queries: DataFrame,
      nProbe: Int, k: Int): DataFrame =
    rerank(probedLists(lists, probes(queries.select(col("query_id"),
      col("qe")), centScores(cents, col("qe")), nProbe)), k)

  /** The IVF-flat index artifact — the FAISS inverted-list layout in
    * Spark terms, the vector twin of [[graft.text.Bm25Index]]: a
    * [[VectorStore]] base generation built by [[VectorStore.init]]
    * (`centroids/`, `lists/` partitioned by `_c`, `_meta`) once per
    * EMBEDDINGS content fingerprint. Every embedding is assigned to its
    * nearest centroid ONCE, so each inverted list is a parquet
    * partition a query reaches by partition pruning; re-deriving the
    * assignment per query (q29's direct build) re-scans every vector.
    * Vectors are stored IN the lists (IVF-flat): rerank needs them, and
    * colocating them with the assignment makes the probe read
    * self-contained — no corpus-scale join at read time (the
    * [[graft.text.Bm25Index]] denormalization argument). The name
    * encodes the centroid count — a geometry change is a layout change
    * the dataset key alone can't see. */
  private[graft] def ivfFlat(s: SparkSession, d: String): String = {
    val target = graft.text.Artifacts.dir(
      d, s"ivf_flat_c${nCentroids}_v2", "embeddings.parquet")
    graft.text.Artifacts.materialize(target) { tmp =>
      VectorStore.init(s, Tables.embeddings(s, d), tmp.toString)
    }
    target.toString
  }

  /** Product-quantization geometry (q94/q95): 8 subspaces × 8 dims,
    * 16-entry codebooks (the first [[nCentroids]] vectors' subvectors). */
  private val pqM = 8
  private val pqDsub = 8

  /** Raw squared-L2 between subspace `sub` of `v` and the matching
    * slice of codebook entry `vec` — exact left-to-right double
    * summation, identical to the oracle's list_sum order. */
  private def pqDist(sub: Int, vec: Array[Float], v: Column): Column = {
    val subCol = transform(
      slice(v, sub * pqDsub + 1, pqDsub), _.cast("double"))
    val codeSub = typedlit(
      vec.slice(sub * pqDsub, sub * pqDsub + pqDsub).map(_.toDouble))
    aggregate(zip_with(subCol, codeSub, (x, y) => (x - y) * (x - y)),
      lit(0.0), _ + _)
  }

  /** Per-subspace argmin code: struct (r4 distance, code, raw distance)
    * minimized lexicographically — min rounded distance, tie lowest
    * code; the raw distance rides along for error averaging. */
  private def pqBest(cents: Seq[(Long, Array[Float])], sub: Int): Column =
    array_min(array(cents.map { case (code, vec) =>
      val dist = pqDist(sub, vec, col("embedding"))
      struct(graft.analytics.StableRound.r4(dist).as("d2"),
        lit(code).as("code"), dist.as("raw"))
    }.toIndexedSeq: _*))

  /** The IVF centroid replay: `cent(cid, ce)`, the first
    * [[nCentroids]] vectors ([[centroids]]). */
  private val centCte: String = s"""cent AS (SELECT vec_id cid, embedding ce FROM embeddings
                 WHERE vec_id < $nCentroids)"""

  /** The [[assign]] rule in SQL: `assigned(vec_id, embedding, cid)`,
    * each vector's nearest centroid by (r4 cosine desc, cid asc).
    * Expects `cent(cid, ce)` in scope — ONE definition for every IVF
    * oracle. */
  private val assignedCte: String = s"""assigned AS (
          SELECT vec_id, embedding, cid FROM (
            SELECT b.vec_id, b.embedding, cent.cid, ROW_NUMBER() OVER (
                PARTITION BY b.vec_id
                ORDER BY floor(list_cosine_similarity(
                  cent.ce::DOUBLE[], b.embedding::DOUBLE[]) * 10000 + 0.5) / 10000
                  DESC, cent.cid) crk
            FROM embeddings b CROSS JOIN cent)
          WHERE crk = 1)"""

  /** The [[probes]] rule in SQL over query table `q(<id>, qe)`:
    * `probes(<id>, qe, cid)`, each query's [[nProbe]] nearest
    * centroids. Expects `cent(cid, ce)` in scope. */
  private def probesCte(q: String, id: String): String = s"""probes AS (
          SELECT $id, qe, cid FROM (
            SELECT $q.$id, $q.qe, cent.cid, ROW_NUMBER() OVER (
                PARTITION BY $q.$id
                ORDER BY floor(list_cosine_similarity(
                  cent.ce::DOUBLE[], $q.qe::DOUBLE[]) * 10000 + 0.5) / 10000
                  DESC, cent.cid) prk
            FROM $q CROSS JOIN cent)
          WHERE prk <= $nProbe)"""

  /** The probed-list search replay, ending in `ivf(query_id, rk,
    * vec_id, cos)` — each query's top-5 non-self members of its probed
    * lists. Expects `cent(cid, ce)` in scope; shared by the
    * q29/q121/q183 oracle, q76 (over its k-means centroids) and q117. */
  private val ivfRankedCtes: String = s"""$assignedCte,
        q AS (SELECT vec_id query_id, embedding qe FROM embeddings
              WHERE vec_id < 10),
        ${probesCte("q", "query_id")},
        hits AS (
          SELECT p.query_id, a.vec_id, floor(list_cosine_similarity(
              p.qe::DOUBLE[], a.embedding::DOUBLE[]) * 10000 + 0.5) / 10000 cos
          FROM assigned a JOIN probes p ON a.cid = p.cid
          WHERE a.vec_id != p.query_id),
        ivf AS (SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) rk FROM hits)
          WHERE rk <= 5)"""

  /** q29's DuckDB replay — ONE definition shared by the direct IVF
    * search (q29), the artifact-served search (q121) and the folded
    * store (q183): the paths must be value-identical, so they share an
    * oracle by construction. */
  private val ivfOracle: String = s"""
        WITH $centCte,
        $ivfRankedCtes
        SELECT query_id, rk, vec_id, cos FROM ivf
        ORDER BY query_id, rk"""

  /** The PQ code table (vec_id, codes: array of 8 codebook indices) —
    * ONE definition shared by the direct ADC search (q95), the
    * [[PqIndex]] artifact build, and therefore q123's read path. */
  private[similarity] def pqCodesCol(cents: Seq[(Long, Array[Float])]): Column =
    array((0 until pqM).map(pqBest(cents, _).getField("code")): _*)

  private[similarity] def pqCodesFrame(e: DataFrame): DataFrame = {
    val cents = centroids(e)
    e.select(col("vec_id"), pqCodesCol(cents).as("codes"))
  }

  /** The per-query 8×16 integer ADC distance-table expression over
    * `embedding` — ONE definition for q95/q123 (via [[adcQueries]])
    * and the q124/q126 builds, so the rounding discipline the shared
    * oracles hash against cannot drift between paths. */
  private def adcDtabCol(cents: Seq[(Long, Array[Float])]): Column =
    array((0 until pqM).map { sub =>
      array(cents.map { case (_, vec) =>
        floor(pqDist(sub, vec, col("embedding")) * lit(10000.0)
          + lit(0.5)).cast("long")
      }.toIndexedSeq: _*)
    }: _*)

  /** Per-query integer ADC distance tables (8×16 ten-thousandths),
    * derived from the query's own raw embedding — a bounded broadcast
    * side in both the direct (q95) and indexed (q123) searches. */
  private def adcQueries(e: DataFrame,
                         cents: Seq[(Long, Array[Float])]): DataFrame =
    e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), adcDtabCol(cents).as("dtab"))

  /** The asymmetric-distance expression over (dtab, codes): 8 table
    * lookups + integer adds per candidate. */
  private def adcAi: Column =
    (0 until pqM).map { sub =>
      element_at(element_at(col("dtab"), sub + 1),
        element_at(col("codes"), sub + 1).cast("int") + 1)
    }.reduce(_ + _)

  /** The ADC rerank tail over a (query_id, vec_id, ai) candidate
    * frame — bounded heaps, q95's output shape. */
  private def adcRankTail(cand: DataFrame): DataFrame =
    TopK.perKeyRanked(cand, Seq("query_id"),
        Seq(col("ai").asc, col("vec_id").asc), 5, "rk")
      .select(col("query_id"), col("rk"), col("vec_id"),
        (col("ai").cast("double") / lit(10000.0)).as("adist"))
      .orderBy("query_id", "rk")

  /** The ADC scan + rerank tail over any (vec_id, codes) frame: a
    * candidate costs 8 table lookups + integer adds; broadcast
    * queries, TopKPerKey rerank. Shared by q95 and q123 so direct and
    * artifact paths cannot drift. */
  private def adcSearch(coded: DataFrame, queries: DataFrame): DataFrame =
    adcRankTail(coded
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), adcAi.as("ai")))

  /** q95's DuckDB replay — shared verbatim with q123 (the artifact
    * stores the direct path's own codes). */
  private val adcOracle: String = s"""
        WITH cb AS (SELECT vec_id code, embedding::DOUBLE[] cv
                    FROM embeddings WHERE vec_id < $nCentroids),
        sub AS (SELECT s FROM generate_series(0, 7) t(s)),
        d0 AS (SELECT e.vec_id, sub.s, cb.code,
                list_sum(list_transform(generate_series(1, 8),
                  i -> (e.embedding[sub.s*8 + i]::DOUBLE - cb.cv[sub.s*8 + i])
                     * (e.embedding[sub.s*8 + i]::DOUBLE - cb.cv[sub.s*8 + i])))
                  AS raw
              FROM embeddings e CROSS JOIN sub CROSS JOIN cb),
        d AS (SELECT *, floor(raw * 10000 + 0.5) / 10000 AS d2 FROM d0),
        codes AS (SELECT vec_id, s, code FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                  ORDER BY d2, code) rk
                FROM d) WHERE rk = 1),
        dt AS (SELECT vec_id AS query_id, s, code,
                 CAST(floor(raw * 10000 + 0.5) AS BIGINT) AS di
               FROM d0 WHERE vec_id < 10),
        pair AS (SELECT dt.query_id, c.vec_id, CAST(sum(dt.di) AS BIGINT) ai
                 FROM codes c JOIN dt ON dt.s = c.s AND dt.code = c.code
                 WHERE c.vec_id != dt.query_id
                 GROUP BY dt.query_id, c.vec_id),
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ai, vec_id) rk FROM pair)
        SELECT query_id, rk, vec_id, ai / 10000.0 AS adist
        FROM ranked WHERE rk <= 5
        ORDER BY query_id, rk"""

  /** The composed IVF-PQ replay CTE chain, ending in
    * `pair(query_id, vec_id, ai)` — the candidates of the probed
    * inverted lists with their integer ADC distances (q95's code/table
    * arithmetic restricted by q29's assignment/probes). ONE definition
    * shared by the q124/q125/q126 oracles: a tweak to the replay edits
    * exactly one string. Also defines `q(query_id, qe)` for suffixes
    * that rescore (q125's exact top-k, q126's rerank). */
  private val ivfPqPairCtes: String = s"""cb AS (SELECT vec_id code, embedding::DOUBLE[] cv
                    FROM embeddings WHERE vec_id < $nCentroids),
        sub AS (SELECT s FROM generate_series(0, 7) t(s)),
        d0 AS (SELECT e.vec_id, sub.s, cb.code,
                list_sum(list_transform(generate_series(1, 8),
                  i -> (e.embedding[sub.s*8 + i]::DOUBLE - cb.cv[sub.s*8 + i])
                     * (e.embedding[sub.s*8 + i]::DOUBLE - cb.cv[sub.s*8 + i])))
                  AS raw
              FROM embeddings e CROSS JOIN sub CROSS JOIN cb),
        d AS (SELECT *, floor(raw * 10000 + 0.5) / 10000 AS d2 FROM d0),
        codes AS (SELECT vec_id, s, code FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                  ORDER BY d2, code) rk
                FROM d) WHERE rk = 1),
        $centCte,
        $assignedCte,
        q AS (SELECT vec_id query_id, embedding qe FROM embeddings
              WHERE vec_id < 10),
        ${probesCte("q", "query_id")},
        dt AS (SELECT vec_id AS query_id, s, code,
                 CAST(floor(raw * 10000 + 0.5) AS BIGINT) AS di
               FROM d0 WHERE vec_id < 10),
        pair AS (SELECT dt.query_id, c.vec_id, CAST(sum(dt.di) AS BIGINT) ai
                 FROM codes c
                 JOIN dt ON dt.s = c.s AND dt.code = c.code
                 JOIN assigned a ON a.vec_id = c.vec_id
                 JOIN probes p ON p.query_id = dt.query_id AND p.cid = a.cid
                 WHERE c.vec_id != dt.query_id
                 GROUP BY dt.query_id, c.vec_id)"""

  /** q131's nDCG@5 discount weights — floor(1e4 / log2(rank+1)) — and
    * their prefix sums (IDCG by relevant-count), computed ONCE here
    * and interpolated as integer literals into both the Spark plan and
    * the oracle SQL: the one place a transcendental is evaluated, and
    * it never runs inside either engine. */
  private[similarity] val ndcgW: Seq[Long] = (1 to 5).map(r =>
    math.floor(10000.0 / (math.log(r + 1.0) / math.log(2.0))).toLong)
  private[similarity] val ndcgWCum: Seq[Long] = ndcgW.scanLeft(0L)(_ + _).tail

  /** Reciprocal-rank fusion of a BM25 ranking (q111/q116's
    * (qid, rank, doc_id, …) shape) with a scored vector candidate set
    * (qid, doc_id, cos) — ONE definition of the fusion arithmetic for
    * the direct (q127) and index-served (q129) hybrids: each list
    * contributes integer MILLIONTHS of 1/(60+rank), so fused sums are
    * order-free exact and the two paths cannot drift. */
  private def rrfFuse(text: DataFrame, vecCand: DataFrame): DataFrame = {
    val s = text.sparkSession
    // Both ranked lists are bounded by the query set (≤ |queries|·5
    // rows each — the vector side reduces through the same bounded
    // TopK heap as before), so the fusion runs on the DRIVER (r21,
    // the bounded-serve discipline — q169/q202): one tagged-union
    // collect replaces a full-outer join + a second TopK + a global
    // sort over ~30 rows (~6 AQE stage jobs per hybrid query).
    // Integer-identical to the join form: contributions are
    // 1000000 div (60 + rank) in Longs, absent sides contribute 0
    // (the full-outer coalesce), fused ties break (rrf_e6 desc,
    // doc_id asc) exactly as the TopK ordering did, and the output
    // keeps (qid, rank, doc_id, rrf_e6) with the same types and
    // (qid, rank) order.
    val vl = TopK.perKeyRanked(vecCand, Seq("qid"),
        Seq(col("cos").desc, col("doc_id").asc), 5, "vrank")
      .select(col("qid"), col("vrank"), col("doc_id"))
    val tagged = text
      .select(col("qid"), col("doc_id"), col("rank").cast("int").as("r"))
      .unionByName(vl
        .select(col("qid"), col("doc_id"), col("vrank").cast("int").as("r"))
        .withColumn("r", -col("r"))) // sign = which list (ranks are ≥ 1)
      .collect()
    val rrf = collection.mutable.LinkedHashMap[(Long, Long), Long]()
    tagged.foreach { row =>
      val k = (row.asInstanceOf[org.apache.spark.sql.Row].getLong(0),
        row.getLong(1))
      val r = row.getInt(2)
      rrf(k) = rrf.getOrElse(k, 0L) + 1000000L / (60L + math.abs(r))
    }
    val out = rrf.toSeq
      .groupBy(_._1._1).toSeq.sortBy(_._1)
      .flatMap { case (qid, docs) =>
        docs.map { case ((_, doc), e6) => (doc, e6) }
          .sortBy { case (doc, e6) => (-e6, doc) }
          .take(5).zipWithIndex
          .map { case ((doc, e6), i) =>
            org.apache.spark.sql.Row(qid, i + 1, doc, e6) }
      }
    val qidT = text.schema("qid").dataType
    val docT = text.schema("doc_id").dataType
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(out).asJava),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("qid", qidT),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("doc_id", docT),
        org.apache.spark.sql.types.StructField("rrf_e6",
          org.apache.spark.sql.types.LongType))))
  }

  /** q129's two pre-fusion ranked inputs — factored so PlanSpec can
    * pin their partition pruning directly: since the fusion itself
    * collects to the driver (the fused output plans as a
    * LocalRelation), the scan-side properties are only visible on
    * these frames. Text side: the q116 posting read (prunes `_tb`);
    * vector side: the probed IVF lists (prunes `_c`). */
  private[graft] def hybridIndexInputs(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, d)
    val cents = centroids(e)
    val q = e.filter(col("vec_id") <= 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cand = probedLists(VectorStore.lists(s, ivfFlat(s, d)),
        probes(q, centScores(cents, col("qe")), nProbe))
      .withColumn("cos",
        graft.analytics.StableRound.r4(cosine(col("qe"), col("embedding"))))
      .select(col("qid"), col("vec_id").as("doc_id"), col("cos"))
    (graft.text.CurationQueries.queries("q116_bm25_from_index").build(s, d),
      cand)
  }

  /** The fusion replay's shared SQL tail: expects `rk` (the BM25
    * ranking CTE from bm25RankCtes) and `vsc(qid, doc_id, cos)` (the
    * scored vector candidates) to be in scope; ranks, fuses in integer
    * millionths, and selects the fused top-5. */
  private val rrfTailSql: String = """tl AS (SELECT qid, doc_id, rank AS trank FROM rk WHERE rank <= 5),
        vl AS (SELECT qid, doc_id, vrank FROM (
                 SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                   ORDER BY cos DESC, doc_id) vrank FROM vsc)
               WHERE vrank <= 5),
        fused AS (SELECT coalesce(tl.qid, vl.qid) qid,
                    coalesce(tl.doc_id, vl.doc_id) doc_id,
                    coalesce(1000000 // (60 + tl.trank), 0)
                      + coalesce(1000000 // (60 + vl.vrank), 0) rrf_e6
                  FROM tl FULL JOIN vl
                    ON tl.qid = vl.qid AND tl.doc_id = vl.doc_id),
        frk AS (SELECT qid, doc_id, CAST(rrf_e6 AS BIGINT) rrf_e6,
                  ROW_NUMBER() OVER (PARTITION BY qid
                    ORDER BY rrf_e6 DESC, doc_id) rank
                FROM fused)
        SELECT qid, CAST(rank AS INTEGER) rank, doc_id, rrf_e6
        FROM frk WHERE rank <= 5 ORDER BY qid, rank"""

  /** q126's ADC-shortlist width — the one constant the rerank's build
    * and BOTH consuming oracles (q126, q131) interpolate. */
  private val refineShortK = 20

  /** q132's MMR candidate-shortlist width (build + oracle). */
  private val mmrShortK = 20

  /** Exact cosine scoring of every non-self corpus vector against the
    * `q` query set — the q28 ranking's replay body, shared by the
    * q125/q131 oracles. Expects `q(query_id, qe)` in scope. */
  private val exactScoredCte: String = """scored AS (
          SELECT q.query_id, b.vec_id, floor(
            list_cosine_similarity(q.qe::DOUBLE[], b.embedding::DOUBLE[])
            * 10000 + 0.5) / 10000 cos
          FROM q JOIN embeddings b ON b.vec_id != q.query_id)"""

  /** The served IVF-PQ top-5 (rank by integer ADC distance) — the
    * q124 ranking's replay select over `pair`, shared by q125/q131. */
  private val pairTop5Sel: String = """SELECT query_id, rk, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ai, vec_id) rk FROM pair)
          WHERE rk <= 5"""

  /** The refine step's replay: ADC shortlist of width [[refineShortK]]
    * from `pair`, true-vector rescore — ends in `resc(query_id,
    * vec_id, cos)`. ONE definition for the q126 and q131 oracles. */
  private lazy val refineCtes: String = s"""short AS (SELECT query_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY ai, vec_id) srk FROM pair)
          WHERE srk <= $refineShortK),
        resc AS (SELECT sh.query_id, sh.vec_id,
                   floor(list_cosine_similarity(
                     q.qe::DOUBLE[], b.embedding::DOUBLE[]) * 10000 + 0.5)
                     / 10000 cos
                 FROM short sh
                 JOIN embeddings b ON b.vec_id = sh.vec_id
                 JOIN q ON q.query_id = sh.query_id)"""

  val queries: Map[String, QuerySpec] = Map(

    // ── embedding-cosine near-dup (blocked by label) ───────────────
    // Exact small-scale twin: all-pairs within a label block is
    // O(Σ block²) — correct as an oracle-checked reference, NOT the
    // path to run at corpus scale. The scale path is q67 (LSH candidate
    // generation + exact rerank), which agrees with this query on every
    // pair its buckets recall.
    "q27_embedding_neardup" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val a = e.select(col("vec_id").as("va"), col("label"),
          col("embedding").as("ea"))
        val b = e.select(col("vec_id").as("vb"), col("label").as("_lb"),
          col("embedding").as("eb"))
        a.join(b, col("label") === col("_lb") && col("va") < col("vb"))
          .withColumn("cos", graft.analytics.StableRound.r4(cosine(col("ea"), col("eb"))))
          .filter(col("cos") > 0.4)
          .select(col("va"), col("vb"), col("label"), col("cos"))
          .orderBy("va", "vb")
      },
      oracle = Some(s"""
        SELECT a.vec_id va, b.vec_id vb, a.label,
               floor(($duckCos) * 10000 + 0.5) / 10000 AS cos
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE floor(($duckCos) * 10000 + 0.5) / 10000 > 0.4
        ORDER BY va, vb"""),
      bench = true),

    // ── brute-force cosine top-k (exact ANN baseline) ──────────────
    // Rerank = TopKPerKey (bounded heaps around ONE shuffle of ≤
    // queries×k rows), not row_number().over(partitionBy(query_id)) —
    // the window would hash all candidates onto ~|queries| reducers and
    // full-sort them, a reducer-count bottleneck at corpus scale.
    "q28_ann_bruteforce" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val cand = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("cos", graft.analytics.StableRound.r4(cosine(col("qe"), col("embedding"))))
          .select(col("query_id"), col("vec_id"), col("cos"))
        TopK.perKeyRanked(cand, Seq("query_id"),
            Seq(col("cos").desc, col("vec_id")), 5, "rk")
          .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
          .orderBy("query_id", "rk")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id query_id, embedding qe FROM embeddings
                   WHERE vec_id < 10),
        $exactScoredCte,
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id) rk FROM scored)
        SELECT query_id, rk, vec_id, cos FROM ranked WHERE rk <= 5
        ORDER BY query_id, rk"""),
      bench = true),

    // ── hard-negative mining (r15) ─────────────────────────────────
    // The contrastive-training data op: for each anchor, the top-3
    // most similar examples of a DIFFERENT label (the negatives a
    // bi-encoder learns the most from — easy negatives are already
    // separated) plus the margin to the anchor's best positive (a
    // margin near 0 or negative flags label noise / the hardest
    // training signal). Same scan shape as q28: the bounded anchor
    // set broadcasts into ONE corpus pass, label predicates are
    // in-row, top-3 on bounded heaps — at corpus scale the anchor's
    // candidates come from the IVF/LSH paths (q121/q67) and this
    // SELECTION composes unchanged on top.
    "q193_hard_negatives" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
            col("embedding").as("qe"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("cos", graft.analytics.StableRound.r4(
            cosine(col("qe"), col("embedding"))))
        val bestPos = scored.filter(col("label") === col("qlabel"))
          .groupBy(col("query_id")).agg(max(col("cos")).as("best_pos"))
        val negs = scored.filter(col("label") =!= col("qlabel"))
          .select(col("query_id"), col("vec_id"), col("cos"))
        TopK.perKeyRanked(negs, Seq("query_id"),
            Seq(col("cos").desc, col("vec_id")), 3, "rk")
          .join(bestPos, Seq("query_id"), "left")
          .withColumn("margin_e4",
            expr("CAST(floor((best_pos - cos) * 10000 + 0.5) AS BIGINT)"))
          .select(col("query_id"), col("rk"), col("vec_id"), col("cos"),
            col("margin_e4"))
          .orderBy("query_id", "rk")
      },
      oracle = Some("""
        WITH q AS (SELECT vec_id query_id, label qlabel, embedding qe
                   FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT q.query_id, q.qlabel, b.vec_id, b.label, floor(
            list_cosine_similarity(q.qe::DOUBLE[], b.embedding::DOUBLE[])
            * 10000 + 0.5) / 10000 cos
          FROM q JOIN embeddings b ON b.vec_id != q.query_id),
        bp AS (SELECT query_id, max(cos) best_pos FROM scored
               WHERE label = qlabel GROUP BY 1),
        ranked AS (SELECT query_id, vec_id, cos, ROW_NUMBER() OVER (
                     PARTITION BY query_id ORDER BY cos DESC, vec_id) rk
                   FROM scored WHERE label != qlabel)
        SELECT r.query_id, r.rk, r.vec_id, r.cos,
               CAST(floor((bp.best_pos - r.cos) * 10000 + 0.5) AS BIGINT)
                 margin_e4
        FROM ranked r LEFT JOIN bp USING (query_id)
        WHERE rk <= 3 ORDER BY query_id, rk"""),
      bench = true),

    // ── IVF-pruned ANN: assign to nearest centroid, probe top-2 ────
    "q29_ann_ivf" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val cents = centroids(e)
        directSearch(e, centScores(cents, _))
      },
      oracle = Some(ivfOracle)),

    // ── ANN served from the IVF-flat index artifact (q121) ──────────
    // q29's search with the assignment table MATERIALIZED: the
    // [[ivfFlat]] artifact is a [[VectorStore]] holding every
    // (vec_id, embedding) under its centroid as a parquet PARTITION, so
    // a query's nProbe lists are reached by partition pruning (the q116
    // recipe for vectors). The search is [[VectorStore.search]]'s own
    // body ([[listSearch]]) over the artifact's lists — per-query cost
    // tracks the probed lists, never the corpus. Its centroids are
    // [[centroids]] of the same embeddings, which is what the artifact
    // stored (init trains with that rule), so q121 skips the stored
    // copy's read and its parquet schema-inference job. Same oracle as
    // q29 by construction: the artifact stores the direct path's own
    // assignment.
    "q121_ann_from_index" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        listSearch(VectorStore.lists(s, ivfFlat(s, d)), centroids(e), q,
            nProbe, 5)
          .orderBy("query_id", "rk")
      },
      oracle = Some(ivfOracle),
      bench = true),

    // ── incremental ANN maintenance (r14): fold a batch, then search ─
    // Production vectors ARRIVE; rebuilding the [[ivfFlat]] artifact per
    // batch re-scans the corpus. [[VectorStore]] is the mutable ingest
    // twin (FAISS's train-vs-add split): geometry fixed at init, a
    // batch assigns itself in one narrow pass and APPENDS into its
    // `_c=` lists — per-batch cost is batch-scale, never corpus-scale.
    // The ingest split keeps the batch above the centroid range, so
    // the stored geometry equals the full-corpus q29 centroids and the
    // folded store must reproduce the direct path's assignment
    // EXACTLY: q183 shares q29/q121's oracle verbatim — the hash match
    // IS the fold ≡ rebuild proof, cross-engine (the q165/q176
    // identity discipline applied to the ANN index).
    "q183_ann_incremental" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val isBatch =
          col("vec_id") >= nCentroids && col("vec_id") % 5 === 4
        val store = graft.text.Artifacts.dir(
          d, s"vecstore_c${nCentroids}_p${nProbe}_v1", "embeddings.parquet")
        graft.text.Artifacts.materialize(store) { tmp =>
          VectorStore.init(s, e.filter(!isBatch), tmp.toString)
          VectorStore.fold(s, tmp.toString, e.filter(isBatch))
        }
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        VectorStore.search(s, store.toString, q, nProbe, 5)
          .orderBy("query_id", "rk")
      },
      oracle = Some(ivfOracle),
      bench = true),

    // ── embedding near-dup at scale: LSH candidates + exact rerank ──
    // The 100 TB twin of q27: q27's blocked all-pairs cosine is
    // O(Σ block²) and dies when labels are coarse; here candidates come
    // from random-hyperplane LSH collisions — 2 bands × 4 planes, so a
    // pair is a candidate when ALL 4 signs agree in either band — and
    // only candidates pay the exact cosine. Like q25, the bucket
    // groupBy carries the vectors in its posting lists and pairs come
    // from per-list expansion: ONE shuffle of corpus bytes, never a
    // self-join, pair work bounded by bucket sizes. Recall on planted
    // near-dups is pinned in TextSimilaritySpec; q27 remains the exact
    // small-scale oracle twin.
    "q67_neardup_lsh" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val banded = e.select(col("vec_id"), col("label"), col("embedding"),
          posexplode(array(hyperplaneBand(col("embedding"), 0),
            hyperplaneBand(col("embedding"), 1))).as(Seq("band", "bucket")))
        val pairs = banded
          .groupBy(col("band"), col("bucket"), col("label"))
          .agg(array_sort(collect_list(struct(col("vec_id"), col("embedding"))))
            .as("docs"))
          .filter(size(col("docs")) > 1)
          .select(col("label"),
            explode(graft.text.TextQueries.pairExpand(col("docs"))).as("p"))
          .select(col("p.x.vec_id").as("va"), col("p.y.vec_id").as("vb"),
            col("label"),
            graft.analytics.StableRound.r4(
              cosine(col("p.x.embedding"), col("p.y.embedding"))).as("cos"))
        pairs.distinct() // same pair may collide in both bands
          .filter(col("cos") > 0.4)
          .orderBy("va", "vb")
      },
      oracle = Some {
        def sqlPlane(p: Int) =
          "[" + planes(p).map(v => String.format(java.util.Locale.ROOT,
            "%.3f", Double.box(v))).mkString(", ") + "]::DOUBLE[]"
        def bandExpr(band: Int) = (0 until 4).map(j =>
          s"(CASE WHEN list_cosine_similarity(embedding::DOUBLE[], ${sqlPlane(band * 4 + j)}) >= 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH b AS (
          SELECT vec_id, label, embedding, 0 AS band, ${bandExpr(0)} AS bucket
          FROM embeddings
          UNION ALL
          SELECT vec_id, label, embedding, 1 AS band, ${bandExpr(1)} AS bucket
          FROM embeddings),
        cand AS (
          SELECT DISTINCT x.vec_id va, y.vec_id vb, x.label,
                 floor(list_cosine_similarity(x.embedding::DOUBLE[],
                   y.embedding::DOUBLE[]) * 10000 + 0.5) / 10000 AS cos
          FROM b x JOIN b y
            ON x.band = y.band AND x.bucket = y.bucket
               AND x.label = y.label AND x.vec_id < y.vec_id)
        SELECT va, vb, label, cos FROM cand WHERE cos > 0.4
        ORDER BY va, vb"""
      },
      bench = true),

    // ── IVF with REAL k-means centroids (sample-trained Lloyd's) ───
    // q29 uses "first 16 vectors" as centroids; this is the production
    // build: train k=8 centroids on a deterministic sample (vec_id<64)
    // with 2 Lloyd's iterations — assignment by r4-cosine argmax,
    // update = element-wise mean (r4-rounded so both engines agree to
    // the bit; empty clusters keep their previous centroid) — then
    // assign the FULL corpus with the same narrow literal-argmax as
    // q29 (zero shuffle), probe 2 lists, TopKPerKey rerank. Training
    // cost is bounded by the sample (the standard IVF recipe); corpus
    // cost is one scan.
    "q76_ann_ivf_kmeans" -> QuerySpec(
      build = (s, d) => {
        val kC = 8
        val e = Tables.embeddings(s, d)
        val train = e.filter(col("vec_id") < 64)
          .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))

        def collectCents(rows: Array[org.apache.spark.sql.Row]): Seq[(Long, Array[Double])] =
          rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
            .sortBy(_._1).toSeq
        var cents: Seq[(Long, Array[Double])] = collectCents(
          train.filter(col("vec_id") < kC).collect())

        def centScoresD(cs: Seq[(Long, Array[Double])], v: Column): Column =
          array(cs.map { case (cid, vec) =>
            struct(graft.analytics.StableRound.r4(cosine(typedlit(vec), v)).as("c"),
              lit(-cid).as("n"))
          }: _*)

        for (_ <- 1 to 2) {
          val assigned = train.select(col("vec_id"), col("v"),
            assign(centScoresD(cents, col("v"))).as("cid"))
          // element-wise mean per cluster, r4-rounded for cross-engine
          // bit-stability; clusters that lost every member keep their
          // previous centroid
          val means = assigned
            .select(col("cid"), posexplode(col("v")).as(Seq("idx", "x")))
            .groupBy(col("cid"), col("idx"))
            .agg(graft.analytics.StableRound.r4(avg(col("x"))).as("m"))
            .groupBy(col("cid"))
            .agg(array_sort(collect_list(struct(col("idx"), col("m")))).as("ims"))
            .select(col("cid"), col("ims.m").as("vm"))
            .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
          cents = cents.map { case (cid, old) =>
            cid -> means.getOrElse(cid, old) }
        }

        directSearch(e, centScoresD(cents, _))
      },
      oracle = Some(s"""
        WITH train AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings
                       WHERE vec_id < 64),
        c0 AS (SELECT vec_id cid, v ce FROM train WHERE vec_id < 8),
        a1 AS (SELECT vec_id, v, cid FROM (
            SELECT t.vec_id, t.v, c.cid, ROW_NUMBER() OVER (
                PARTITION BY t.vec_id
                ORDER BY floor(list_cosine_similarity(c.ce, t.v)
                  * 10000 + 0.5) / 10000 DESC, c.cid) rk
            FROM train t CROSS JOIN c0 c) WHERE rk = 1),
        m1 AS (SELECT cid, idx, floor(avg(x) * 10000 + 0.5) / 10000 m
               FROM (SELECT cid, unnest(v) x,
                       generate_subscripts(v, 1) idx FROM a1)
               GROUP BY cid, idx),
        c1 AS (SELECT c0.cid,
                 coalesce(lm.vm, c0.ce) ce
               FROM c0 LEFT JOIN (
                 SELECT cid, list(m ORDER BY idx) vm FROM m1 GROUP BY cid) lm
                 ON c0.cid = lm.cid),
        a2 AS (SELECT vec_id, v, cid FROM (
            SELECT t.vec_id, t.v, c.cid, ROW_NUMBER() OVER (
                PARTITION BY t.vec_id
                ORDER BY floor(list_cosine_similarity(c.ce, t.v)
                  * 10000 + 0.5) / 10000 DESC, c.cid) rk
            FROM train t CROSS JOIN c1 c) WHERE rk = 1),
        m2 AS (SELECT cid, idx, floor(avg(x) * 10000 + 0.5) / 10000 m
               FROM (SELECT cid, unnest(v) x,
                       generate_subscripts(v, 1) idx FROM a2)
               GROUP BY cid, idx),
        cent AS (SELECT c1.cid,
                 coalesce(lm.vm, c1.ce) ce
               FROM c1 LEFT JOIN (
                 SELECT cid, list(m ORDER BY idx) vm FROM m2 GROUP BY cid) lm
                 ON c1.cid = lm.cid),
        $ivfRankedCtes
        SELECT query_id, rk, vec_id, cos FROM ivf
        ORDER BY query_id, rk""")),

    // ── int8 scalar quantization (embedding compression) ───────────
    // The storage/ANN-compression op of an embedding pipeline:
    // symmetric per-vector quantization to int8 (scale = amax/127),
    // reporting the max reconstruction error. Narrow per-row math
    // only — quantization is a scan-speed transform at any scale. The
    // floor(x+0.5) round is used on BOTH engines (plain round() ties
    // differ cross-engine), and all arithmetic is double with
    // identical operation order, so errors hash-match exactly.
    "q70_quantize_int8" -> QuerySpec(
      build = (s, d) => {
        val vd = transform(col("embedding"), _.cast("double"))
        val amax = array_max(transform(vd, x => abs(x)))
        val scale = greatest(amax, lit(1e-12)) / lit(127.0)
        val err = array_max(zip_with(
          transform(vd, x => floor(x / scale + lit(0.5))), vd,
          (qi, xi) => abs(qi * scale - xi)))
        Tables.embeddings(s, d).select(col("vec_id"),
          graft.analytics.StableRound.r4(amax).as("amax"),
          graft.analytics.StableRound.r4(err).as("qerr"))
          .orderBy("vec_id")
      },
      oracle = Some("""
        WITH c0 AS (
          SELECT vec_id, embedding::DOUBLE[] v,
                 list_max(list_transform(embedding::DOUBLE[],
                   x -> abs(x))) AS amax
          FROM embeddings),
        c AS (SELECT *, greatest(amax, 1e-12) / 127.0 AS s FROM c0)
        SELECT vec_id,
               floor(amax * 10000 + 0.5) / 10000 AS amax,
               floor(list_max(list_transform(v,
                 x -> abs(floor(x / s + 0.5) * s - x))) * 10000 + 0.5)
                 / 10000 AS qerr
        FROM c ORDER BY vec_id""")),

    // ── LSH-bucketed ANN: random-hyperplane signatures ─────────────
    // sign(dot(v, plane)) == sign(cosine(v, plane)) — the codegen'd
    // cosine computes the bits; bucket = 8-bit signature; queries probe
    // only their own bucket, then exact rerank. Linear scan + one
    // narrow groupBy key: the locality-sensitive alternative to q29's
    // IVF at corpus scales where centroids are too coarse.
    "q54_ann_lsh" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        def sig(v: org.apache.spark.sql.Column) =
          (0 until nPlanes).map { p =>
            val plane = typedlit(planes(p))
            when(cosine(v, plane) >= 0, lit(1 << p)).otherwise(lit(0))
          }.reduce(_ + _)
        val bucketed = e.withColumn("bucket", sig(col("embedding")))
        val q = bucketed.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("bucket"))
        val cand = bucketed.join(broadcast(q), Seq("bucket"))
          .filter(col("vec_id") =!= col("query_id"))
          .withColumn("cos", graft.analytics.StableRound.r4(
            cosine(col("qe"), col("embedding"))))
          .select(col("query_id"), col("vec_id"), col("cos"))
        TopK.perKeyRanked(cand, Seq("query_id"),
            Seq(col("cos").desc, col("vec_id")), 5, "rk")
          .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
          .orderBy("query_id", "rk")
      },
      oracle = Some {
        def sqlPlane(p: Int) =
          // Locale.ROOT: the f-interpolator uses the default locale, and
          // a comma-decimal locale would corrupt the SQL array literal
          "[" + planes(p).map(v => String.format(java.util.Locale.ROOT,
            "%.3f", Double.box(v))).mkString(", ") + "]::DOUBLE[]"
        val sigExpr = (0 until nPlanes).map(p =>
          s"(CASE WHEN list_cosine_similarity(embedding::DOUBLE[], ${sqlPlane(p)}) >= 0 THEN ${1 << p} ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH b AS (SELECT vec_id, embedding, $sigExpr AS bucket FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM b
              WHERE vec_id < 10),
        hits AS (
          SELECT q.query_id, b.vec_id, floor(list_cosine_similarity(
              q.qe::DOUBLE[], b.embedding::DOUBLE[]) * 10000 + 0.5) / 10000 AS cos
          FROM b JOIN q ON b.bucket = q.bucket
          WHERE b.vec_id != q.query_id),
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id) AS rk FROM hits)
        SELECT query_id, rk, vec_id, cos FROM ranked WHERE rk <= 5
        ORDER BY query_id, rk"""
      }),

    // ── SemDeDup: cluster-then-prune semantic deduplication ────────
    // The published recipe (Abbas et al. 2023, "SemDeDup"): k-means
    // cluster the corpus embeddings, then dedup WITHIN each cluster —
    // a document is dropped when an earlier (lower-id) member of its
    // cluster that shares an LSH band bucket is a τ-near-neighbor — a
    // recall approximation of the cited recipe (the q67 subset-of-
    // exact caveat): a within-cluster τ-near pair with no band
    // collision is kept. Cluster-locality is the point: at
    // corpus scale k grows ∝ N so cluster size stays bounded, and no
    // cross-cluster pair is ever considered.
    //
    // Scale shape: centroid assignment is q29's narrow in-closure
    // argmax (zero shuffle, zero expansion); within-cluster candidate
    // pairs come from the q67 hyperplane bands SUB-BLOCKED by cluster
    // — (cid, band, bucket) posting lists, id-only pair expansion with
    // the embeddings joined back only for the cosine rerank (the q85
    // memory shape: 16 B/pair, never occupancy² vectors in one row).
    // The drop rule "∃ earlier τ-neighbor" is the one-pass parallel
    // variant (greedy sequential dedup is inherently serial); both
    // engines replay it identically so the verdict is hash-checked.
    "q90_semdedup" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val cents = centroids(e)
        val assigned = e.select(col("vec_id"), col("embedding"),
          assign(centScores(cents, col("embedding"))).as("cid"))
        val banded = assigned.select(col("vec_id"), col("cid"),
          posexplode(array(hyperplaneBand(col("embedding"), 0),
            hyperplaneBand(col("embedding"), 1))).as(Seq("band", "bucket")))
        val pairs = banded
          .groupBy(col("cid"), col("band"), col("bucket"))
          .agg(array_sort(collect_list(col("vec_id"))).as("docs"))
          .filter(size(col("docs")) > 1)
          .select(col("cid"),
            explode(graft.text.TextQueries.pairExpand(col("docs"))).as("p"))
          .select(col("cid"), col("p.x").as("va"), col("p.y").as("vb"))
          .distinct() // a pair can collide in both bands
        val emb = assigned.select(col("vec_id"), col("embedding"))
        val dropped = pairs
          .join(emb.select(col("vec_id").as("va"), col("embedding").as("ea")), "va")
          .join(emb.select(col("vec_id").as("vb"), col("embedding").as("eb")), "vb")
          .filter(graft.analytics.StableRound.r4(
            cosine(col("ea"), col("eb"))) > semDedupTau)
          .select(col("cid"), col("vb")).distinct()
        val perCluster = assigned.groupBy(col("cid"))
          .agg(count(lit(1)).as("n_docs"))
        val drops = dropped.groupBy(col("cid"))
          .agg(count(lit(1)).as("n_dropped"))
        perCluster.join(drops, Seq("cid"), "left")
          .select(col("cid"), col("n_docs"),
            coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
            (col("n_docs") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
          .orderBy("cid")
      },
      oracle = Some {
        def sqlPlane(p: Int) =
          "[" + planes(p).map(v => String.format(java.util.Locale.ROOT,
            "%.3f", Double.box(v))).mkString(", ") + "]::DOUBLE[]"
        def bandExpr(band: Int) = (0 until 4).map(j =>
          s"(CASE WHEN list_cosine_similarity(embedding::DOUBLE[], ${sqlPlane(band * 4 + j)}) >= 0 THEN ${1 << j} ELSE 0 END)")
          .mkString(" + ")
        s"""
        WITH $centCte,
        $assignedCte,
        b AS (
          SELECT vec_id, cid, embedding, 0 AS band, ${bandExpr(0)} AS bucket
          FROM assigned
          UNION ALL
          SELECT vec_id, cid, embedding, 1 AS band, ${bandExpr(1)} AS bucket
          FROM assigned),
        pairs AS (
          SELECT DISTINCT x.cid, x.vec_id va, y.vec_id vb
          FROM b x JOIN b y
            ON x.cid = y.cid AND x.band = y.band AND x.bucket = y.bucket
               AND x.vec_id < y.vec_id),
        dropped AS (
          SELECT DISTINCT p.cid, p.vb
          FROM pairs p JOIN embeddings a ON p.va = a.vec_id
                       JOIN embeddings c ON p.vb = c.vec_id
          WHERE floor(list_cosine_similarity(a.embedding::DOUBLE[],
              c.embedding::DOUBLE[]) * 10000 + 0.5) / 10000 > $semDedupTau),
        perc AS (SELECT cid, count(*) n_docs FROM assigned GROUP BY cid),
        drops AS (SELECT cid, count(*) n_dropped FROM dropped GROUP BY cid)
        SELECT perc.cid AS cid, perc.n_docs,
               coalesce(drops.n_dropped, 0) AS n_dropped,
               perc.n_docs - coalesce(drops.n_dropped, 0) AS n_kept
        FROM perc LEFT JOIN drops ON perc.cid = drops.cid
        ORDER BY cid"""
      },
      bench = true),

    // ── product quantization: subspace codebooks + assignment audit ─
    // The ANN-scale compression step q70's int8 path doesn't cover:
    // split the 64-d embedding into 8 subvectors of 8 dims, quantize
    // each against a 16-entry per-subspace codebook (codes = the first
    // 16 vectors' subvectors, the q29 deterministic-codebook
    // convention) — an 8-byte code per vector, 32× smaller than the
    // float32 row. Output is the training audit: per (subspace, code)
    // assignment counts and mean squared reconstruction error.
    //
    // Scale shape: assignment is a narrow per-row argmin over
    // in-closure codebook literals — the q29 recipe, zero shuffle and
    // zero row expansion (the oracle's vec × sub × code cross join is
    // the ORACLE's formulation, not the plan) — followed by one
    // partial-agg groupBy on a 128-key space. The ARGMIN compares
    // r4-rounded distances so ties break identically (then lowest
    // code) in both engines, but the error average runs over the RAW
    // distance: averaging already-rounded multiples of 1e-4 lands the
    // mean EXACTLY on an r4 boundary whenever the rounded sum ≡ count/2
    // (mod count) — a likely event, not a fluke — and FP noise then
    // decides the floor differently per engine (observed at sf0.001).
    "q94_pq_codes" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val cents = centroids(e)
        e.select(col("vec_id"),
            posexplode(array((0 until pqM).map(pqBest(cents, _)): _*))
              .as(Seq("sub", "best")))
          .select(col("sub").cast("long").as("sub"),
            col("best.code").as("code"), col("best.raw").as("raw"))
          .groupBy(col("sub"), col("code"))
          .agg(count(lit(1)).as("n_assigned"),
            graft.analytics.StableRound.r4(avg(col("raw"))).as("avg_err"))
          .orderBy("sub", "code")
      },
      oracle = Some(s"""
        WITH cb AS (SELECT vec_id code, embedding::DOUBLE[] cv
                    FROM embeddings WHERE vec_id < $nCentroids),
        sub AS (SELECT s FROM generate_series(0, 7) t(s)),
        d0 AS (SELECT e.vec_id, sub.s, cb.code,
                list_sum(list_transform(generate_series(1, 8),
                  i -> (e.embedding[sub.s*8 + i]::DOUBLE - cb.cv[sub.s*8 + i])
                     * (e.embedding[sub.s*8 + i]::DOUBLE - cb.cv[sub.s*8 + i])))
                  AS raw
              FROM embeddings e CROSS JOIN sub CROSS JOIN cb),
        d AS (SELECT *, floor(raw * 10000 + 0.5) / 10000 AS d2 FROM d0),
        a AS (SELECT vec_id, s, code, raw FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
                  ORDER BY d2, code) rk
                FROM d) WHERE rk = 1)
        SELECT s AS sub, code, count(*) AS n_assigned,
               floor(avg(raw) * 10000 + 0.5) / 10000 AS avg_err
        FROM a GROUP BY s, code ORDER BY sub, code"""))

    ,

    // ── ADC search: top-k over PQ codes, no vector math per pair ───
    // What the q94 codes exist FOR: asymmetric distance computation.
    // Each query precomputes one 8×16 distance table against the
    // codebooks; a corpus candidate then costs 8 TABLE LOOKUPS + adds
    // instead of a 64-dim float kernel — the classic IVF-PQ scan
    // layout (the corpus stores 8-byte codes, vectors never load).
    //
    // Determinism: table entries are INTEGER ten-thousandths
    // (floor(raw·10⁴+0.5) as long), so per-pair scores are exact
    // integer sums — no FP summation anywhere between the table and
    // the ranking, and the output distance is the exact division by
    // 10⁴ in both engines. Scale shape: codes are the q29-style narrow
    // argmin, queries broadcast with their tables, rerank on
    // TopKPerKey bounded heaps — the corpus is scanned once and never
    // shuffled.
    "q95_pq_adc" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val cents = centroids(e) // collected ONCE for both sides
        adcSearch(e.select(col("vec_id"), pqCodesCol(cents).as("codes")),
          adcQueries(e, cents))
      },
      oracle = Some(adcOracle)),

    // ── ADC search from the materialized PQ-code artifact (q123) ────
    // q95's search with the code table MATERIALIZED ([[PqIndex]]):
    // codes are 8 bytes/vector vs the 256-byte float embedding, so
    // the candidate scan reads a 32×-smaller table — at 100 TB of
    // vectors the ADC pass touches ~3 TB of codes, which is the whole
    // point of PQ as a storage format, and the encode cost (8 argmins
    // × 16 codebook entries per vector) is paid once per dataset
    // fingerprint instead of per query set. Queries still derive their
    // integer distance tables from their own raw embeddings (a
    // bounded broadcast); the rerank tail is q95's verbatim, and the
    // oracle IS q95's — the artifact stores the direct path's own
    // codes, so the two cannot drift. With q121 this completes the
    // serving stack: IVF prunes WHERE to look, PQ compresses WHAT is
    // scanned.
    "q123_adc_from_index" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        adcSearch(PqIndex.codes(s, d), adcQueries(e, centroids(e)))
      },
      oracle = Some(adcOracle),
      bench = true),

    // ── IVF-PQ: the full serving stack in one query (q124) ──────────
    // q121's pruning composed with q123's compression — the FAISS
    // `IVF16,PQ8` shape: the [[IvfPqIndex]] artifact stores each
    // inverted list's PQ CODES as a parquet partition, a query
    // partition-prunes to its nProbe lists and ADC-scans 8-byte codes
    // with its broadcast distance tables. Per-probe bytes touched =
    // (nProbe/nLists) × 1/32 of the corpus — the multiplicative win
    // the two artifacts were built toward. Semantically exactly "q95's
    // ADC restricted to q29's probed lists", which is what the oracle
    // states by composing both replays; recall-vs-q95 is auditable the
    // q117 way.
    "q124_ivfpq_search" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val cents = centroids(e)
        // queries carry BOTH probe targets and ADC tables (bounded)
        val q = e.filter(col("vec_id") < 10).select(col("vec_id")
          .as("query_id"), col("embedding"), adcDtabCol(cents).as("dtab"))
        adcRankTail(probedLists(IvfPqIndex.lists(s, d),
            probes(q, centScores(cents, col("embedding")), nProbe)
              .drop("embedding"))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id"), adcAi.as("ai")))
      },
      oracle = Some(s"""
        WITH $ivfPqPairCtes,
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY ai, vec_id) rk FROM pair)
        SELECT query_id, rk, vec_id, ai / 10000.0 AS adist
        FROM ranked WHERE rk <= 5
        ORDER BY query_id, rk"""),
      bench = true),

    // ── Johnson-Lindenstrauss random projection, integer-exact ──────
    // Dimensionality reduction for the ANN family: project 64-d
    // embeddings to 16-d with a ±1 sign matrix (Achlioptas 2003 —
    // database-friendly JL: sign entries preserve pairwise distances
    // in expectation with the same guarantee as Gaussians), reporting
    // per-label norm preservation ny²/(16·nx²) ≈ 1. The matrix is
    // data-independent, derived once from md5 at object init and
    // interpolated into BOTH engines as literals. All row math is
    // INTEGER: coordinates quantize to floor(x·1e4+0.5) longs, the
    // projection and both squared norms are integer sums (order-free,
    // so per-label sums are exact across any partitioning — no
    // double-summation-order hazard), and the only float ops are the
    // final audited divisions.
    //
    // Scale shape: narrow per-row transform + one map-side-combined
    // groupBy to |labels| rows — projection rides the scan at 100 TB.
    "q105_jl_projection" -> QuerySpec(
      build = (s, d) => {
        val r4 = graft.analytics.StableRound.r4 _
        val xi = transform(col("embedding"),
          x => floor(x.cast("double") * 10000 + lit(0.5)).cast("long"))
        val ys = (0 until jlDim).map { k =>
          aggregate(zip_with(col("xi"), typedlit(jlSigns(k)),
            (a, b) => a * b), lit(0L), (acc, v) => acc + v)
        }
        Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), xi.as("xi"))
          .select(col("vec_id"), col("label"),
            aggregate(transform(col("xi"), v => v * v), lit(0L),
              (acc, v) => acc + v).as("nx2"),
            ys.map(y => y * y).reduce(_ + _).as("ny2"))
          .withColumn("ratio", r4(col("ny2").cast("double") /
            (col("nx2").cast("double") * lit(16.0))))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(col("nx2")).cast("long").as("sum_nx2"),
            sum(col("ny2")).cast("long").as("sum_ny2"),
            min(col("ratio")).as("min_ratio"),
            max(col("ratio")).as("max_ratio"))
          .withColumn("ratio_of_sums", r4(col("sum_ny2").cast("double") /
            (col("sum_nx2").cast("double") * lit(16.0))))
          .orderBy("label")
      },
      oracle = Some {
        def sgn(k: Int) =
          "[" + jlSigns(k).mkString(", ") + "]"
        val yCols = (0 until jlDim).map { k =>
          s"list_sum(list_transform(generate_series(1, $dim), " +
            s"j -> xi[j] * (${sgn(k)})[j])) AS y$k"
        }.mkString(",\n               ")
        val ny2 = (0 until jlDim).map(k => s"y$k*y$k").mkString(" + ")
        s"""
        WITH xi AS (SELECT vec_id, label,
               list_transform(embedding::DOUBLE[],
                 x -> CAST(floor(x*10000 + 0.5) AS BIGINT)) xi
             FROM embeddings),
        y AS (SELECT vec_id, label, xi,
               $yCols
              FROM xi),
        v AS (SELECT vec_id, label,
               CAST(list_sum(list_transform(xi, t -> t*t)) AS BIGINT) nx2,
               CAST($ny2 AS BIGINT) ny2
              FROM y),
        r AS (SELECT *, ${graft.analytics.StableRound.sql4(
                "ny2::DOUBLE / (nx2::DOUBLE * 16.0)")} AS ratio FROM v)
        SELECT label, count(*) AS n_vecs,
               CAST(sum(nx2) AS BIGINT) AS sum_nx2,
               CAST(sum(ny2) AS BIGINT) AS sum_ny2,
               min(ratio) AS min_ratio, max(ratio) AS max_ratio,
               ${graft.analytics.StableRound.sql4(
                 "CAST(sum(ny2) AS BIGINT)::DOUBLE / " +
                 "(CAST(sum(nx2) AS BIGINT)::DOUBLE * 16.0)")}
                 AS ratio_of_sums
        FROM r GROUP BY label ORDER BY label"""
      }),

    // ── hard-negative mining for contrastive training ───────────────
    // The triplet-mining pass of an embedding-training pipeline: for
    // each query, the top-5 nearest vectors with a DIFFERENT label
    // (hard negatives — the pairs a contrastive loss learns most
    // from), next to the best same-label cosine and the per-negative
    // margin pos_cos − neg_cos (≤ 0 means the negative out-ranks
    // every positive: the active triplets).
    //
    // Scale shape: ONE corpus scan. The query set broadcasts; both
    // mining outputs come from a single groupBy(query) aggregate —
    // a 5-slot [[graft.plans.TopKRowsAgg]] heap fed only the
    // different-label rows (null input skips the same-label ones)
    // plus a conditional max for the positive — so the shuffle
    // carries ≤ 5 rows + 1 double per (mapper, query), never the
    // scored corpus. The heap output is rank-sorted by array_sort
    // on its (-cos, vec_id) prefix: k·log k on ≤ 5 elements.
    "q107_hard_negatives" -> QuerySpec(
      build = (s, d) => {
        import org.apache.spark.sql.graft.ColumnBridge.{column => toC, expression => toE}
        val r4 = graft.analytics.StableRound.r4 _
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
            col("label").as("qlabel"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("cos", r4(cosine(col("qe"), col("embedding"))))
        val negStruct = when(col("label") =!= col("qlabel"),
          struct(negate(col("cos")).as("_o1"), col("vec_id").as("_o2"),
            col("label").as("_lab"), col("cos").as("_cos")))
        val topNeg = toC(graft.plans.TopKRowsAgg(toE(negStruct), 5,
          Seq((true, true), (true, true))).toAggregateExpression())
        scored.groupBy(col("query_id"), col("qlabel"))
          .agg(max(when(col("label") === col("qlabel"), col("cos")))
            .as("pos_cos"), topNeg.as("_top"))
          .select(col("query_id"), col("qlabel"), col("pos_cos"),
            posexplode(array_sort(col("_top"))))
          .select(col("query_id"), col("qlabel"), (col("pos") + 1).as("rk"),
            col("col._o2").as("vec_id"), col("col._lab").as("neg_label"),
            col("col._cos").as("cos"), col("pos_cos"))
          .withColumn("margin", r4(col("pos_cos") - col("cos")))
          .orderBy("query_id", "rk")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id query_id, embedding qe, label qlabel
                   FROM embeddings WHERE vec_id < 20),
        scored AS (
          SELECT q.query_id, q.qlabel, b.vec_id, b.label, floor(
            list_cosine_similarity(q.qe::DOUBLE[], b.embedding::DOUBLE[])
            * 10000 + 0.5) / 10000 cos
          FROM q JOIN embeddings b ON b.vec_id != q.query_id),
        pos AS (SELECT query_id, max(cos) pos_cos FROM scored
                WHERE label = qlabel GROUP BY 1),
        neg AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, vec_id) rk
                FROM scored WHERE label != qlabel)
        SELECT n.query_id, n.qlabel, n.rk, n.vec_id, n.label AS neg_label,
               n.cos, p.pos_cos,
               floor((p.pos_cos - n.cos) * 10000 + 0.5) / 10000 AS margin
        FROM neg n LEFT JOIN pos p USING (query_id)
        WHERE n.rk <= 5 ORDER BY n.query_id, n.rk""")),

    // ── ANN recall audit: IVF top-k vs exact top-k, per query ───────
    // The approximation MEASURED, not just run: per query, how many of
    // the exact brute-force top-5 (q28) does the IVF probe path (q29)
    // recover? An ANN index you can't audit is a silent-recall-loss
    // machine at 100 TB — this is the query a pipeline runs after
    // (re)building an index, over a deterministic query sample, before
    // trusting it. Composes the two shipped pipelines unchanged (both
    // oracle-checked on their own), joins at queries×k scale, and
    // reports integer recall percent — order-free, engine-exact.
    //
    // Scale shape: both inputs are bounded-broadcast pipelines over
    // one corpus scan each; the audit join touches ≤ |queries|×k rows.
    // ── IVF-PQ + exact rerank: the refine step (q126) ───────────────
    // The production answer to q125's finding (~28% joint recall from
    // pruning × quantization): take a WIDER ADC shortlist (top-20 per
    // query) from the coded lists, fetch true vectors for the
    // shortlist ONLY (a broadcast semi-join against the corpus — the
    // shortlist is queries×20 rows, so the fetch reads pair-scale
    // vectors, never the corpus), and rerank by exact cosine. The
    // standard FAISS `refine` topology: codes decide WHO is close,
    // vectors decide the ORDER — ADC's quantization error stops
    // mattering beyond shortlist membership. Output shape = q29.
    "q126_ivfpq_rerank" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val cents = centroids(e)
        val qbase = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qe"), adcDtabCol(cents).as("dtab"))
        // wider ADC shortlist from the coded lists (codes decide WHO)
        val shortlist = TopK.perKeyRanked(
            probedLists(IvfPqIndex.lists(s, d),
                probes(qbase, centScores(cents, col("qe")), nProbe).drop("qe"))
              .filter(col("vec_id") =!= col("query_id"))
              .select(col("query_id"), col("vec_id"), adcAi.as("ai")),
            Seq("query_id"), Seq(col("ai").asc, col("vec_id").asc),
            refineShortK, "_srk")
          .select(col("query_id"), col("vec_id"))
        // exact rerank over true vectors (vectors decide the ORDER):
        // the shortlist broadcasts, so the vector fetch is one corpus
        // scan pruned by a broadcast hash join — nothing shuffles
        val cand = e.join(broadcast(shortlist), Seq("vec_id"))
          .join(broadcast(qbase.select(col("query_id"), col("qe"))),
            Seq("query_id"))
          .withColumn("cos",
            graft.analytics.StableRound.r4(cosine(col("qe"), col("embedding"))))
          .select(col("query_id"), col("vec_id"), col("cos"))
        TopK.perKeyRanked(cand, Seq("query_id"),
            Seq(col("cos").desc, col("vec_id")), 5, "rk")
          .select(col("query_id"), col("rk"), col("vec_id"), col("cos"))
          .orderBy("query_id", "rk")
      },
      oracle = Some(s"""
        WITH $ivfPqPairCtes,
        $refineCtes,
        ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id) rk FROM resc)
        SELECT query_id, rk, vec_id, cos FROM ranked WHERE rk <= 5
        ORDER BY query_id, rk"""),
      bench = true),

    // ── IVF-PQ recall audit: the SERVING stack measured (q125) ──────
    // q117's recipe applied to q124: per query, how many of the exact
    // brute-force top-5 (q28) does the pruned+compressed IVF-PQ path
    // recover? Two approximations stack here — list pruning loses
    // candidates, PQ quantization reorders survivors — and this is the
    // query that prices their JOINT recall before an index ships.
    // Composes the shipped pipelines unchanged; queries×k-scale join.
    "q125_ivfpq_recall" -> QuerySpec(
      build = (s, d) => {
        def ranks(name: String) = queries(name).build(s, d)
          .select(col("query_id"), col("vec_id"))
        val exact = ranks("q28_ann_bruteforce")
        val served = ranks("q124_ivfpq_search").withColumn("hit", lit(1L))
        exact.join(served, Seq("query_id", "vec_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
          .orderBy("query_id")
      },
      oracle = Some(s"""
        WITH $ivfPqPairCtes,
        $exactScoredCte,
        exact AS (SELECT query_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) rk FROM scored)
          WHERE rk <= 5),
        served AS (SELECT query_id, vec_id FROM ($pairTop5Sel))
        SELECT e.query_id, count(*) n_exact,
               CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) n_hit,
               CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 100 // count(*) AS BIGINT) recall_pct
        FROM exact e LEFT JOIN served i
          ON i.query_id = e.query_id AND i.vec_id = e.vec_id
        GROUP BY e.query_id ORDER BY e.query_id""")),

    // ── MMR diversified top-5 (q132) ────────────────────────────────
    // Maximal marginal relevance: the top-5 a RAG pipeline actually
    // wants — each pick balances relevance against similarity to what
    // was already picked (λ=0.7), so five near-identical neighbors
    // can't fill the whole context window. Greedy selection is
    // inherently sequential, but k=5 is a CONSTANT: the five steps
    // unroll into five bounded join+argmax rounds over the queries×20
    // shortlist (the q126 shape — the corpus pays ONE scan to fetch
    // candidate vectors via a broadcast semi-join; everything after is
    // shortlist-scale). All arithmetic integer e4: rel and pairwise
    // sims are r4-cosines ×10⁴, the MMR objective is
    // 7000·rel − 3000·maxSim (scale-free monotone), ties break on
    // vec_id — DuckDB replays all five steps exactly.
    "q132_mmr_diversify" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .withColumn("cos",
            graft.analytics.StableRound.r4(cosine(col("qe"), col("embedding"))))
        // persisted: queries×20 rows, reused by all five greedy steps —
        // the corpus cosine scan runs ONCE, not once per step
        val cand = TopK.perKeyRanked(
            scored.select(col("query_id"), col("vec_id"), col("cos")),
            Seq("query_id"), Seq(col("cos").desc, col("vec_id").asc),
            mmrShortK, "_crk")
          .select(col("query_id"), col("vec_id"),
            floor(col("cos") * lit(10000.0) + lit(0.5)).cast("long")
              .as("rel"))
          .persist()
        // candidate vectors: ONE corpus scan pruned by broadcast join
        val cvec = e.join(broadcast(cand.select(col("query_id"),
            col("vec_id"))), Seq("vec_id"))
          .select(col("query_id"), col("vec_id"), col("embedding"))
        val sims = cvec.as("a")
          .join(cvec.as("b"), col("a.query_id") === col("b.query_id")
            && col("a.vec_id") =!= col("b.vec_id"))
          .select(col("a.query_id").as("query_id"),
            col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
            floor(graft.analytics.StableRound.r4(
              cosine(col("a.embedding"), col("b.embedding")))
              * lit(10000.0) + lit(0.5)).cast("long").as("sim"))
          .persist() // queries×20×19 rows, probed by four steps
        // the greedy state is ≤ queries×5 rows — it iterates DRIVER-
        // side (the q29-centroid/q82-convergence discipline: bounded
        // scalars round-trip, corpus-scale work stays in the two
        // persisted frames). Keeping the selection as a growing
        // DataFrame lineage instead re-executes every earlier step on
        // each reference — measured 11 s vs ~1 s for the same answer.
        def pick1(from: org.apache.spark.sql.DataFrame) =
          TopK.perKeyRanked(from, Seq("query_id"),
              Seq(col("mmr").desc, col("vec_id").asc), 1, "_r")
            .select(col("query_id"), col("vec_id"), col("mmr"))
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val picked = scala.collection.mutable.ArrayBuffer[
          (Long, Int, Long, Long)]() // (query_id, rk, vec_id, mmr)
        picked ++= pick1(cand.select(col("query_id"), col("vec_id"),
          (col("rel") * lit(7000L)).as("mmr")))
          .map { case (q, v, m) => (q, 1, v, m) }
        for (k <- 2 to 5) {
          import s.implicits._
          val sel = broadcast(picked.toSeq.map(t => (t._1, t._3))
            .toDF("query_id", "vec_id"))
          val withMs = cand
            .join(sel, Seq("query_id", "vec_id"), "left_anti")
            .join(sims.withColumnRenamed("va", "vec_id"),
              Seq("query_id", "vec_id"))
            .join(sel.withColumnRenamed("vec_id", "vb"),
              Seq("query_id", "vb"))
            .groupBy(col("query_id"), col("vec_id"), col("rel"))
            .agg(max(col("sim")).as("ms"))
            .select(col("query_id"), col("vec_id"),
              (col("rel") * lit(7000L) - col("ms") * lit(3000L))
                .as("mmr"))
          picked ++= pick1(withMs).map { case (q, v, m) => (q, k, v, m) }
        }
        import s.implicits._
        picked.toSeq.sortBy(t => (t._1, t._2))
          .toDF("query_id", "rk", "vec_id", "mmr")
      },
      oracle = Some {
        val steps = (2 to 5).map { k =>
          s"""rem$k AS (SELECT c.* FROM cand c
                 LEFT JOIN sel${k - 1} s ON s.query_id = c.query_id
                   AND s.vec_id = c.vec_id
                 WHERE s.vec_id IS NULL),
        ms$k AS (SELECT r.query_id, r.vec_id, r.rel, max(p.sim) ms
                 FROM rem$k r
                 JOIN sel${k - 1} s ON s.query_id = r.query_id
                 JOIN sims p ON p.query_id = r.query_id
                   AND p.va = r.vec_id AND p.vb = s.vec_id
                 GROUP BY 1, 2, 3),
        s$k AS (SELECT query_id, vec_id,
                  CAST(rel * 7000 - ms * 3000 AS BIGINT) mmr, $k rk
                FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rel * 7000 - ms * 3000 DESC, vec_id) rn
                  FROM ms$k) WHERE rn = 1),
        sel$k AS (SELECT query_id, vec_id FROM sel${k - 1}
                  UNION ALL SELECT query_id, vec_id FROM s$k)"""
        }.mkString(",\n        ")
        s"""
        WITH q AS (SELECT vec_id query_id, embedding qe FROM embeddings
                   WHERE vec_id < 10),
        $exactScoredCte,
        cand AS (SELECT query_id, vec_id,
                   CAST(floor(cos * 10000 + 0.5) AS BIGINT) rel
                 FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cos DESC, vec_id) crk FROM scored)
                 WHERE crk <= $mmrShortK),
        sims AS (SELECT a.query_id, a.vec_id va, b.vec_id vb,
                   CAST(floor(list_cosine_similarity(
                     ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                     * 10000 + 0.5) AS BIGINT) sim
                 FROM cand a
                 JOIN cand b ON b.query_id = a.query_id
                   AND b.vec_id != a.vec_id
                 JOIN embeddings ea ON ea.vec_id = a.vec_id
                 JOIN embeddings eb ON eb.vec_id = b.vec_id),
        s1 AS (SELECT query_id, vec_id,
                 CAST(rel * 7000 AS BIGINT) mmr, 1 rk
               FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, vec_id) rn FROM cand)
               WHERE rn = 1),
        sel1 AS (SELECT query_id, vec_id FROM s1),
        $steps
        SELECT query_id, CAST(rk AS INTEGER) rk, vec_id, mmr
        FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
              UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
              UNION ALL SELECT * FROM s5)
        ORDER BY query_id, rk"""
      },
      bench = true),

    // ── retrieval quality metrics: MRR@5 / nDCG@5 vs labels (q131) ──
    // The recall audits (q117/q125) measure the index against the
    // exact ranking; this measures every system — exact included —
    // against ground-truth RELEVANCE (the label column): per query,
    // hits@5, MRR (10000 div first-relevant-rank) and nDCG@5. The
    // log2 discount weights are computed ONCE driver-side and
    // interpolated into both the Spark plan and the oracle as integer
    // e4 literals — no runtime transcendentals, so the sums are
    // order-free exact cross-engine. IDCG handles the general
    // nrel < 5 case (on this balanced fixture every label has ≥ 40
    // members, so the full-5 branch is the one exercised — the spec
    // asserts that). Composes the shipped pipelines unchanged;
    // everything after the rankings is queries×k scale.
    "q131_retrieval_metrics" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val lbl = e.select(col("vec_id"), col("label"))
        val qlbl = lbl.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
        val nrel = lbl.join(broadcast(qlbl),
            col("label") === col("qlabel")
              && col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id")).agg(count(lit(1)).as("n_rel"))
        def ranks(name: String, sysName: String) = queries(name)
          .build(s, d)
          .select(col("query_id"), col("rk").cast("int").as("rk"),
            col("vec_id"))
          .withColumn("system", lit(sysName))
        val all = ranks("q28_ann_bruteforce", "exact")
          .unionByName(ranks("q124_ivfpq_search", "ivfpq"))
          .unionByName(ranks("q126_ivfpq_rerank", "refined"))
        val w = typedlit(0L +: ndcgW)      // 1-indexed by rank
        val wc = typedlit(0L +: ndcgWCum)  // 1-indexed by #relevant
        // label enrichment BROADCASTS the queries×k ranking frame into
        // the corpus-scale label scan (never the labels to the
        // rankings — that side grows with the corpus)
        val perQ0 = lbl.join(broadcast(all), Seq("vec_id"))
          .join(broadcast(qlbl), Seq("query_id"))
          .withColumn("rel", (col("label") === col("qlabel")).cast("long"))
          .groupBy(col("system"), col("query_id"))
          .agg(sum(col("rel")).as("hits"),
            sum(col("rel") * element_at(w, col("rk") + 1)).as("dcg"),
            min(when(col("rel") === 1, col("rk"))).as("frank"))
        // a system that returns NO rows for some query must average a
        // zero for it, not silently drop it from its own mean — score
        // every (system, query) cell of the full cross
        val sysQ = Seq("exact", "ivfpq", "refined")
          .map(n => qlbl.select(col("query_id"))
            .withColumn("system", lit(n)))
          .reduce(_ unionByName _)
        val perQ = sysQ.join(perQ0, Seq("system", "query_id"), "left")
          .withColumn("hits", coalesce(col("hits"), lit(0L)))
          .withColumn("dcg", coalesce(col("dcg"), lit(0L)))
          .join(broadcast(nrel), Seq("query_id"), "left")
          .withColumn("idcg", element_at(wc,
            least(coalesce(col("n_rel"), lit(0L)), lit(5L)).cast("int")
              + 1))
          .withColumn("mrr",
            coalesce(expr("CAST(10000 div frank AS BIGINT)"), lit(0L)))
          .withColumn("ndcg", when(col("idcg") === 0L, lit(0L))
            .otherwise(expr("CAST((dcg * 10000) div idcg AS BIGINT)")))
        perQ.groupBy(col("system"))
          .agg(count(lit(1)).as("n_queries"),
            sum(col("hits")).as("hits5"),
            expr("CAST(sum(mrr) div count(1) AS BIGINT)").as("mrr_e4"),
            expr("CAST(sum(ndcg) div count(1) AS BIGINT)").as("ndcg_e4"))
          .orderBy("system")
      },
      oracle = Some {
        val wCase = (1 to 5).map(r =>
          s"WHEN $r THEN ${ndcgW(r - 1)}").mkString(" ")
        val wcCase = (1 to 5).map(k =>
          s"WHEN $k THEN ${ndcgWCum(k - 1)}").mkString(" ")
        s"""
        WITH $ivfPqPairCtes,
        lab AS (SELECT vec_id, label FROM embeddings),
        qlab AS (SELECT vec_id query_id, label qlabel FROM embeddings
                 WHERE vec_id < 10),
        nrel AS (SELECT q.query_id, count(*) n_rel FROM qlab q
                 JOIN lab b ON b.label = q.qlabel
                   AND b.vec_id != q.query_id
                 GROUP BY 1),
        $exactScoredCte,
        e5 AS (SELECT query_id, rk, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) rk FROM scored)
          WHERE rk <= 5),
        p5 AS ($pairTop5Sel),
        $refineCtes,
        r5 AS (SELECT query_id, rk, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) rk FROM resc)
          WHERE rk <= 5),
        allr AS (SELECT 'exact' AS "system", query_id, rk, vec_id FROM e5
                 UNION ALL
                 SELECT 'ivfpq' AS "system", query_id, rk, vec_id FROM p5
                 UNION ALL
                 SELECT 'refined' AS "system", query_id, rk, vec_id FROM r5),
        perq AS (SELECT a."system", a.query_id,
                   CAST(sum(CASE WHEN l.label = ql.qlabel THEN 1
                     ELSE 0 END) AS BIGINT) hits,
                   CAST(sum(CASE WHEN l.label = ql.qlabel THEN
                     CASE a.rk $wCase ELSE 0 END ELSE 0 END)
                     AS BIGINT) dcg,
                   min(CASE WHEN l.label = ql.qlabel THEN a.rk END) frank
                 FROM allr a
                 JOIN lab l ON l.vec_id = a.vec_id
                 JOIN qlab ql ON ql.query_id = a.query_id
                 GROUP BY 1, 2),
        sysq AS (SELECT s."system", ql.query_id FROM (VALUES ('exact'),
                   ('ivfpq'), ('refined')) s("system") CROSS JOIN qlab ql),
        met AS (SELECT sq."system", sq.query_id, coalesce(p.hits, 0) hits,
                  coalesce(10000 // p.frank, 0) mrr,
                  CASE WHEN coalesce(n.n_rel, 0) = 0 THEN 0
                    ELSE (coalesce(p.dcg, 0) * 10000) //
                      (CASE least(n.n_rel, 5) $wcCase ELSE 0 END) END ndcg
                FROM sysq sq
                LEFT JOIN perq p ON p."system" = sq."system"
                  AND p.query_id = sq.query_id
                LEFT JOIN nrel n ON n.query_id = sq.query_id)
        SELECT "system", count(*) n_queries,
               CAST(sum(hits) AS BIGINT) hits5,
               CAST(sum(mrr) // count(*) AS BIGINT) mrr_e4,
               CAST(sum(ndcg) // count(*) AS BIGINT) ndcg_e4
        FROM met GROUP BY 1 ORDER BY 1"""
      }),

    // ── hybrid retrieval: BM25 + vector fused by reciprocal rank ────
    // The standard two-tower retrieval shape: the SAME query set (docs
    // 0..5, whose embeddings share the documents id space) is answered
    // lexically (q111's BM25 top-5, composed unchanged) and
    // semantically (exact cosine top-5 — self INCLUDED, mirroring
    // BM25, whose query docs score on their own terms), and the two
    // rankings merge by reciprocal-rank fusion: each list contributes
    // 1/(60+rank), a rank-only formula immune to the incomparable
    // score scales (BM25 e4 integers vs cosine) — contributions are
    // integer millionths (1000000 div (60+rank)) so the fused sums are
    // order-free exact. Scale: both inputs are audited serving paths
    // (q129 IS this query from the index artifacts); the fusion
    // itself joins two queries×5 lists — driver-trivial forever.
    "q127_hybrid_rrf" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") <= 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qe"))
        val cand = e.crossJoin(broadcast(q))
          .withColumn("cos",
            graft.analytics.StableRound.r4(cosine(col("qe"), col("embedding"))))
          .select(col("qid"), col("vec_id").as("doc_id"), col("cos"))
        rrfFuse(
          graft.text.CurationQueries.queries("q111_bm25_topk").build(s, d),
          cand)
      },
      oracle = Some(s"""
        WITH ${graft.text.CurationQueries.bm25RankCtes},
        vq AS (SELECT vec_id qid, embedding qe FROM embeddings
               WHERE vec_id <= 5),
        vsc AS (SELECT vq.qid, b.vec_id doc_id, floor(
                  list_cosine_similarity(vq.qe::DOUBLE[], b.embedding::DOUBLE[])
                  * 10000 + 0.5) / 10000 cos
                FROM vq CROSS JOIN embeddings b),
        $rrfTailSql"""),
      bench = true),

    // ── hybrid retrieval SERVED from the index artifacts (q129) ─────
    // q127's production twin: the text ranking comes from the
    // partition-pruned Bm25Index (q116 — bit-identical to q111, shared
    // oracle) and the vector ranking from the partition-pruned
    // [[ivfFlat]] lists (q121's probe shape under q127's query semantics:
    // qid <= 5, self included). Per-query cost is postings-scale +
    // probed-lists-scale — nothing corpus-scale moves at read time.
    // The vector side is IVF-APPROXIMATE, so this is its own declared
    // semantics (not q127's oracle): the replay restricts the cosine
    // ranking to the probed lists' members exactly as the build does.
    "q129_hybrid_from_index" -> QuerySpec(
      build = (s, d) => {
        val (text, cand) = hybridIndexInputs(s, d)
        rrfFuse(text, cand)
      },
      oracle = Some(s"""
        WITH ${graft.text.CurationQueries.bm25RankCtes},
        $centCte,
        $assignedCte,
        vq AS (SELECT vec_id qid, embedding qe FROM embeddings
               WHERE vec_id <= 5),
        ${probesCte("vq", "qid")},
        vsc AS (SELECT p.qid, a.vec_id doc_id, floor(
                  list_cosine_similarity(p.qe::DOUBLE[], a.embedding::DOUBLE[])
                  * 10000 + 0.5) / 10000 cos
                FROM probes p JOIN assigned a ON a.cid = p.cid),
        $rrfTailSql"""),
      bench = true),

    "q117_ann_recall" -> QuerySpec(
      build = (s, d) => {
        def ranks(name: String) = queries(name).build(s, d)
          .select(col("query_id"), col("vec_id"))
        val exact = ranks("q28_ann_bruteforce")
        val ivf = ranks("q29_ann_ivf").withColumn("hit", lit(1L))
        exact.join(ivf, Seq("query_id", "vec_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_exact"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .withColumn("recall_pct", expr("(n_hit * 100) div n_exact"))
          .orderBy("query_id")
      },
      oracle = Some(s"""
        WITH $centCte,
        $ivfRankedCtes,
        $exactScoredCte,
        exact AS (SELECT query_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) rk FROM scored)
          WHERE rk <= 5)
        SELECT e.query_id, count(*) n_exact,
               CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) n_hit,
               CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 * 100 // count(*) AS BIGINT) recall_pct
        FROM exact e LEFT JOIN ivf i
          ON i.query_id = e.query_id AND i.vec_id = e.vec_id
        GROUP BY e.query_id ORDER BY e.query_id""")),

    // ── nProbe recall/cost sweep (r14) ─────────────────────────────
    // The tuning table an IVF index owner reads before fixing nProbe
    // (the q154 threshold-sweep discipline on the ANN stack): for each
    // probe budget p ∈ {1,2,4,8}, recall@5 against the exact top-5
    // AND the rows the probe pass would scan — the cost the recall is
    // bought with. Key identity making this one bounded pass instead
    // of four searches: an exact neighbor is recovered at budget p iff
    // the CENTROID RANK of its assigned list (in the query's
    // preference order) is ≤ p — the rerank can never drop a true
    // top-5 member once its list is probed (it outscores every other
    // candidate by definition, under the shared (cos, vec_id) tie
    // order). So the sweep is: exact top-5 (q28 composed unchanged) ⋈
    // assignment (the [[ivfFlat]] artifact) ⋈ the query's 16-row rank
    // frame, then four conditional sums over a 50-row frame — q28's
    // one corpus pass is the only corpus-scale work, and the scan-cost
    // column folds the per-list census against the same rank frame.
    "q184_nprobe_sweep" -> QuerySpec(
      build = (s, d) => {
        val e = Tables.embeddings(s, d)
        val cents = centroids(e)
        val budgets = Seq(1, 2, 4, 8)
        val exact = queries("q28_ann_bruteforce").build(s, d)
          .select(col("query_id"), col("vec_id"))
        val assigned = VectorStore.lists(s, ivfFlat(s, d))
          .select(col("vec_id"), col("_c").cast("long").as("cid"))
        // per query, the full centroid preference order (10×16 rows)
        val qrank = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"),
            posexplode(reverse(array_sort(
              centScores(cents, col("embedding"))))).as(Seq("pos", "p")))
          .select(col("query_id"), (col("pos") + 1).as("crank"),
            (-col("p.n")).as("cid"))
        val ranked = exact.join(assigned, Seq("vec_id"))
          .join(qrank, Seq("query_id", "cid"))
        val hits = ranked.agg(
            count(lit(1)).as("ne"),
            budgets.map(p => sum(when(col("crank") <= p, 1L).otherwise(0L))
              .as(s"h$p")): _*)
          .select(expr(s"stack(${budgets.size}, " +
            budgets.map(p => s"$p, h$p").mkString(", ") +
            ") as (nprobe, n_hit)"), col("ne").as("n_exact"))
        val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("ln"))
        val scans = qrank.join(sizes, Seq("cid"))
          .agg(budgets.map(p =>
            sum(when(col("crank") <= p, col("ln")).otherwise(0L))
              .as(s"s$p")).head,
            budgets.map(p =>
              sum(when(col("crank") <= p, col("ln")).otherwise(0L))
                .as(s"s$p")).tail: _*)
          .select(expr(s"stack(${budgets.size}, " +
            budgets.map(p => s"$p, s$p").mkString(", ") +
            ") as (nprobe, n_scored)"))
        hits.join(scans, Seq("nprobe"))
          .select(col("nprobe"), col("n_exact"), col("n_hit"),
            expr("n_hit * 100 div n_exact").as("recall_pct"),
            col("n_scored"))
          .orderBy("nprobe")
      },
      oracle = Some(s"""
        WITH q AS (SELECT vec_id query_id, embedding qe FROM embeddings
                   WHERE vec_id < 10),
        $exactScoredCte,
        exact AS (SELECT query_id, vec_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos DESC, vec_id) rk FROM scored)
          WHERE rk <= 5),
        $centCte,
        $assignedCte,
        qrank AS (
          SELECT query_id, cid, crank FROM (
            SELECT q.query_id, cent.cid, ROW_NUMBER() OVER (
                PARTITION BY q.query_id
                ORDER BY floor(list_cosine_similarity(
                  cent.ce::DOUBLE[], q.qe::DOUBLE[]) * 10000 + 0.5) / 10000
                  DESC, cent.cid) crank
            FROM q CROSS JOIN cent)),
        sizes AS (SELECT cid, count(*) ln FROM assigned GROUP BY cid),
        r AS (SELECT e.query_id, qr.crank FROM exact e
              JOIN assigned a ON a.vec_id = e.vec_id
              JOIN qrank qr ON qr.query_id = e.query_id AND qr.cid = a.cid),
        b AS (SELECT * FROM (VALUES (1), (2), (4), (8)) t(nprobe)),
        hits AS (SELECT b.nprobe, count(*) n_exact,
                 CAST(sum(CASE WHEN r.crank <= b.nprobe THEN 1 ELSE 0 END)
                   AS BIGINT) n_hit
                 FROM b CROSS JOIN r GROUP BY b.nprobe),
        scans AS (SELECT b.nprobe, CAST(sum(s.ln) AS BIGINT) n_scored
                  FROM b CROSS JOIN qrank qr JOIN sizes s ON s.cid = qr.cid
                  WHERE qr.crank <= b.nprobe GROUP BY b.nprobe)
        SELECT h.nprobe, h.n_exact, h.n_hit,
               CAST(h.n_hit * 100 // h.n_exact AS BIGINT) AS recall_pct,
               s.n_scored
        FROM hits h JOIN scans s ON s.nprobe = h.nprobe
        ORDER BY h.nprobe"""),
      bench = true)
  )
}
