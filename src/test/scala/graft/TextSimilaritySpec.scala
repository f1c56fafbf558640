package graft

import graft.text.TextFunctions._
import graft.similarity.VectorFunctions._
import org.apache.spark.sql.functions._

/** Unit tests for the LLM-pipeline text/vector functions; the heavy
  * cross-engine checks live in the DuckDB-oracled queries (q20-q29). */
class TextSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("tokens / counts / shingles") {
    val df = Seq("the quick brown fox jumps").toDF("text")
    val r = df.select(
      token_count($"text").as("n"),
      subword_count($"text").as("sw"),
      shingles($"text", 3).as("sh")).collect()(0)
    assert(r.getAs[Int]("n") == 5)
    // ceil: the=1 quick=2 brown=2 fox=1 jumps=2
    assert(r.getAs[Long]("sw") == 8)
    assert(r.getAs[scala.collection.Seq[String]]("sh").toSeq == Seq(
      "the quick brown", "quick brown fox", "brown fox jumps"))
    // short doc: no 3-shingles
    val r2 = Seq("one two").toDF("text")
      .select(shingles($"text", 3).as("sh")).collect()(0)
    assert(r2.getAs[scala.collection.Seq[String]]("sh").isEmpty)
  }

  test("lang_id picks stopword-dominant language, und when none") {
    val df = Seq(
      "el perro y la casa de que un dia",   // es
      "the cat of the house and it was",    // en
      "der hund und die katze ist ein",     // de
      "zzz qqq xxx").toDF("text")
    assert(df.select(lang_id($"text")).collect().map(_.getString(0)).toSeq ==
      Seq("es", "en", "de", "und"))
  }

  test("quality_score bounded and fingerprint normalizes") {
    val df = Seq("The  Quick   Fox", "the quick fox").toDF("text")
    val fps = df.select(doc_fingerprint($"text").as("fp")).collect()
    assert(fps(0).getString(0) == fps(1).getString(0)) // case+space insensitive
    val q = Seq("some reasonable text with the and of it")
      .toDF("text").select(quality_score($"text")).collect()(0).getDouble(0)
    assert(q >= 0.0 && q <= 1.0)
  }

  test("cosine: orthogonal, identical, opposite") {
    val df = Seq(
      (Array(1f, 0f), Array(0f, 1f)),
      (Array(1f, 2f), Array(1f, 2f)),
      (Array(1f, 0f), Array(-1f, 0f))).toDF("a", "b")
    val r = df.select(round(cosine($"a", $"b"), 6).as("c"))
      .collect().map(_.getDouble(0)).toSeq
    assert(r == Seq(0.0, 1.0, -1.0))
  }

  test("minhash lsh finds a planted near-duplicate") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 40).map(i => if (i == 7) "CHANGED" else s"tok$i").mkString(" ")
    val other = (100 to 140).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, base, "en"), (1L, nearDup, "en"), (2L, other, "en"))
      .toDF("doc_id", "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("mh").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = graft.text.TextQueries.queries("q25_minhash_lsh")
      .build(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)))
    assert(!pairs.exists { case (a, b) => b == 2L || a == 2L })
  }

  test("q67 LSH near-dup finds planted duplicates and agrees with exact q27") {
    // planted: vec 1 is a tiny perturbation of vec 0 (cos ≈ 1, same LSH
    // signs), vec 2 is its negation (cos = -1, opposite bucket)
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val near = base.map(v => v * 1.01f + 0.001f)
    val far = base.map(v => -v)
    val others = (3L to 20L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), 1))
    val rows = Seq((0L, base, 1), (1L, near, 1), (2L, far, 1)) ++ others
    val dir = java.nio.file.Files.createTempDirectory("lshnd").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val lsh = graft.similarity.SimilarityQueries.queries("q67_neardup_lsh")
      .build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.contains((0L, 1L)), s"planted near-dup not recalled: $lsh")
    assert(!lsh.exists { case (a, b) => a == 2L || b == 2L },
      "negated vector must not pair with anything above threshold")

    // every LSH pair must also be an exact-q27 pair (same threshold):
    // candidates are a subset, the rerank is the same exact cosine
    val exact = graft.similarity.SimilarityQueries.queries("q27_embedding_neardup")
      .build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH pairs not a subset of exact: ${lsh -- exact}")
  }

  test("q90 SemDeDup: conservation + agrees with a self-join reference") {
    import graft.similarity.SimilarityQueries.hyperplaneBand
    import graft.analytics.{StableRound, Tables}
    val d = "/root/testdata/sf0.001"
    val out = graft.similarity.SimilarityQueries.queries("q90_semdedup")
      .build(spark, d).collect()
    assert(out.length == 16)
    out.foreach(r => assert(r.getAs[Long]("n_docs") ==
      r.getAs[Long]("n_dropped") + r.getAs[Long]("n_kept")))
    assert(out.map(_.getAs[Long]("n_dropped")).sum > 0,
      "the corpus' planted near-dups must produce at least one drop")

    // reference formulation: same assignment + banding, but candidate
    // pairs via a SELF-JOIN on (cid, matching band signature) instead
    // of the posting-list expansion — pins the one-shuffle path
    val e = Tables.embeddings(spark, d)
    val cents = e.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def scores(v: org.apache.spark.sql.Column) =
      array(cents.map { case (cid, vec) =>
        struct(StableRound.r4(cosine(typedlit(vec), v)).as("c"),
          lit(-cid).as("n"))
      }.toIndexedSeq: _*)
    val assigned = e.select(col("vec_id"), col("embedding"),
      (-array_max(scores(col("embedding"))).getField("n")).as("cid"),
      hyperplaneBand(col("embedding"), 0).as("s0"),
      hyperplaneBand(col("embedding"), 1).as("s1"))
    val x = assigned.select(col("vec_id").as("va"), col("cid"),
      col("embedding").as("ea"), col("s0"), col("s1"))
    val y = assigned.select(col("vec_id").as("vb"), col("cid").as("cidB"),
      col("embedding").as("eb"), col("s0").as("t0"), col("s1").as("t1"))
    val refDrops = x.join(y, col("cid") === col("cidB") &&
        col("va") < col("vb") &&
        (col("s0") === col("t0") || col("s1") === col("t1")))
      .filter(StableRound.r4(cosine(col("ea"), col("eb"))) > 0.4)
      .select(col("cid"), col("vb")).distinct()
      .groupBy("cid").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    out.foreach { r =>
      assert(r.getAs[Long]("n_dropped") ==
        refDrops.getOrElse(r.getAs[Long]("cid"), 0L),
        s"cluster ${r.getAs[Long]("cid")} drop count diverges")
    }
  }

  test("q94 PQ assignment replays driver-side (argmin, ties, counts)") {
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val d = "/root/testdata/sf0.001"
    val vecs = graft.analytics.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val cb = vecs.filter(_._1 < 16).sortBy(_._1)
    val expected = scala.collection.mutable.Map[(Long, Long), Long]()
    vecs.foreach { case (_, v) =>
      for (s <- 0 until 8) {
        val best = cb.map { case (code, cv) =>
          var d2 = 0.0
          for (i <- 0 until 8) {
            val diff = v(s * 8 + i) - cv(s * 8 + i)
            d2 += diff * diff
          }
          (r4(d2), code)
        }.min // (d2, code) lexicographic: min distance, tie lowest code
        expected(s.toLong -> best._2) =
          expected.getOrElse(s.toLong -> best._2, 0L) + 1
      }
    }
    val got = graft.similarity.SimilarityQueries.queries("q94_pq_codes")
      .build(spark, d).collect()
    assert(got.map(_.getAs[Long]("n_assigned")).sum == vecs.length * 8L)
    got.foreach { r =>
      val key = (r.getAs[Long]("sub"), r.getAs[Long]("code"))
      assert(r.getAs[Long]("n_assigned") == expected.getOrElse(key, 0L),
        s"cell $key count diverges")
      assert(r.getAs[Double]("avg_err") >= 0.0)
    }
    assert(got.length == expected.size)
  }

  test("q95 ADC top-k replays driver-side from codes + distance tables") {
    def r4i(x: Double) = math.floor(x * 10000 + 0.5).toLong
    val d = "/root/testdata/sf0.001"
    val vecs = graft.analytics.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray.map(_.toDouble)))
    val cb = vecs.filter(_._1 < 16).sortBy(_._1)
    def rawDist(v: Array[Double], cv: Array[Double], s: Int): Double = {
      var d2 = 0.0
      for (i <- 0 until 8) {
        val diff = v(s * 8 + i) - cv(s * 8 + i); d2 += diff * diff
      }
      d2
    }
    // codes: argmin over r4-rounded distances, tie lowest code
    val codes = vecs.map { case (id, v) =>
      id -> Array.tabulate(8)(s =>
        cb.map { case (code, cv) => (r4i(rawDist(v, cv, s)), code) }.min._2)
    }.toMap
    // queries: integer ten-thousandth tables; expected top-5 per query
    val expected = vecs.filter(_._1 < 10).flatMap { case (qid, qv) =>
      val dtab = Array.tabulate(8, 16)((s, c) => r4i(rawDist(qv, cb(c)._2, s)))
      vecs.filter(_._1 != qid).map { case (vid, _) =>
        val ai = (0 until 8).map(s => dtab(s)(codes(vid)(s).toInt)).sum
        (qid, ai, vid)
      }.sortBy { case (_, ai, vid) => (ai, vid) }.take(5).zipWithIndex
        .map { case ((q, ai, vid), i) =>
          (q, (i + 1).toLong, vid, ai / 10000.0) }
    }.sortBy(t => (t._1, t._2))
    val got = graft.similarity.SimilarityQueries.queries("q95_pq_adc")
      .build(spark, d).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("vec_id"), r.getAs[Double]("adist"))).toSeq
    assert(got == expected.toSeq, s"ADC replay diverged:\n got $got")
  }

  test("q105 JL projection replays driver-side and preserves norms") {
    val d = "/root/testdata/sf0.001"
    val signs = graft.similarity.SimilarityQueries.jlSigns
    val vecs = graft.analytics.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2).toArray))
    val perVec = vecs.map { case (label, v) =>
      val xi = v.map(x => math.floor(x.toDouble * 10000 + 0.5).toLong)
      val nx2 = xi.map(t => t * t).sum
      val ny2 = (0 until 16).map { k =>
        val y = xi.indices.map(j => xi(j) * signs(k)(j)).sum
        y * y
      }.sum
      (label, nx2, ny2,
        math.floor(ny2.toDouble / (nx2.toDouble * 16.0) * 10000 + 0.5) / 10000)
    }
    val exp = perVec.groupBy(_._1).map { case (l, vs) =>
      l -> (vs.length.toLong, vs.map(_._2).sum, vs.map(_._3).sum,
        vs.map(_._4).min, vs.map(_._4).max)
    }
    val got = graft.similarity.SimilarityQueries.queries("q105_jl_projection")
      .build(spark, d).collect()
    assert(got.map(_.getInt(0)).toSet == exp.keySet)
    got.foreach { r =>
      val e = exp(r.getInt(0))
      assert((r.getAs[Long]("n_vecs"), r.getAs[Long]("sum_nx2"),
        r.getAs[Long]("sum_ny2"), r.getAs[Double]("min_ratio"),
        r.getAs[Double]("max_ratio")) == e, s"label ${r.getInt(0)}")
      // the JL point: aggregate norm preservation within ~15%
      val ratio = r.getAs[Double]("ratio_of_sums")
      assert(ratio > 0.85 && ratio < 1.15, s"norms not preserved: $ratio")
    }
  }

  test("q107 hard negatives replay driver-side (ranking, labels, margins)") {
    val d = "/root/testdata/sf0.001"
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val vecs = graft.analytics.Tables.embeddings(spark, d)
      .select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val expected = vecs.filter(_._1 < 20).sortBy(_._1).flatMap {
      case (qid, qlab, qv) =>
        val scored = vecs.filter(_._1 != qid)
          .map { case (vid, lab, v) => (vid, lab, r4(cos(qv, v))) }
        val posCos = scored.filter(_._2 == qlab).map(_._3).max
        scored.filter(_._2 != qlab)
          .sortBy { case (vid, _, c) => (-c, vid) }.take(5).zipWithIndex
          .map { case ((vid, lab, c), i) =>
            (qid, qlab, i + 1, vid, lab, c, posCos, r4(posCos - c)) }
    }
    val got = graft.similarity.SimilarityQueries.queries("q107_hard_negatives")
      .build(spark, d).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("qlabel"),
        r.getAs[Int]("rk"), r.getAs[Long]("vec_id"),
        r.getAs[Int]("neg_label"), r.getAs[Double]("cos"),
        r.getAs[Double]("pos_cos"), r.getAs[Double]("margin")))
    assert(got.toSeq == expected.toSeq)
    // the mining constraint: every returned negative crosses labels
    assert(got.forall(r => r._5 != r._2), "a same-label vector leaked in")
    assert(got.length == 100, "20 queries x 5 negatives")
  }

  test("q117 ANN recall audit equals a direct q28/q29 set intersection") {
    val d = "/root/testdata/sf0.001"
    def topSet(name: String) =
      graft.similarity.SimilarityQueries.queries(name).build(spark, d)
        .select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = topSet("q28_ann_bruteforce")
    val ivf = topSet("q29_ann_ivf")
    val got = graft.similarity.SimilarityQueries.queries("q117_ann_recall")
      .build(spark, d).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == exact.keySet, "one audit row per query")
    got.foreach { case (q, (nExact, nHit, pct)) =>
      assert(nExact == 5 && exact(q).size == 5)
      val inter = exact(q).intersect(ivf.getOrElse(q, Set.empty)).size.toLong
      assert(nHit == inter,
        s"query $q: audit says $nHit, direct intersection $inter")
      assert(pct == nHit * 100 / nExact)
    }
  }

  test("q118 LSH audit equals a direct q24/q25 pair-set intersection") {
    val d = "/root/testdata/sf0.001"
    def pairSet(name: String) =
      graft.text.TextQueries.queries(name).build(spark, d)
        .select("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("q24_jaccard_pairs")
    val lsh = pairSet("q25_minhash_lsh")
    val r = graft.text.TextQueries.queries("q118_lsh_audit")
      .build(spark, d).collect()
    assert(r.length == 1, "one audit row per corpus")
    val row = r(0)
    assert(row.getAs[Long]("n_exact") == exact.size.toLong)
    assert(row.getAs[Long]("n_lsh") == lsh.size.toLong)
    val hit = exact.intersect(lsh).size
    assert(row.getAs[Long]("n_hit") == hit.toLong)
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    assert(row.getAs[Double]("precision_lsh") == r4(hit.toDouble / lsh.size))
    assert(row.getAs[Double]("recall_lsh") == r4(hit.toDouble / exact.size))
  }

  test("q121 ANN from the IVF index equals the direct q29 search") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def rows(name: String) = graft.similarity.SimilarityQueries
        .queries(name).build(spark, d).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      val direct = rows("q29_ann_ivf")
      val served = rows("q121_ann_from_index")
      assert(served.nonEmpty)
      assert(served == direct,
        "index-served search must equal the direct IVF search row-for-row")
      // second invocation reads the materialized lists and matches
      assert(rows("q121_ann_from_index") == direct)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q123 ADC from the PQ-code artifact equals the direct q95 search") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-pq-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def rows(name: String) = graft.similarity.SimilarityQueries
        .queries(name).build(spark, d).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      val direct = rows("q95_pq_adc")
      val served = rows("q123_adc_from_index")
      assert(served.nonEmpty)
      assert(served == direct,
        "code-artifact search must equal the direct ADC search row-for-row")
      assert(rows("q123_adc_from_index") == direct)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q124 IVF-PQ search matches a full driver-side replay") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpq-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val emb = graft.analytics.Tables.embeddings(spark, d)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1)
      def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
      val cents = emb.takeWhile(_._1 < 16)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i)
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      // assignment / probes: r4 cosine desc, cid asc ties
      def rankedCids(v: Array[Float]) = cents
        .map { case (cid, cv) => (r4(cos(cv, v)), cid) }
        .sortBy { case (c, cid) => (-c, cid) }.map(_._2)
      val assign = emb.map { case (id, v) => id -> rankedCids(v).head }.toMap
      // PQ: raw squared-L2 per 8-dim subspace, left-to-right double sum
      def raw(sub: Int, cv: Array[Float], v: Array[Float]): Double = {
        var acc = 0.0
        for (i <- 0 until 8) {
          val x = v(sub * 8 + i).toDouble - cv(sub * 8 + i)
          acc += x * x
        }
        acc
      }
      val codes = emb.map { case (id, v) =>
        id -> (0 until 8).map { sub =>
          cents.map { case (code, cv) => (r4(raw(sub, cv, v)), code) }
            .minBy { case (d2, code) => (d2, code) }._2
        }
      }.toMap
      val expected = emb.filter(_._1 < 10).flatMap { case (qid, qv) =>
        val probed = rankedCids(qv).take(2).toSet
        val dt = (0 until 8).map(sub => cents.map { case (_, cv) =>
          math.floor(raw(sub, cv, qv) * 10000 + 0.5).toLong })
        emb.filter { case (vid, _) =>
          vid != qid && probed(assign(vid)) }
          .map { case (vid, _) =>
            val ai = (0 until 8).map(sub =>
              dt(sub)(codes(vid)(sub).toInt)).sum
            (ai, vid) }
          .sortBy(identity).take(5).zipWithIndex
          .map { case ((ai, vid), i) =>
            (qid, i + 1, vid, ai.toDouble / 10000.0) }
      }.toSeq
      def run() = graft.similarity.SimilarityQueries
        .queries("q124_ivfpq_search").build(spark, d).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSeq
      val got = run()
      assert(got.nonEmpty && got == expected)
      // artifact reuse returns identical rows
      assert(run() == got)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q125 IVF-PQ recall audit equals a direct q28/q124 set intersection") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-ivfpqr-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def topSet(name: String) =
        graft.similarity.SimilarityQueries.queries(name).build(spark, d)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val exact = topSet("q28_ann_bruteforce")
      val served = topSet("q124_ivfpq_search")
      val got = graft.similarity.SimilarityQueries.queries("q125_ivfpq_recall")
        .build(spark, d).collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(got.keySet == exact.keySet, "one audit row per query")
      got.foreach { case (q, (nExact, nHit, pct)) =>
        assert(nExact == 5)
        val inter = exact(q).intersect(served.getOrElse(q, Set.empty)).size.toLong
        assert(nHit == inter, s"query $q: audit $nHit, direct $inter")
        assert(pct == nHit * 100 / nExact)
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q126 exact rerank recovers recall the raw IVF-PQ ranking loses") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-refine-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def topSet(name: String) =
        graft.similarity.SimilarityQueries.queries(name).build(spark, d)
          .select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val exact = topSet("q28_ann_bruteforce")
      val raw = topSet("q124_ivfpq_search")
      val refined = topSet("q126_ivfpq_rerank")
      assert(refined.keySet == exact.keySet)
      var rawHits = 0; var refinedHits = 0
      exact.foreach { case (q, ex) =>
        rawHits += ex.intersect(raw.getOrElse(q, Set.empty)).size
        refinedHits += ex.intersect(refined.getOrElse(q, Set.empty)).size
      }
      // the refine step must not LOSE recall overall, and on this
      // fixture it strictly gains (ADC misorders the shortlist)
      assert(refinedHits > rawHits,
        s"refine must recover recall: raw $rawHits, refined $refinedHits")
      // every refined result still respects the pruning: its assigned
      // centroid must be one of the query's probed centroids
      val emb = graft.analytics.Tables.embeddings(spark, d)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1)
      def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
      val cents = emb.takeWhile(_._1 < 16)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i)
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      def rankedCids(v: Array[Float]) = cents
        .map { case (cid, cv) => (r4(cos(cv, v)), cid) }
        .sortBy { case (c, cid) => (-c, cid) }.map(_._2)
      val byId = emb.toMap
      val assign = emb.map { case (id, v) => id -> rankedCids(v).head }.toMap
      refined.foreach { case (q, vs) =>
        val probed = rankedCids(byId(q)).take(2).toSet
        vs.foreach { v =>
          assert(v != q)
          assert(probed(assign(v)),
            s"query $q result $v sits in unprobed list ${assign(v)}")
        }
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q132 MMR equals a driver-side greedy replay and diversifies") {
    val d = "/root/testdata/sf0.001"
    val emb = graft.analytics.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def r4e4(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 10000 + 0.5)
        .toLong
    }
    val byId = emb.toMap
    val expected = (0L until 10L).flatMap { q =>
      val cand = emb.filter(_._1 != q)
        .map { case (id, v) => (id, r4e4(byId(q), v)) }
        .sortBy { case (id, rel) => (-rel, id) }.take(20)
      val sim = (for ((a, _) <- cand; (b, _) <- cand if a != b)
        yield (a, b) -> r4e4(byId(a), byId(b))).toMap
      var picked = Vector.empty[(Long, Long)] // (vid, mmr)
      for (_ <- 1 to 5) {
        val sel = picked.map(_._1).toSet
        val best = cand.filterNot(c => sel(c._1)).map { case (id, rel) =>
          val ms = if (sel.isEmpty) 0L
            else sel.map(sid => sim((id, sid))).max
          (id, rel * 7000L - (if (sel.isEmpty) 0L else ms * 3000L))
        }.sortBy { case (id, m) => (-m, id) }.head
        picked :+= best
      }
      picked.zipWithIndex.map { case ((vid, m), i) => (q, i + 1, vid, m) }
    }
    val got = graft.similarity.SimilarityQueries
      .queries("q132_mmr_diversify").build(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    // diversification must BIND: for at least one query the MMR set
    // differs from the plain cosine top-5
    val plain = graft.similarity.SimilarityQueries
      .queries("q28_ann_bruteforce").build(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mmrSets = got.groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap
    assert(mmrSets.exists { case (q, s) => s != plain(q) },
      "MMR never deviated from the plain top-5 — λ exercises nothing")
  }

  test("q134 coverage selection equals a driver-side greedy replay") {
    val d = "/root/testdata/sf0.001"
    def md5hex(x: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(x: String) = java.lang.Long.parseLong(md5hex(x).take(15), 16)
    val docs = graft.analytics.Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select("doc_id", "text").collect()
      .map { r =>
        val ts = r.getString(1).trim.split("\\s+")
        val shs = ts.sliding(3).filter(_.length == 3)
          .map(w => h60(w.mkString(" "))).toSet
        r.getLong(0) -> shs
      }.filter(_._2.nonEmpty)
    val pool = docs.map { case (id, shs) => (id, shs) }
      .sortBy { case (id, shs) => (-shs.size, id) }.take(50)
    var covered = Set.empty[Long]
    var sel = Set.empty[Long]
    val expected = (1 to 5).map { k =>
      val (id, gain) = pool.filterNot(p => sel(p._1))
        .map { case (pid, shs) => (pid, (shs -- covered).size.toLong) }
        .sortBy { case (pid, g) => (-g, pid) }.head
      covered ++= pool.find(_._1 == id).get._2
      sel += id
      (k, id, gain)
    }
    val got = graft.text.TextQueries.queries("q134_coverage_select")
      .build(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      .sortBy(_._1)
    assert(got == expected)
    // submodularity: marginal gains never increase, picks distinct
    assert(got.map(_._3) == got.map(_._3).sorted.reverse)
    assert(got.map(_._2).distinct.size == 5)
  }

  test("q131 retrieval metrics equal a driver-side replay over labels") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-metrics-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val lbl = graft.analytics.Tables.embeddings(spark, d)
        .select("vec_id", "label").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val w = Seq(10000L, 6309L, 5000L, 4306L, 3868L)
      def ranksOf(name: String) = graft.similarity.SimilarityQueries
        .queries(name).build(spark, d)
        .select("query_id", "rk", "vec_id").collect()
        .map(r => (r.getLong(0), r.get(1).toString.toInt, r.getLong(2)))
      val systems = Seq("exact" -> ranksOf("q28_ann_bruteforce"),
        "ivfpq" -> ranksOf("q124_ivfpq_search"),
        "refined" -> ranksOf("q126_ivfpq_rerank"))
      val nrel = (0L until 10L).map(q =>
        q -> lbl.count { case (id, l) => id != q && l == lbl(q) }).toMap
      // the fixture must exercise the full-IDCG branch everywhere
      nrel.values.foreach(n => assert(n >= 5))
      val expected = systems.map { case (sysName, rows) =>
        val perQ = rows.groupBy(_._1).toSeq.map { case (q, rs) =>
          val rel = rs.map { case (_, rk, id) =>
            (rk, lbl(id) == lbl(q)) }
          val hits = rel.count(_._2).toLong
          val dcg = rel.collect { case (rk, true) => w(rk - 1) }.sum
          val frank = rel.filter(_._2).map(_._1).sorted.headOption
          val mrr = frank.map(10000L / _).getOrElse(0L)
          val idcg = w.take(math.min(nrel(q), 5)).sum
          (hits, dcg * 10000 / idcg, mrr)
        }
        sysName -> (perQ.size.toLong, perQ.map(_._1).sum,
          perQ.map(_._3).sum / perQ.size, perQ.map(_._2).sum / perQ.size)
      }.toMap
      val got = graft.similarity.SimilarityQueries
        .queries("q131_retrieval_metrics").build(spark, d).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toMap
      assert(got == expected)
      assert(got.keySet == Set("exact", "ivfpq", "refined"))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q127 hybrid RRF equals a driver-side fusion of the two rankings") {
    val d = "/root/testdata/sf0.001"
    // text side: the shipped q111 ranking, composed unchanged
    val text = graft.text.CurationQueries.queries("q111_bm25_topk")
      .build(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
    // vector side: independent driver-side cosine top-5 (self included,
    // mirroring the build) with the engine's exact accumulation order
    val emb = graft.analytics.Tables.embeddings(spark, d)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = emb.toMap
    val vec = (0L to 5L).flatMap { q =>
      emb.map { case (id, v) => (id, r4(cos(byId(q), v))) }
        .sortBy { case (id, c) => (-c, id) }.take(5).zipWithIndex
        .map { case ((id, _), i) => (q, id) -> (i + 1) }
    }.toMap
    // fuse: integer millionths of 1/(60+rank), each list contributing
    val expected = (text.keySet ++ vec.keySet).groupBy(_._1).toSeq
      .flatMap { case (q, ks) =>
        ks.toSeq.map { k =>
          val s = text.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L) +
            vec.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L)
          (k._2, s)
        }.sortBy { case (doc, s) => (-s, doc) }.take(5).zipWithIndex
          .map { case ((doc, s), i) => (q, i + 1, doc, s) }
      }.sortBy(t => (t._1, t._2))
    val got = graft.similarity.SimilarityQueries.queries("q127_hybrid_rrf")
      .build(spark, d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    // the fusion is REAL on this fixture: at least one fused top-5 row
    // comes from only one of the two systems (rank-only evidence)
    assert(got.exists { case (q, _, doc, _) =>
      text.contains((q, doc)) != vec.contains((q, doc)) },
      "every fused row sat in both lists — fixture exercises nothing")
  }

  test("q129 index-served hybrid: IVF-restricted fusion replay + pruning") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-hybrid-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      // text side: q116 == q111 (their shared oracle pins it), so the
      // shipped q111 ranking is the text truth here too
      val text = graft.text.CurationQueries.queries("q111_bm25_topk")
        .build(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(2)) -> r.getInt(1)).toMap
      val emb = graft.analytics.Tables.embeddings(spark, d)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) {
          dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i)
        }
        dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val byId = emb.toMap
      val cents = emb.filter(_._1 < 16).sortBy(_._1)
      def rankedCids(v: Array[Float]) = cents
        .map { case (cid, cv) => (r4(cos(cv, v)), cid) }
        .sortBy { case (c, cid) => (-c, cid) }.map(_._2)
      val assign = emb.map { case (id, v) => id -> rankedCids(v).head }.toMap
      // vector side: cosine ranking RESTRICTED to the probed lists'
      // members (self included), exactly the declared semantics
      val probedOf = (0L to 5L).map(q =>
        q -> rankedCids(byId(q)).take(2).toSet).toMap
      val vec = (0L to 5L).flatMap { q =>
        emb.filter { case (id, _) => probedOf(q)(assign(id)) }
          .map { case (id, v) => (id, r4(cos(byId(q), v))) }
          .sortBy { case (id, c) => (-c, id) }.take(5).zipWithIndex
          .map { case ((id, _), i) => (q, id) -> (i + 1) }
      }.toMap
      val expected = (text.keySet ++ vec.keySet).groupBy(_._1).toSeq
        .flatMap { case (q, ks) =>
          ks.toSeq.map { k =>
            val s = text.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L) +
              vec.get(k).map(r => 1000000L / (60 + r)).getOrElse(0L)
            (k._2, s)
          }.sortBy { case (doc, s) => (-s, doc) }.take(5).zipWithIndex
            .map { case ((doc, s), i) => (q, i + 1, doc, s) }
        }.sortBy(t => (t._1, t._2))
      val got = graft.similarity.SimilarityQueries
        .queries("q129_hybrid_from_index").build(spark, d).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == expected)
      // NOTE the replay above is restricted to probed-list members, so
      // it proves the declared pruned semantics; that the build
      // actually PRUNES (rather than scanning all lists, which on this
      // synthetic fixture happens to fuse identically) is pinned
      // structurally in PlanSpec (q129: PartitionFilters on _c + _tb).
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q119 incremental near-dup equals the q25 pairs straddling the split") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-bi-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      // truth: the shipped q25 pair set, restricted to pairs that
      // straddle the batch split, re-oriented (new_doc, corpus_doc)
      val q25 = graft.text.TextQueries.queries("q25_minhash_lsh")
        .build(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = q25.collect {
        case (a, b) if (a % 8 == 0) != (b % 8 == 0) =>
          if (a % 8 == 0) (a, b) else (b, a)
      }
      def run() = graft.text.TextQueries
        .queries("q119_incremental_neardup").build(spark, d).collect()
        .map(r => (r.getAs[Long]("new_doc"), r.getAs[Long]("corpus_doc")))
      val got = run().toSet
      assert(got.nonEmpty, "the sf0.001 split must straddle some pairs")
      assert(got == expected,
        "an index probe hit IS a q25 pair that straddles the split")
      // second invocation serves from the materialized BandIndex and
      // returns identical rows (build-once / reuse)
      assert(run().toSet == got)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q140 containment pairs equal a driver-side posting replay") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-cont-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      // independent replay from the packed index rows: re-apply the df
      // cap and pair math in plain Scala (sets, not posting lists)
      val rows = graft.text.TextQueries.jaccardIndexRows(
          graft.analytics.Tables.documents(spark, d))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val byKey = rows.groupBy(_._2).filter { case (_, v) =>
        v.length > 1 && v.length <= 128 }
      val shared = scala.collection.mutable.Map.empty[(Long, Long), Long]
      byKey.values.foreach { v =>
        val docs = v.map(_._1).sorted
        for (i <- docs.indices; j <- (i + 1) until docs.length)
          shared((docs(i), docs(j))) =
            shared.getOrElse((docs(i), docs(j)), 0L) + 1L
      }
      def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
      val expected = shared.toSeq.flatMap { case ((dx, dy), sh) =>
        val (da, na) = (dx >> 20, dx & 1048575L)
        val (db, nb) = (dy >> 20, dy & 1048575L)
        val c = r4(sh.toDouble / math.min(na, nb))
        if (c >= 0.6)
          Some((da, db, sh, if (na <= nb) da else db, c))
        else None
      }.sortBy(t => (t._1, t._2))
      val got = graft.text.TextQueries.queries("q140_containment_pairs")
        .build(spark, d).collect()
        .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"),
          r.getAs[Long]("shared"), r.getAs[Long]("inner_doc"),
          r.getAs[Double]("containment")))
      assert(got.nonEmpty, "the sf0.001 fixture must surface containments")
      assert(got.toSeq == expected)
      // the statistic's defining property: containment >= jaccard, so
      // the engulfed-doc pass can only WIDEN what q24 sees
      assert(got.forall(_._5 >= 0.6))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q144 split leakage equals a driver-side band replay over q25 pairs") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-leak-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def md5hex(s: String) =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def split(id: Long): String = {
        val b = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 100
        if (b < 80) "train" else if (b < 90) "val" else "test"
      }
      val pairs = graft.text.TextQueries.queries("q25_minhash_lsh")
        .build(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val expected = pairs
        .map { case (a, b) =>
          val (sa, sb) = (split(a), split(b))
          (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
        }
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val got = graft.text.TextQueries.queries("q144_split_leakage")
        .build(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getInt(3))).toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (k, (n, leak)) =>
        assert(n == expected(k), s"$k: $n vs ${expected(k)}")
        assert(leak == (if (k._1 == k._2) 0 else 1))
      }
      // the census must account for every pair, and the fixture must
      // actually exhibit leakage (else the audit is vacuous)
      assert(got.values.map(_._1).sum == pairs.length.toLong)
      assert(got.exists { case (k, _) => k._1 != k._2 },
        "no cross-split near-dup pair at sf0.001")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q147 cluster-aware split is leak-free and replays driver-side") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-csplit-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def md5hex(s: String) =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def split(id: Long): String = {
        val b = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 100
        if (b < 80) "train" else if (b < 90) "val" else "test"
      }
      val pairs = graft.text.TextQueries.queries("q25_minhash_lsh")
        .build(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // independent transitive closure: union-find over the pair set
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = pairs
        .map { case (a, b) =>
          val (sa, sb) = (split(find(a)), split(find(b)))
          (if (sa <= sb) sa else sb, if (sa <= sb) sb else sa)
        }
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      val got = graft.text.TextQueries.queries("q147_cluster_split")
        .build(spark, d).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getInt(3))).toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (k, (n, leak)) =>
        assert(n == expected(k))
        // the theorem the query exists to prove: both endpoints share
        // a representative, so no pair can straddle a split
        assert(k._1 == k._2 && leak == 0,
          s"cluster-aware split leaked at $k")
      }
      assert(got.values.map(_._1).sum == pairs.length.toLong)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q153 best representatives replay via union-find + q21 scores") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-brep-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      // scoring truth = the oracle-checked q21 surface; clusters = an
      // independent union-find over the q25 pair set
      val quality = graft.text.TextQueries.queries("q21_lang_quality")
        .build(spark, d).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality"))
        .toMap
      val pairs = graft.text.TextQueries.queries("q25_minhash_lsh")
        .build(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val members = pairs.flatMap(p => Seq(p._1, p._2)).distinct
        .groupBy(find)
      val expected = members.map { case (rep, ms) =>
        val best = ms.map(m => (m, quality(m)))
          .minBy { case (m, q) => (-q, m) }
        rep -> ((ms.length.toLong, best._1, best._2, quality(rep)))
      }
      val got = graft.text.TextQueries.queries("q153_best_rep")
        .build(spark, d).collect()
        .map(r => r.getAs[Long]("cluster_rep") ->
          ((r.getAs[Long]("n_docs"), r.getAs[Long]("best_doc"),
            r.getAs[Double]("best_quality"),
            r.getAs[Double]("naive_quality")))).toMap
      assert(got == expected)
      // the policy must beat min-id somewhere, or the query is inert
      assert(got.exists { case (rep, (_, best, bq, nq)) =>
        best != rep && bq > nq }, "no cluster had a better member")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q154 threshold sweep replays from the q24 pair set and is monotone") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-sweep-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val pairs = graft.text.TextQueries.queries("q24_jaccard_pairs")
        .build(spark, d).collect()
        .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"),
          r.getAs[Double]("jaccard")))
      val got = graft.text.TextQueries.queries("q154_threshold_sweep")
        .build(spark, d).collect()
        .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      assert(got.map(_._1).toSeq == Seq(30, 40, 50, 60, 70, 80, 90))
      // exact driver replay with the same ×100 double comparison
      got.foreach { case (t, (np, ndocs)) =>
        val sel = pairs.filter(_._3 * 100 >= t)
        assert(np == sel.length, s"t=$t n_pairs")
        assert(ndocs == sel.flatMap(p => Seq(p._1, p._2)).distinct.length,
          s"t=$t n_docs")
      }
      // the curves are monotone non-increasing in t by construction
      val ps = got.map(_._2._1)
      assert(ps.zip(ps.tail).forall { case (a, b) => a >= b })
      // and t=30 is exactly the full q24 pair set
      assert(got.head._2._1 == pairs.length)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("q158 savings forecast matches the cluster-table identities") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-sav-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val labels = graft.text.ClusterIndex.load(spark, d).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val got = graft.text.TextQueries.queries("q158_dedup_savings")
        .build(spark, d).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      // totals: every labeled doc is in a cluster; droppable = labeled
      // minus one representative per cluster
      assert(got.map(_._3).sum == labels.length)
      assert(got.map(_._4).sum ==
        labels.length - labels.map(_._2).distinct.length)
      // chars attribute to the DROPPED doc: recompute per source from
      // the raw table
      val chars = graft.analytics.Tables.documents(spark, d)
        .select("doc_id", "source", "n_chars").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      val dropBySrc = labels.filter { case (id, rep) => id != rep }
        .groupBy { case (id, _) => chars(id)._1 }
        .view.mapValues(_.map { case (id, _) => chars(id)._2 }.sum).toMap
      got.foreach { case (src, _, _, nd, cd) =>
        assert(cd == dropBySrc.getOrElse(src, 0L), s"$src chars")
        assert(nd > 0 == dropBySrc.contains(src), s"$src count")
      }
      // the forecast must BIND on this corpus
      assert(got.map(_._4).sum > 0, "fixture corpus must have droppables")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("q142 triangle census equals a brute-force count over q25 pairs") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-tri-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val pairs = graft.text.TextQueries.queries("q25_minhash_lsh")
        .build(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val nodes = pairs.flatMap(p => Seq(p._1, p._2))
      val deg = nodes.map(v =>
        v -> pairs.count(p => p._1 == v || p._2 == v).toLong).toMap
      val wedges = deg.values.map(dg => dg * (dg - 1) / 2).sum
      // brute force: every sorted node triple with all three edges
      val triList = for {
        (a, b) <- pairs.toSeq
        c <- nodes
        if c > b && pairs((a, c)) && pairs((b, c))
      } yield (a, b, c)
      val tri = triList.size.toLong
      val r = graft.text.TextQueries.queries("q142_dup_triangles")
        .build(spark, d).collect()
      assert(r.length == 1)
      val row = r(0)
      assert(row.getAs[Long]("n_nodes") == nodes.size.toLong)
      assert(row.getAs[Long]("n_edges") == pairs.size.toLong)
      assert(row.getAs[Long]("n_wedges") == wedges)
      assert(row.getAs[Long]("n_triangles") == tri)
      assert(tri >= 1, "the fixture's dup clusters must close triangles")
      def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
      assert(row.getAs[Double]("clustering_coeff") ==
        (if (wedges == 0) 0.0 else r4(tri * 3.0 / wedges)))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("IncrementalDedup: bridge merges old clusters, untouched labels pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.text.{CurationQueries, IncrementalDedup}
    // yesterday's corpus: three converged clusters {1,2}, {10,11}, {20,21}
    val basePairs = Seq((1L, 2L), (10L, 11L), (20L, 21L)).toDF("da", "db")
    // the batch: doc 100 bridges clusters {1,2} and {10,11} (the hard
    // case — two old components must MERGE), and 100-101 pair up
    val newPairs = Seq((2L, 100L), (10L, 100L), (100L, 101L)).toDF("da", "db")
    val expected = CurationQueries.withDupClusterLabels(spark,
      basePairs.unionByName(newPairs)) { l =>
      l.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val got = CurationQueries.withDupClusterLabels(spark, basePairs) { old =>
      // untouched component {20,21} must survive by REFERENCE, not by
      // re-convergence: corrupt-proof it by checking its rows verbatim
      IncrementalDedup.updatedLabels(spark, basePairs, old, newPairs) { upd =>
        upd.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
    }
    assert(got == expected, s"incremental $got != from-scratch $expected")
    // the merged component rides rep 1 (min id across BOTH old clusters
    // and the batch docs); the untouched cluster keeps rep 20
    assert(got.filter(_._2 == 1L).map(_._1) ==
      Set(1L, 2L, 10L, 11L, 100L, 101L),
      "bridge must merge both old clusters and the batch docs under rep 1")
    assert(got.contains((21L, 20L)) && got.contains((20L, 20L)))
  }

  test("IncrementalDedup.newPairs == from-scratch pairs touching the batch (real corpus)") {
    import org.apache.spark.sql.functions._
    import graft.text.{IncrementalDedup, TextFunctions, TextQueries}
    val d = "/root/testdata/sf0.001"
    val docs = graft.analytics.Tables.documents(spark, d)
    val mx = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head.getLong(0)
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      TextQueries.explodeBands(df.select(col("doc_id"),
        TextFunctions.minhash_signature(col("text"), 3).as("sig"))
        .filter(col("sig").isNotNull))
    val isBatch = expr(s"doc_id * 5 div ${mx + 1}") === 4
    val np = IncrementalDedup.newPairs(
      bandsOf(docs.filter(!isBatch)), bandsOf(docs.filter(isBatch)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // from-scratch q25 pairs over the whole corpus, restricted to
    // pairs touching the batch slice
    val t = (mx + 1) * 4 / 5 + ((mx + 1) * 4 % 5 min 1) // first batch id
    val full = TextQueries.minhashCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val touching = full.filter { case (a, b) =>
      a * 5 / (mx + 1) == 4 || b * 5 / (mx + 1) == 4 }
    assert(np == touching, s"${np.size} incremental vs ${touching.size} expected")
    assert(np.nonEmpty, "batch slice must introduce pairs at this SF")
  }

  test("IncrementalDedup.newPairsPruned == newPairs on the partitioned store") {
    import org.apache.spark.sql.functions._
    import graft.text.{IncrementalDedup, TextFunctions, TextQueries}
    val d = "/root/testdata/sf0.001"
    val docs = graft.analytics.Tables.documents(spark, d)
    val mx = docs.agg(coalesce(max(col("doc_id")), lit(0L))).head.getLong(0)
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      TextQueries.explodeBands(df.select(col("doc_id"),
        TextFunctions.minhash_signature(col("text"), 3).as("sig"))
        .filter(col("sig").isNotNull))
    // a SMALL batch (4% of docs) so the bucket set genuinely prunes:
    // ≤ 8·|batch| buckets of 512 can be hit
    val isBatch = expr(s"doc_id * 25 div ${mx + 1}") === 24
    val buckets = 512
    val base = bandsOf(docs.filter(!isBatch))
    val batch = bandsOf(docs.filter(isBatch))
    val hitBuckets = batch
      .select(pmod(col("ha"), lit(buckets.toLong))).distinct().count()
    assert(hitBuckets < buckets,
      s"fixture must leave unpruned buckets: $hitBuckets of $buckets hit")
    // the partitioned twin of the base store, written like
    // BandIndex.loadPartitioned lays it out
    val tmp = java.nio.file.Files.createTempDirectory("graft-bbp")
    try {
      val out = tmp.resolve("bands").toString
      base.withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))
        .repartition(col("_bb"))
        .write.partitionBy("_bb").parquet(out)
      val baseP = spark.read.parquet(out)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val flat = pairs(IncrementalDedup.newPairs(base, batch))
      val pruned = pairs(
        IncrementalDedup.newPairsPruned(baseP, batch, buckets))
      assert(pruned == flat,
        s"pruned probe drift: ${pruned.size} vs ${flat.size}")
      assert(flat.nonEmpty, "fixture batch must introduce pairs")
    } finally graft.etl.Commit.deleteRecursively(tmp)
  }

  test("BandIndex.loadPartitioned: row-identical to the flat store") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-bip")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val d = "/root/testdata/sf0.001"
      def rows(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "band", "ha", "hb")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val flat = rows(graft.text.BandIndex.load(spark, d))
      val part = graft.text.BandIndex.loadPartitioned(spark, d, 64)
      assert(part.columns.contains("_bb"), "partition column must ride")
      assert(rows(part) == flat, "partitioned store must hold the same rows")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }
}
