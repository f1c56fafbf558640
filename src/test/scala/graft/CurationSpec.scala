package graft

import graft.text.CurationQueries
import org.apache.spark.sql.functions._

/** Unit + invariant tests for the curation operators (q77-q81); the
  * cross-engine value checks live in their DuckDB oracles. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) =
    CurationQueries.queries(name).build(spark, sf)

  test("scrubPii redacts emails and phones, leaves clean text alone") {
    val rows = Seq(
      "write to maria.lopez+spam@sub.example.org today",
      "call +56 9 8765 4321 or +1 415 555 0000 now",
      "mixed a@b.co and +12 3456 789 here",
      "nothing sensitive in this sentence 42")
      .toDF("t").select(CurationQueries.scrubPii($"t").as("s"))
      .collect().map(_.getString(0))
    assert(rows(0) == "write to <EMAIL> today")
    assert(rows(1) == "call <PHONE> or <PHONE> now")
    assert(rows(2) == "mixed <EMAIL> and <PHONE> here")
    assert(rows(3) == "nothing sensitive in this sentence 42")
  }

  test("q78 scrub audit: everything planted is redacted, residual zero") {
    val out = run("q78_pii_scrub").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_residual") === 0L,
        s"residual PII for ${r.getAs[String]("source")}")
    }
    // bands 0-29 plant emails, 30-49 phones: both classes must appear
    assert(out.map(_.getAs[Long]("emails_redacted")).sum > 0)
    assert(out.map(_.getAs[Long]("phones_redacted")).sum > 0)
  }

  test("q79 packing bins reproduce a sequential reference packing") {
    // collect one source's (doc_id, n_tok) stream and replay the
    // packing rule sequentially; the window formulation must agree
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull && col("source") === "src3")
      .select(col("doc_id"),
        graft.text.TextFunctions.token_count(col("text")).as("n_tok"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    assert(docs.length > 10)
    var cum = 0L
    val expected = scala.collection.mutable.Map[Long, (Long, Long)]()
    docs.foreach { case (_, n) =>
      val bin = cum / 512 // bin the doc STARTS in
      val (c, t) = expected.getOrElse(bin, (0L, 0L))
      expected(bin) = (c + 1, t + n)
      cum += n
    }
    val got = run("q79_pack_chunks").filter(col("source") === "src3")
      .collect().map(r => r.getAs[Long]("bin") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"))).toMap
    assert(got === expected.toMap)
  }

  test("q80 bigram argmax matches a recomputed count table") {
    val toks = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(graft.text.TextFunctions.tokens(col("text")).as("t"))
      .collect().map(_.getAs[scala.collection.Seq[String]]("t").toSeq)
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    toks.foreach(ts => ts.sliding(2).foreach {
      case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + 1
      case _ =>
    })
    val byHead = counts.groupBy(_._1._1)
    val out = run("q80_bigram_lm").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val head = r.getAs[String]("head")
      val hc = byHead(head)
      assert(r.getAs[Long]("head_total") === hc.values.sum)
      // argmax with lexicographic tiebreak
      val best = hc.toSeq.map { case ((_, nx), c) => (nx, c) }
        .sortBy { case (nx, c) => (-c, nx) }.head
      assert((r.getAs[String]("top_next"), r.getAs[Long]("top_cnt")) === best)
    }
    // and every head above threshold is present
    assert(out.length ===
      byHead.count(_._2.values.sum >= 100))
  }

  test("q77 decontamination accounting is complete and disjoint") {
    val out = run("q77_decontaminate").collect()
    val corpus = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .filter(expr(
        "conv(substring(md5(cast(doc_id as string)), 1, 8), 16, 10)")
        .cast("long") % 100 >= 3)
      .count()
    assert(out.map(_.getAs[Long]("n_docs")).sum === corpus,
      "every corpus doc lands in exactly one (source, flag) cell")
    out.foreach { r =>
      val cont = r.getAs[Int]("contaminated")
      assert(cont == 0 || cont == 1)
      if (cont == 0) assert(r.getAs[Long]("total_hits") === 0L)
      else assert(r.getAs[Long]("total_hits") >= r.getAs[Long]("n_docs"))
    }
  }

  test("q82 clusters equal union-find over the q25 pairs") {
    val pairs = graft.text.TextQueries.queries("q25_minhash_lsh")
      .build(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    // reference union-find
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
    val expected = members.groupBy(find).map { case (_, ms) =>
      ms.min -> ms.length }
    val got = run("q82_dup_clusters").collect()
      .map(r => r.getAs[Long]("cluster_rep") -> r.getAs[Long]("n_docs").toInt)
      .toMap
    assert(got === expected)
  }

  test("q83 chunks overlap by 16 tokens and cover every token") {
    val out = run("q83_chunk_overlap").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[Int]("n_chunk_tok")))
      .groupBy(_._1)
    val nTok = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.text.TextFunctions.token_count(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.keySet === nTok.keySet, "every non-null doc is chunked")
    out.foreach { case (doc, chunks) =>
      val sorted = chunks.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === sorted.indices.map(_.toLong),
        s"doc $doc chunk ids must be dense")
      // chunk i covers tokens [i*48+1, i*48+len]; the last must reach
      // the document end, every earlier one is the full 64
      sorted.init.foreach { case (_, _, len) => assert(len === 64) }
      val (_, lastId, lastLen) = sorted.last
      assert(lastId * 48 + lastLen === nTok(doc).toLong,
        s"doc $doc chunks must cover exactly n_tok=${nTok(doc)}")
    }
  }

  test("q84 predictability matches a recomputed bigram model") {
    // rebuild the bigram model and per-doc means from collected tokens
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.text.TextFunctions.tokens(col("text")).as("t"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[scala.collection.Seq[String]]("t").toSeq))
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    docs.foreach(d => d._3.sliding(2).foreach {
      case Seq(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0L) + 1
      case _ =>
    })
    val headTotal = counts.groupBy(_._1._1).map { case (h, m) =>
      h -> m.values.sum }
    // the query scores only the top-`bigramCap` bigrams (count desc,
    // ties by (head, next)); the cap must bind at this SF or the test
    // exercises nothing
    val top = counts.toSeq
      .sortBy { case ((h, n), c) => (-c, h, n) }
      .take(graft.text.CurationQueries.bigramCap).map(_._1).toSet
    assert(counts.size > graft.text.CurationQueries.bigramCap,
      s"cap must bind: ${counts.size} distinct bigrams")
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val perDoc = docs.flatMap { case (_, src, toks) =>
      val ps = toks.sliding(2).collect {
        case Seq(a, b) if top((a, b)) =>
          counts((a, b)).toDouble / headTotal(a)
      }.toSeq
      if (ps.isEmpty) None else Some(src -> r4(ps.sum / ps.length))
    }
    val expected = perDoc.groupBy(_._1).map { case (src, xs) =>
      src -> (xs.length.toLong, r4(xs.map(_._2).min), r4(xs.map(_._2).max))
    }
    val got = run("q84_bigram_predictability").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("min_pred"),
          r.getAs[Double]("max_pred"))).toMap
    assert(got === expected)
  }

  test("q86 first BPE merge matches a recomputed pair table") {
    val words = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("w"))
      .collect().map(_.getString(0))
    val wc = words.groupBy(identity).map { case (w, ws) => w -> ws.length }
    val freq = scala.collection.mutable.Map[String, Long]()
    wc.foreach { case (w, c) =>
      if (w.length >= 2) w.sliding(2).foreach(p =>
        freq(p) = freq.getOrElse(p, 0L) + c)
    }
    val expected = freq.toSeq.sortBy { case (p, f) => (-f, p) }.take(20)
    val got = run("q86_bpe_first_merge").collect()
      .map(r => r.getAs[String]("pair") -> r.getAs[Long]("freq")).toSeq
    assert(got === expected)
  }

  test("q87 posting lists match recomputed postings and honor the prefix cap") {
    val byTok = scala.collection.mutable.Map[String, Set[Long]]()
    graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.text.TextFunctions.tokens(col("text")).as("t"))
      .collect().foreach { r =>
        val d = r.getLong(0)
        r.getAs[scala.collection.Seq[String]]("t").foreach(t =>
          byTok(t) = byTok.getOrElse(t, Set.empty) + d)
      }
    val expected = byTok.collect { case (t, ds) if ds.size >= 2 =>
      t -> (ds.size.toLong, ds.toSeq.sorted.take(1024).mkString(","))
    }.toMap
    val got = run("q87_posting_lists").collect()
      .map(r => r.getAs[String]("t") ->
        (r.getAs[Long]("df"), r.getAs[String]("postings"))).toMap
    assert(got === expected)
    got.values.foreach { case (_, csv) =>
      assert(csv.split(',').length <= 1024)
    }
  }

  test("q88 emits dense descending-score top-3 terms per doc") {
    val rows = run("q88_tfidf_terms").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("score")))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (doc, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length),
        s"doc $doc ranks must be dense from 1")
      assert(sorted.length <= 3)
      assert(sorted.map(_._3).toSeq ===
        sorted.map(_._3).sortBy(-_).toSeq, s"doc $doc scores not descending")
    }
  }

  test("q89 matches a reference BPE trainer (greedy symbol merges)") {
    val words = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(explode(graft.text.TextFunctions.tokens(col("text"))).as("w"))
      .collect().map(_.getString(0)).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) =>
        w.map(_.toString).toList -> ws.length.toLong }
    def mergeSyms(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer[String]()
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    var state = words.toSeq
    val expected = (1 to 3).map { it =>
      val freq = scala.collection.mutable.Map[(String, String), Long]()
      state.foreach { case (syms, wc) =>
        syms.sliding(2).foreach {
          case List(a, b) => freq((a, b)) = freq.getOrElse((a, b), 0L) + wc
          case _ =>
        }
      }
      val ((a, b), f) = freq.toSeq.sortBy { case ((a, b), f) =>
        (-f, a, b) }.head
      state = state.map { case (syms, wc) => mergeSyms(syms, a, b) -> wc }
      (it, a, b, f)
    }
    val got = run("q89_bpe_train").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq === expected)
  }

  test("q81 exact percentiles bracket min/max and are ordered") {
    val out = run("q81_length_percentiles").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (mn, mx) = (r.getAs[Long]("min_chars"), r.getAs[Long]("max_chars"))
      val (p50, p90, p99) = (r.getAs[Double]("p50"),
        r.getAs[Double]("p90"), r.getAs[Double]("p99"))
      assert(mn <= p50 && p50 <= p90 && p90 <= p99 && p99 <= mx)
    }
  }

  test("q91 dup-span coverage replays driver-side from the same shingles") {
    // same 8-gram kernel, but the dup/total accounting redone in plain
    // Scala — pins the (shingle, doc) -> doc-count -> rollup plan
    val rows = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        graft.text.TextFunctions.shingles(col("text"), 8).as("sh"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getAs[scala.collection.Seq[String]]("sh")))
    val docsPerShingle = scala.collection.mutable.Map[String,
      scala.collection.mutable.Set[Long]]()
    rows.foreach { case (id, _, shs) => shs.foreach(s =>
      docsPerShingle.getOrElseUpdate(s,
        scala.collection.mutable.Set[Long]()) += id) }
    val expected = scala.collection.mutable.Map[String, (Long, Long)]()
    rows.foreach { case (_, src, shs) =>
      shs.foreach { s =>
        val (n, dup) = expected.getOrElse(src, (0L, 0L))
        expected(src) = (n + 1,
          dup + (if (docsPerShingle(s).size > 1) 1L else 0L))
      }
    }
    val got = run("q91_dup_spans").collect()
    assert(got.map(_.getAs[String]("source")).toSet == expected.keySet)
    got.foreach { r =>
      val (n, dup) = expected(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_grams") == n)
      assert(r.getAs[Long]("dup_grams") == dup)
      assert(r.getAs[Double]("dup_ratio") >= 0.0 &&
        r.getAs[Double]("dup_ratio") <= 1.0)
    }
    assert(got.map(_.getAs[Long]("dup_grams")).sum > 0,
      "the corpus' boilerplate spans must register as duplicated")
  }

  test("q93 GD classifier replays driver-side and actually learns") {
    import graft.text.TextFunctions._
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val nTok = greatest(size(col("_toks")).cast("double"), lit(1.0))
    val allStops = stopwords.flatMap(_._2)
    val feats = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .withColumn("_toks", tokens(col("text")))
      .select(
        graft.analytics.StableRound.r4(least(vocab_hits_t(col("_toks"),
          allStops).cast("double") / nTok * lit(5.0), lit(1.0))).as("x1"),
        graft.analytics.StableRound.r4(size(array_distinct(col("_toks")))
          .cast("double") / nTok).as("x2"),
        graft.analytics.StableRound.r4(least(size(col("_toks")).cast("double")
          / lit(100.0), lit(1.0))).as("x3"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
      .map { case (x1, x2, x3) =>
        (x1, x2, x3, if (0.3 * x3 + 0.3 * x1 > 0.21) 1.0 else 0.0)
      }
    var w = Array(0.0, 0.0, 0.0, 0.0)
    def sig(z: Double) = 0.5 + z / (2.0 * (1.0 + math.abs(z)))
    val expected = (1 to 4).map { it =>
      val g = Array(0.0, 0.0, 0.0, 0.0)
      feats.foreach { case (x1, x2, x3, y) =>
        val e = y - sig(w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3)
        g(0) += e; g(1) += e * x1; g(2) += e * x2; g(3) += e * x3
      }
      w = Array.tabulate(4)(j => r4(w(j) + 2.0 * g(j) / feats.length))
      val acc = feats.count { case (x1, x2, x3, y) =>
        (sig(w(0) + w(1) * x1 + w(2) * x2 + w(3) * x3) > 0.5) == (y == 1.0)
      }.toDouble / feats.length
      (it, w.toSeq, r4(acc))
    }
    val got = run("q93_quality_classifier").collect()
      .map(r => (r.getInt(0), Seq(r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)), r.getDouble(5)))
    assert(got.toSeq == expected,
      s"GD replay diverged:\n got $got\n exp $expected")
    // and it LEARNS: final accuracy beats the base rate
    val base = feats.map(_._4).sum / feats.length
    assert(got.last._3 > math.max(base, 1.0 - base) + 0.05,
      s"no learning: acc ${got.last._3} vs base $base")
  }

  test("q92 training order replays driver-side from md5 keys") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = graft.analytics.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
    val keyed = rows.map { case (id, nc) =>
      val k = md5hex(s"epoch0|$id")
      (java.lang.Long.parseLong(k.take(8), 16) % 8, k, id, nc)
    }
    val expected = keyed.groupBy(_._1).map { case (shard, g) =>
      shard -> (g.length.toLong, g.map(_._4).sum,
        g.sortBy(_._2).take(3).map(_._3).toSeq)
    }
    val got = run("q92_train_order").collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (n, chars, heads) = expected(r.getAs[Long]("shard"))
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_chars") == chars)
      assert(r.getAs[String]("head_docs") == heads.mkString(","))
    }
  }

  test("q97 stratified sample replays driver-side and is a true per-source 5") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = graft.analytics.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = rows.groupBy(_._2).map { case (src, g) =>
      src -> g.map(t => (md5hex(s"sample0|${t._1}"), t._1))
        .sortBy(_._1).take(5).map(_._2).toSeq
    }
    val got = run("q97_stratified_sample").collect()
      .groupBy(_.getAs[String]("source"))
    assert(got.keySet == expected.keySet)
    got.foreach { case (src, rs) =>
      val inOrder = rs.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("doc_id"))
      assert(inOrder.toSeq == expected(src),
        s"sample for $src must be the 5 smallest md5 keys, in key order")
    }
  }

  test("q174 priority sample replays driver-side; DLT estimator converges over seeds") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val T = 1L << 40
    val rows = graft.analytics.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        greatest(coalesce(col("n_chars"), lit(0L)), lit(1L)).as("w"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def sample(seed: String, items: Seq[(Long, Long)]) = {
      // items: (doc_id, w) -> (top-5 with est, tau)
      val ranked = items.map { case (id, w) =>
        val u = h60(s"$seed|$id") % T + 1
        (id, w, (w << 40) / u)
      }.sortBy(t => (-t._3, t._1))
      // p is in w units already (the 2^40 scale cancels against u)
      val tau = if (ranked.size >= 6) ranked(5)._3 else 0L
      (ranked.take(5).map { case (id, w, p) =>
        (id, w, p, tau, math.max(w, tau)) }, tau)
    }
    // exact replay of the query's PRF ("psamp0")
    val expected = rows.groupBy(_._2).map { case (src, g) =>
      src -> sample("psamp0", g.map(t => (t._1, t._3)).toSeq.sortBy(_._1))._1
    }
    val got = run("q174_priority_sample").collect()
      .groupBy(_.getAs[String]("source"))
    assert(got.keySet == expected.keySet)
    got.foreach { case (src, rs) =>
      val inOrder = rs.sortBy(_.getAs[Int]("rk")).map(r =>
        (r.getAs[Long]("doc_id"), r.getAs[Long]("w"),
          r.getAs[Long]("priority"), r.getAs[Long]("tau"),
          r.getAs[Long]("est_w")))
      assert(inOrder.toSeq == expected(src), s"sample drift for $src")
    }
    // the DLT property the integers preserve: over many seeds, the
    // per-stratum estimator SUM of the k kept items averages to the
    // stratum's true total weight (unbiasedness, up to the documented
    // <= 1-unit tau ceil)
    val (bigSrc, items) = rows.groupBy(_._2).maxBy(_._2.size)
    assert(items.size > 6, "need a stratum the sample actually truncates")
    val itemsW = items.map(t => (t._1, t._3)).toSeq
    val trueTotal = itemsW.map(_._2).sum.toDouble
    val est = (1 to 200).map { i =>
      sample(s"seed$i", itemsW)._1.map(_._5).sum.toDouble
    }.sum / 200
    assert(math.abs(est - trueTotal) / trueTotal < 0.15,
      s"DLT estimate $est vs true $trueTotal for $bigSrc")
  }

  test("q98 source overlap replays driver-side from the same shingles") {
    val rows = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("source"),
        graft.text.TextFunctions.shingles(col("text"), 8).as("sh"))
      .collect()
      .map(r => (r.getString(0), r.getAs[scala.collection.Seq[String]]("sh")))
    val bySrc = rows.groupBy(_._1)
      .map { case (s, g) => s -> g.flatMap(_._2).toSet }
    val srcs = bySrc.keys.toSeq.sorted
    val expected = (for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
      shared = (bySrc(srcs(i)) & bySrc(srcs(j))).size if shared > 0
    } yield (srcs(i), srcs(j)) ->
      (shared.toLong, shared.toDouble /
        math.min(bySrc(srcs(i)).size, bySrc(srcs(j)).size))).toMap
    val got = run("q98_source_overlap").collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSet ==
      expected.keySet)
    got.foreach { r =>
      val (n, c) = expected((r.getString(0), r.getString(1)))
      assert(r.getAs[Long]("n_shared") == n)
      assert(math.abs(r.getAs[Double]("containment") - c) < 1e-3)
    }
    assert(got.nonEmpty, "the shared boilerplate must overlap some source pair")
  }

  test("q102 temperature mix replays driver-side: sqrt thresholds + md5 bands") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val rows = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Number](2).longValue))
    val bySrc = rows.groupBy(_._2)
    val nMax = bySrc.values.map(_.length).max
    val got = run("q102_temperature_mix").collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("threshold"),
          r.getAs[Long]("n_kept"), r.getAs[Long]("kept_chars"))).toMap
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (src, docs) =>
      val th = math.min(
        math.floor(2000.0 * math.sqrt(nMax.toDouble / docs.length)).toLong,
        10000L)
      val kept = docs.filter { case (id, _, _) =>
        java.lang.Long.parseLong(md5hex(s"mix0|$id").take(8), 16) % 10000 < th
      }
      val (n, t, nk, kc) = got(src)
      assert(n == docs.length && t == th)
      assert(nk == kept.length, s"$src kept count")
      assert(kc == kept.map(_._3).sum, s"$src kept chars")
    }
    // the point of temperature smoothing: up-weighting is MONOTONE —
    // no non-dominant source ever drops below the dominant rate. The
    // exact per-source threshold is already asserted above (t == th);
    // a strict `> 2000` here would be data-dependent (floor(2000*
    // sqrt(nMax/n)) == 2000 exactly when two sources are within ~0.1%
    // of each other), failing on a regenerated corpus with no code bug.
    val maxSrc = bySrc.maxBy(_._2.length)._1
    got.foreach { case (src, (n, th, _, _)) =>
      if (src != maxSrc && n < nMax) assert(th >= 2000, s"$src must not be down-weighted")
    }
  }

  test("writeEpoch lays the full epoch order on disk, shard by shard") {
    import scala.jdk.CollectionConverters._
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val out = java.nio.file.Files.createTempDirectory("graft-epoch")
      .resolve("epoch0").toString
    graft.text.TrainOrder.writeEpoch(spark, sf, out, epoch = 0, shards = 8)
    // expected order per shard, replayed driver-side from the md5 keys
    val ids = graft.analytics.Tables.documents(spark, sf)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val expected = ids.map { id =>
      val k = md5hex(s"epoch0|$id")
      (java.lang.Long.parseLong(k.take(8), 16) % 8, k, id)
    }.groupBy(_._1).map { case (sh, g) =>
      sh -> g.sortBy(_._2).map(_._3).toSeq
    }
    val shardDirs = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("shard="))
      .toSeq
    assert(shardDirs.size == expected.size)
    var total = 0L
    shardDirs.foreach { dir =>
      val shard = dir.getFileName.toString.stripPrefix("shard=").toLong
      val files = java.nio.file.Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      // one task per shard → one data file; its ROW ORDER is the
      // contract (tiny file = one split, so read order = file order)
      assert(files.size == 1, s"shard $shard: ${files.size} files")
      val got = spark.read.parquet(files.head.toString)
        .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
      assert(got == expected(shard), s"shard $shard disk order != key order")
      total += got.length
    }
    assert(total == ids.length, "every document appears in exactly one shard")
  }

  test("writeCurriculumEpochOf: band-major order on disk, q160 bands replay") {
    import scala.jdk.CollectionConverters._
    val out = java.nio.file.Files.createTempDirectory("graft-curr")
      .resolve("epoch0").toString
    val docs = graft.analytics.Tables.documents(spark, sf)
    graft.text.TrainOrder.writeCurriculumEpochOf(docs, out,
      epoch = 0, shards = 4, bands = 8)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val shardDirs = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .iterator().asScala.filter(_.getFileName.toString.startsWith("shard="))
      .toSeq
    assert(shardDirs.nonEmpty)
    var seen = Seq.empty[Long]
    shardDirs.foreach { dir =>
      val files = java.nio.file.Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      assert(files.size == 1, s"$dir: one task per shard → one file")
      val rows = spark.read.parquet(files.head.toString)
        .select(col("band"), col("k"), col("doc_id")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // the on-disk contract: band-major, md5-key within band
      assert(rows.map(r => (r._1, r._2)).toSeq ==
        rows.map(r => (r._1, r._2)).sortBy(identity).toSeq,
        s"$dir not in (band, key) order")
      seen ++= rows.map(_._3)
    }
    assert(seen.sorted.toSeq == ids.toSeq,
      "every doc in exactly one shard")
    // the q160 audit equals a per-doc replay of the integer band math
    val q = graft.text.TextQueries.queries("q160_curriculum_bands")
      .build(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val qe4 = docs.select(
        floor(graft.text.TextFunctions.quality_score(col("text")) * 10000
          + 0.5).cast("long").as("q")).collect().map(_.getLong(0))
    val expect = qe4.groupBy(q => math.min(q * 8 / 10000, 7L))
      .map { case (b, xs) => b -> (xs.length.toLong, xs.min, xs.max) }
    assert(q == expect)
    // bands must be MONOTONE: ranges do not overlap
    val sortedBands = q.toSeq.sortBy(_._1)
    sortedBands.zip(sortedBands.tail).foreach { case ((_, a), (_, b)) =>
      assert(a._3 < b._2, "band ranges overlap")
    }
  }

  test("q99 overlap index: builds once, reuses from disk, equals q98") {
    import graft.text.OverlapIndex
    val root = java.nio.file.Files.createTempDirectory("graft-oi-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      import scala.jdk.CollectionConverters._
      def artifactDirs() = {
        val s = java.nio.file.Files.list(root)
        try s.iterator().asScala.toList.map(_.getFileName.toString).sorted
        finally s.close()
      }
      assert(artifactDirs().isEmpty)
      val first = run("q99_overlap_index").collect()
      val dirs1 = artifactDirs()
      assert(dirs1.size == 1, s"one index artifact expected, got $dirs1")
      // second invocation reads the SAME artifact (no rebuild, no
      // second dir) and returns identical rows
      val second = run("q99_overlap_index").collect()
      assert(artifactDirs() == dirs1)
      assert(second.toSeq == first.toSeq)
      // and the served matrix is exactly the in-session q98 build
      val q98 = run("q98_source_overlap").collect()
      assert(first.toSeq == q98.toSeq)
      // the artifact key is CONTENT-addressed (names, sizes, parquet
      // footer hashes — not path, not mtime): a byte-identical copy of
      // the dataset at a different path with fresh mtimes REUSES the
      // index (object stores rewrite mtimes on copy/restore, and a
      // fingerprint that churns on copy defeats the artifact) …
      val copy = java.nio.file.Files.createTempDirectory("graft-oi-data")
      val src = java.nio.file.Paths.get(sf)
      java.nio.file.Files.walk(src).forEach { p =>
        val t = copy.resolve(src.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      // … even with explicitly perturbed mtimes
      java.nio.file.Files.walk(copy.resolve("documents.parquet"))
        .forEach(p => java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(123456789000L)))
      assert(graft.text.Artifacts.datasetKey(copy.toString)
        == graft.text.Artifacts.datasetKey(sf),
        "byte-identical copy must produce the same artifact key")
      val fromCopy = CurationQueries.queries("q99_overlap_index")
        .build(spark, copy.toString).collect()
      assert(artifactDirs() == dirs1,
        "a byte-identical copy must REUSE the index, not rebuild it")
      assert(fromCopy.toSeq == first.toSeq)
      // … while changed BYTES (here: one bit in a parquet footer) key
      // a fresh artifact, never a stale read
      val someFile = {
        val s2 = java.nio.file.Files.walk(copy.resolve("documents.parquet"))
        try s2.filter(p => java.nio.file.Files.isRegularFile(p) &&
            p.toString.endsWith(".parquet")).findFirst().get()
        finally s2.close()
      }
      val bytes = java.nio.file.Files.readAllBytes(someFile)
      bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 1).toByte
      java.nio.file.Files.write(someFile, bytes)
      assert(graft.text.Artifacts.datasetKey(copy.toString)
        != graft.text.Artifacts.datasetKey(sf),
        "changed bytes must produce a different artifact key")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q114 posting index: builds once, reuses from disk, equals q24") {
    val root = java.nio.file.Files.createTempDirectory("graft-pi-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def runText(name: String) =
        graft.text.TextQueries.queries(name).build(spark, sf)
      val q24 = runText("q24_jaccard_pairs").collect()
      val first = runText("q114_jaccard_from_index").collect()
      assert(first.toSeq == q24.toSeq,
        "the artifact read path must reproduce the direct build")
      val dir = graft.text.Artifacts.dir(sf,
        graft.text.PostingIndex.artifactName)
      assert(java.nio.file.Files.isDirectory(dir))
      val mtime = java.nio.file.Files.getLastModifiedTime(dir)
      // second read: same rows, no rebuild
      assert(runText("q114_jaccard_from_index").collect().toSeq == q24.toSeq)
      assert(java.nio.file.Files.getLastModifiedTime(dir) == mtime,
        "a second read must serve the existing artifact")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("q116 bm25 index: builds once, reuses from disk, equals q111") {
    val root = java.nio.file.Files.createTempDirectory("graft-bm-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val q111 = run("q111_bm25_topk").collect()
      val first = run("q116_bm25_from_index").collect()
      assert(first.toSeq == q111.toSeq,
        "the index read path must reproduce the direct build")
      val dir = graft.text.Artifacts.dir(sf,
        s"bm25_postings_tb${graft.text.Bm25Index.tokenBuckets}_v1")
      assert(java.nio.file.Files.isDirectory(dir))
      val mtime = java.nio.file.Files.getLastModifiedTime(dir)
      // second read: same rows, no rebuild
      assert(run("q116_bm25_from_index").collect().toSeq == q111.toSeq)
      assert(java.nio.file.Files.getLastModifiedTime(dir) == mtime,
        "a second read must serve the existing artifact")
      // the driver-side bucket twin must agree with the engine's _tb
      val post = graft.text.Bm25Index.postings(spark, sf)
        .select(col("t"), col("_tb").cast("long")).distinct().collect()
      post.foreach { r =>
        assert(graft.text.Bm25Index.bucketOf(r.getString(0)) == r.getLong(1),
          s"bucketOf drifted from _tb for token '${r.getString(0)}'")
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("q115 importance resampling: driver-side replay of scores, weights, kept set") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    def band100(id: Long) =
      java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 100
    def toks(t: String) = t.trim.split("\\s+").toSeq
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select("doc_id", "source", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // bucket counts + smoothed integer ratio scores, replayed exactly
    val tc = new Array[Long](256); val rc = new Array[Long](256)
    docs.foreach { case (id, _, t, _) =>
      val target = band100(id) < 3
      toks(t).foreach { w =>
        val b = (h60(w) & 255).toInt
        if (target) tc(b) += 1 else rc(b) += 1
      }
    }
    val bigT = tc.sum; val bigR = rc.sum
    val score = Array.tabulate(256)(b =>
      ((tc(b) + 1) * (bigR + 256) * 10000L) / ((rc(b) + 1) * (bigT + 256)))
    final class Agg {
      var n = 0L; var k = 0L; var ws = 0L; var kc = 0L
    }
    val bySrc = scala.collection.mutable.Map[String, Agg]()
    docs.filter(d => band100(d._1) >= 3).foreach { case (id, src, t, nch) =>
      val ts = toks(t)
      val ss = ts.map(w => score((h60(w) & 255).toInt)).sum
      val w = ss / ts.size
      val kept = java.lang.Long.parseLong(
        md5hex(s"dsir0|$id").take(8), 16) % 10000 < math.min(w, 10000L)
      val a = bySrc.getOrElseUpdate(src, new Agg)
      a.n += 1; a.ws += w
      if (kept) { a.k += 1; a.kc += nch }
    }
    val got = run("q115_importance_resample").collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == bySrc.keySet)
    bySrc.foreach { case (srcName, a) =>
      assert(got(srcName) == (a.n, a.k, a.ws, a.kc),
        s"source $srcName: got ${got(srcName)}, " +
          s"replay (${a.n}, ${a.k}, ${a.ws}, ${a.kc})")
    }
    // the resampling must BIND at this SF — some kept, some dropped
    val n = bySrc.values.map(_.n).sum; val k = bySrc.values.map(_.k).sum
    assert(k > 0 && k < n, s"resampling must bind: kept $k of $n")
  }

  test("q108 cluster index: pair + label artifacts build once, read path equals q82") {
    val root = java.nio.file.Files.createTempDirectory("graft-ci-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      import scala.jdk.CollectionConverters._
      def artifacts() = {
        val s = java.nio.file.Files.walk(root, 2)
        try s.iterator().asScala.toList
          .filter(p => java.nio.file.Files.isDirectory(p) &&
            p.getParent != root && p != root)
          .map(_.getFileName.toString)
          .filterNot(_.startsWith(".")).sorted // hidden: Commit staging
        finally s.close()
      }
      // q82 (the build path) materializes the PAIR artifact
      val q82 = run("q82_dup_clusters").collect()
      assert(artifacts() == List("minhash_pairs"))
      // q108 (the read path) adds the LABEL artifact and reproduces
      // q82 bit-for-bit from it
      val q108 = run("q108_cluster_index").collect()
      assert(artifacts() == List("dup_clusters", "minhash_pairs"))
      assert(q108.toSeq == q82.toSeq)
      // second read: no new artifacts, same rows
      assert(run("q108_cluster_index").collect().toSeq == q82.toSeq)
      assert(artifacts() == List("dup_clusters", "minhash_pairs"))
      // the label table itself is the converged closure: every doc's
      // rep is the min doc_id of its cluster, reps are cluster members
      val labels = graft.text.ClusterIndex.load(spark, sf).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      labels.groupBy(_._2).foreach { case (rep, members) =>
        assert(members.map(_._1).min == rep,
          s"rep $rep must be the minimum member of its cluster")
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("DedupIndexes.buildAll: one pass yields artifacts identical to individual builds") {
    import graft.text._
    def surfaces(): Map[String, Seq[String]] = Map(
      "bands" -> BandIndex.load(spark, sf),
      "pairs" -> PairIndex.load(spark, sf),
      "postings" -> PostingIndex.load(spark, sf),
      "jpairs" -> PostingIndex.pairs(spark, sf),
      "containment" -> PostingIndex.containmentPairs(spark, sf),
      "labels" -> ClusterIndex.load(spark, sf)
    ).map { case (k, df) =>
      k -> df.collect().map(_.toString).sorted.toSeq }
    def withRoot[T](f: => T): T = {
      val root = java.nio.file.Files.createTempDirectory("graft-da-spec")
      val prev = sys.props.get("graft.artifacts.dir")
      sys.props("graft.artifacts.dir") = root.toString
      try f finally {
        prev match {
          case Some(v) => sys.props("graft.artifacts.dir") = v
          case None    => sys.props.remove("graft.artifacts.dir")
        }
        graft.etl.Commit.deleteRecursively(root)
      }
    }
    // combined build in a fresh root, then every read surface
    val combined = withRoot {
      DedupIndexes.buildAll(spark, sf)
      surfaces()
    }
    // individual builds in another fresh root (each load() builds its
    // own artifact from scratch)
    val individual = withRoot(surfaces())
    combined.keySet.foreach { k =>
      assert(combined(k).nonEmpty, s"$k: combined build produced no rows")
      assert(combined(k) == individual(k),
        s"$k: combined and individual builds must be row-identical")
    }
  }

  test("q103 segment dedup replays driver-side: first-wins + reconstruction") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // chunk every doc the same way: 16-token windows over the ws split
    val occs = docs.flatMap { case (id, src, text) =>
      text.trim.split("\\s+").toSeq.grouped(16).zipWithIndex.map {
        case (c, i) => (id, src, i, c.mkString(" "), c.length)
      }
    }
    // global first occurrence by (doc_id, chunk_idx)
    val winner = occs.groupBy(_._4).map { case (t, os) =>
      t -> os.map(o => (o._1, o._3.toLong)).min
    }
    val keptOccs = occs.filter(o => winner(o._4) == ((o._1, o._3.toLong)))
    val recon = keptOccs.groupBy(o => (o._1, o._2)).map { case ((id, src), os) =>
      (id, src, os.sortBy(_._3).map(_._4).mkString(" "))
    }
    val expBySrc = docs.groupBy(_._2).map { case (src, ds) =>
      val o = occs.filter(_._2 == src)
      val k = keptOccs.filter(_._2 == src)
      val r = recon.filter(_._2 == src)
      src -> (ds.length.toLong, r.size.toLong, o.length.toLong,
        k.length.toLong, o.map(_._5.toLong).sum, k.map(_._5.toLong).sum,
        r.map(x => java.lang.Long.parseLong(md5hex(x._3).take(8), 16)).sum)
    }
    val got = run("q103_segment_dedup").collect()
    assert(got.map(_.getString(0)).toSet == expBySrc.keySet)
    got.foreach { r =>
      val e = expBySrc(r.getString(0))
      val a = (r.getAs[Long]("n_docs"), r.getAs[Long]("docs_kept"),
        r.getAs[Long]("chunks_before"), r.getAs[Long]("chunks_after"),
        r.getAs[Long]("tokens_before"), r.getAs[Long]("tokens_after"),
        r.getAs[Long]("recon_hash_sum"))
      assert(a == e, s"${r.getString(0)}")
    }
    // the corpus must actually contain cross-doc duplicate chunks
    val (cb, ca) = (got.map(_.getAs[Long]("chunks_before")).sum,
      got.map(_.getAs[Long]("chunks_after")).sum)
    assert(ca < cb, "dedup must remove at least one duplicate chunk")
  }

  test("q104 HLL registers replay driver-side and the estimate is in band") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val regs = scala.collection.mutable.Map[String, Array[Int]]()
    val exact = scala.collection.mutable.Map[String, scala.collection.mutable.Set[Long]]()
    docs.foreach { case (lang, text) =>
      val toks = text.trim.split("\\s+")
      val rg = regs.getOrElseUpdate(lang, new Array[Int](512))
      val ex = exact.getOrElseUpdate(lang, scala.collection.mutable.Set[Long]())
      toks.sliding(8).filter(_.length == 8).foreach { w =>
        val h = java.lang.Long.parseLong(md5hex(w.mkString(" ")).take(15), 16)
        ex += h
        val idx = (h >>> 51).toInt
        val rem = h & ((1L << 51) - 1)
        val rank = if (rem == 0L) 52
          else 52 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
        if (rank > rg(idx)) rg(idx) = rank
      }
    }
    val got = run("q104_hll_distinct").collect()
    assert(got.map(_.getString(0)).toSet == regs.keySet)
    got.foreach { r =>
      val lang = r.getString(0)
      val rg = regs(lang)
      assert(r.getAs[Long]("n_exact") == exact(lang).size.toLong, s"$lang exact")
      assert(r.getAs[Long]("sum_ranks") == rg.map(_.toLong).sum, s"$lang ranks")
      assert(r.getAs[Long]("zero_regs") == rg.count(_ == 0).toLong, s"$lang zeros")
      val sScaled = rg.map(x => 1L << (52 - x)).sum
      val est = math.floor(
        graft.plans.HllAgg.alphaNum / sScaled.toDouble * 10000 + 0.5) / 10000
      assert(r.getAs[Double]("hll_est") == est, s"$lang estimate")
      // raw-regime accuracy: 3 sigma of 1.04/sqrt(512) is ~14%
      assert(r.getAs[Double]("err_pct") < 15.0, s"$lang err ${r.getAs[Double]("err_pct")}")
    }
  }

  test("q110 CMS counters replay driver-side and never undercount") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    // driver-side CMS: 4x256 counters per source + exact token counts
    val cms = scala.collection.mutable.Map[String, Array[Long]]()
    val exact = scala.collection.mutable.Map[(String, String), Long]()
    val global = scala.collection.mutable.Map[String, Long]()
    docs.foreach { case (src, text) =>
      val counters = cms.getOrElseUpdate(src, new Array[Long](1024))
      text.trim.split("\\s+").foreach { t =>
        val h = h60(t)
        for (j <- 0 until 4)
          counters(j * 256 + ((h >>> (8 * j)) & 255L).toInt) += 1L
        exact((src, t)) = exact.getOrElse((src, t), 0L) + 1L
        global(t) = global.getOrElse(t, 0L) + 1L
      }
    }
    val probes = global.toSeq.sortBy { case (t, n) => (-n, t) }.take(16)
    val got = run("q110_cms_heavy_hitters").collect()
    assert(got.length == cms.size * 16, "one row per (source, probe)")
    assert(got.map(_.getAs[String]("token")).toSet == probes.map(_._1).toSet)
    got.foreach { r =>
      val src = r.getAs[String]("source")
      val t = r.getAs[String]("token")
      val h = h60(t)
      val expEst = (0 until 4)
        .map(j => cms(src)(j * 256 + ((h >>> (8 * j)) & 255L).toInt)).min
      assert(r.getAs[Long]("cms_est") == expEst, s"($src,$t) estimate")
      assert(r.getAs[Long]("n_exact") == exact.getOrElse((src, t), 0L),
        s"($src,$t) exact")
      // the CMS guarantee: estimates are one-sided overestimates
      assert(r.getAs[Long]("overcount") >= 0L, s"($src,$t) undercounted")
      assert(r.getAs[Long]("n_global") == global(t), s"($src,$t) global")
    }
  }

  test("q111 BM25 returns dense positive-scored top-5 per query") {
    val out = run("q111_bm25_topk").collect()
    assert(out.nonEmpty)
    val qids = out.map(_.getAs[Long]("qid")).distinct
    // exactly 5 ranked hits per query, ranks dense from 1
    qids.foreach { q =>
      val hits = out.filter(_.getAs[Long]("qid") == q).sortBy(_.getAs[Int]("rank"))
      assert(hits.map(_.getAs[Int]("rank")).toSeq == (1 to hits.length).toSeq)
      assert(hits.length == 5)
      // scores non-increasing in rank (ties broken by doc_id)
      val scores = hits.map(_.getAs[Long]("score_e4")).toSeq
      assert(scores == scores.sorted.reverse, s"q$q scores not sorted")
      assert(scores.last > 0L, s"q$q has a non-positive hit score")
    }
    // NOT asserted: "the query doc is its own top hit" — the query is
    // the 8 alphabetically-first terms of the doc (often common
    // words), so a shorter doc with higher tf can legitimately
    // outrank the source; self-retrieval is data-dependent, and the
    // value-level check is the DuckDB oracle's job anyway
  }

  test("q112 Bloom replays driver-side: no false negatives, exact hit counts") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // driver-side: per-source 8192-bit Bloom + exact shingle sets
    val bits = scala.collection.mutable.Map[String, Array[Long]]()
    val sets = scala.collection.mutable.Map[String, scala.collection.mutable.Set[Long]]()
    val probeCand = scala.collection.mutable.SortedSet[Long]()
    docs.foreach { case (id, src, text) =>
      val arr = bits.getOrElseUpdate(src, new Array[Long](128))
      val set = sets.getOrElseUpdate(src, scala.collection.mutable.Set[Long]())
      text.trim.split("\\s+").sliding(8).filter(_.length == 8).foreach { w =>
        val h = h60(w.mkString(" "))
        set += h
        if (id <= 3) probeCand += h
        for (f <- 0 until 4) {
          val b = ((h >>> (13 * f)) & 8191L).toInt
          arr(b >>> 6) |= 1L << (b & 63)
        }
      }
    }
    val probes = probeCand.take(64).toSeq
    val got = run("q112_bloom_prefilter").collect()
    assert(got.map(_.getAs[String]("source")).toSet == bits.keySet)
    got.foreach { r =>
      val src = r.getAs[String]("source")
      def bit(h: Long, f: Int): Long = {
        val b = ((h >>> (13 * f)) & 8191L).toInt
        (bits(src)(b >>> 6) >>> (b & 63)) & 1L
      }
      val hits = probes.count(p => (0 until 4).forall(bit(p, _) == 1L))
      val present = probes.count(sets(src))
      assert(r.getAs[Long]("n_probes") == probes.size.toLong, s"$src probes")
      assert(r.getAs[Long]("n_present") == present.toLong, s"$src present")
      assert(r.getAs[Long]("n_bloom_hits") == hits.toLong, s"$src hits")
      // the Bloom contract: a member NEVER misses
      assert(r.getAs[Long]("n_false_pos") >= 0L, s"$src false negative!")
      assert(r.getAs[Long]("n_bloom_hits") >= r.getAs[Long]("n_present"),
        s"$src bloom missed a member")
    }
  }

  test("q106 upsampling replays driver-side and up-weights tail languages") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def band(s: String) = java.lang.Long.parseLong(md5hex(s).take(8), 16)
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("lang"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Number](2).longValue))
    val byLang = docs.groupBy(_._1)
    val nMax = byLang.values.map(_.length).max
    val got = run("q106_epoch_upsample").collect()
    assert(got.map(_.getString(0)).toSet == byLang.keySet)
    got.foreach { r =>
      val lang = r.getString(0)
      val ds = byLang(lang)
      val f = math.min(
        math.floor(10000.0 * math.sqrt(nMax.toDouble / ds.length)).toLong,
        100000L)
      val reps = ds.flatMap { case (_, id, nc) =>
        val n = f / 10000 + (if (band(s"up0|$id") % 10000 < f % 10000) 1 else 0)
        (0L until n).map(rep => (id, rep, nc))
      }
      assert(r.getAs[Long]("n_docs") == ds.length.toLong)
      assert(r.getAs[Long]("f_scaled") == f)
      assert(r.getAs[Long]("n_replicas") == reps.length.toLong, s"$lang count")
      assert(r.getAs[Long]("replica_hash_sum") ==
        reps.map(x => band(s"ord|${x._1}|${x._2}")).sum, s"$lang keys")
      assert(r.getAs[Long]("replica_chars") == reps.map(_._3).sum, s"$lang chars")
    }
    // the point: every non-dominant language is repeated >1x on average,
    // the dominant one exactly 1x
    val maxLang = byLang.maxBy(_._2.length)._1
    got.foreach { r =>
      if (r.getString(0) == maxLang)
        assert(r.getAs[Double]("upsample_ratio") == 1.0)
      else if (byLang(r.getString(0)).length < nMax)
        assert(r.getAs[Double]("upsample_ratio") > 1.0,
          s"${r.getString(0)} must be upsampled")
    }
  }

  test("HistAgg bucketing inverts exactly and respects the error bound") {
    import graft.plans.HistAgg.{bucketOf, loOf}
    // lo(bucketOf(x)) <= x < lo(bucketOf(x)+1) — exhaustive small sweep
    // plus octave edges up to 2^62
    val edges = (3 to 62).flatMap(k =>
      Seq((1L << k) - 1, 1L << k, (1L << k) + 1))
    ((0L to 4096L) ++ edges).foreach { x =>
      val b = bucketOf(x)
      assert(loOf(b) <= x, s"x=$x b=$b lo=${loOf(b)}")
      assert(x < loOf(b + 1), s"x=$x b=$b nextLo=${loOf(b + 1)}")
      // ≤12.5% relative width: bucket width is 2^(octave-3), lo >= 2^(octave-1)
      if (x >= 8) assert((loOf(b + 1) - loOf(b)).toDouble / loOf(b) <= 0.25 + 1e-9)
    }
  }

  test("q122 corpus report: quantiles == q120, HLL registers replay, totals exact") {
    val got = run("q122_corpus_report").collect().map(r =>
      r.getString(0) -> r).toMap
    // the HIST side must agree with q120 column-for-column
    val q120 = run("q120_hist_quantiles").collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    assert(got.keySet == q120.keySet)
    got.foreach { case (src, r) =>
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("p50_lo"),
        r.getAs[Long]("p90_lo"), r.getAs[Long]("p99_lo")) == q120(src))
    }
    // totals + HLL registers: full driver-side replay from the corpus
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    def toks(t: String) = t.trim.split("\\s+").filter(_.nonEmpty)
    def h60(x: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    docs.groupBy(_._1).foreach { case (src, rows) =>
      val r = got(src)
      val allToks = rows.map(t => toks(t._2))
      assert(r.getAs[Long]("total_tokens") == allToks.map(_.length.toLong).sum)
      val regs = new Array[Int](512)
      allToks.flatten.foreach { t =>
        val h = h60(t)
        val idx = (h >>> 51).toInt
        val rem = h & ((1L << 51) - 1)
        val rank = if (rem == 0L) 52
          else 52 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
        if (rank > regs(idx)) regs(idx) = rank
      }
      assert(r.getAs[Long]("sum_ranks") == regs.map(_.toLong).sum, s"$src ranks")
      assert(r.getAs[Long]("zero_regs") == regs.count(_ == 0).toLong, s"$src zeros")
      val sScaled = regs.map(x => 1L << (52 - x)).sum.toDouble
      val est = math.floor(
        graft.plans.HllAgg.alphaNum / sScaled * 10000 + 0.5) / 10000
      assert(r.getAs[Double]("distinct_tokens_est") == est, s"$src est")
    }
  }

  test("q120 histogram quantiles match a driver-side replay") {
    import graft.plans.HistAgg.{bucketOf, loOf}
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("source"), graft.text.TextFunctions.token_count(col("text"))
        .cast("long").as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy(_._1).map { case (src, rows) =>
      val buckets = rows.map(r => bucketOf(r._2)).sorted
      val n = buckets.length
      def pick(p: Int): Long = {
        // nearest-rank over the cumulative bucket counts — same rule
        // as the query: smallest bucket with cum*100 >= p*n
        val byB = buckets.groupBy(identity).view.mapValues(_.length)
          .toSeq.sortBy(_._1)
        var cum = 0
        byB.collectFirst {
          case (b, c) if { cum += c; cum * 100 >= p * n } => loOf(b)
        }.get
      }
      src -> (n.toLong, pick(50), pick(90), pick(99))
    }
    val got = run("q120_hist_quantiles").collect().map(r =>
      r.getString(0) -> (r.getAs[Long]("n_docs"), r.getAs[Long]("p50_lo"),
        r.getAs[Long]("p90_lo"), r.getAs[Long]("p99_lo"))).toMap
    assert(got == expected)
    // sanity: percentiles are monotone
    got.values.foreach { case (_, p50, p90, p99) =>
      assert(p50 <= p90 && p90 <= p99)
    }
  }

  test("q128 perplexity buckets replay driver-side: LM, scores, terciles") {
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def bigrams(t: String): Seq[(String, String)] = {
      val ts = t.trim.split("\\s+").toSeq
      ts.zip(ts.drop(1))
    }
    // the reference LM: src0 bigram counts, per-head totals, top-512
    // under the (cnt desc, head, next) ordering rule, e4 floor >= 1
    val refCnt = docs.filter(_._2 == "src0")
      .flatMap(d => bigrams(d._3))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val headTotal = refCnt.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val lm = refCnt.toSeq
      .sortBy { case ((h, n), c) => (-c, h, n) }.take(512)
      .map { case ((h, n), c) =>
        (h, n) -> math.max(math.floor(
          c * 10000.0 / headTotal(h) + 0.5).toLong, 1L)
      }.toMap
    // per-doc integer-mean score; docs without a bigram drop out
    val scored = docs.flatMap { case (id, src, t) =>
      val bs = bigrams(t)
      if (bs.isEmpty) None
      else Some((id, src, bs.map(b => lm.getOrElse(b, 1L)).sum / bs.size))
    }
    // tercile split per source by (score desc, doc_id)
    val expected = scored.groupBy(_._2).toSeq.flatMap { case (src, rows) =>
      val ordered = rows.sortBy { case (id, _, sc) => (-sc, id) }
      val n = ordered.length
      ordered.zipWithIndex.map { case ((_, _, sc), i) =>
        val b = (i * 3) / n match {
          case 0 => "head"; case 1 => "middle"; case _ => "tail"
        }
        (src, b, sc)
      }
    }.groupBy(t => (t._1, t._2)).map { case ((src, b), rows) =>
      val scores = rows.map(_._3)
      (src, b) -> (rows.size.toLong, scores.sum / rows.size,
        scores.min, scores.max)
    }
    val got = run("q128_perplexity_buckets").collect().map(r =>
      (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("avg_e4"),
          r.getAs[Long]("min_e4"), r.getAs[Long]("max_e4"))).toMap
    assert(got == expected)
    // the partition must BIND: every source has all three buckets, and
    // the reference source's head outscores its tail (the LM was
    // trained on it, so its docs are not uniformly out-of-model)
    val srcs = got.keySet.map(_._1)
    srcs.foreach { s =>
      assert(got.contains((s, "head")) && got.contains((s, "middle"))
        && got.contains((s, "tail")), s"source $s missing a bucket")
    }
    assert(got(("src0", "head"))._4 > got(("src0", "tail"))._3,
      "reference head must strictly outscore reference tail")
  }

  test("q130 UniMax allocation replays driver-side and the cap binds") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).trim.split("\\s+").length.toLong))
    val byLang = docs.groupBy(_._2).view
      .mapValues(rs => (rs.length.toLong, rs.map(_._3).sum)).toMap
    val total = byLang.values.map(_._2).sum
    val budget = total * 3 / 4
    val n = byLang.size
    // water-filling replay: ascending by (size, lang), saturate while
    // prefix + size*(remaining) fits, θ = leftover / unsaturated
    val asc = byLang.toSeq.sortBy { case (l, (_, nt)) => (nt, l) }
    var pk = 0L
    val sat = asc.zipWithIndex.map { case ((l, (_, nt)), i) =>
      pk += nt
      l -> (pk + nt * (n - i - 1) <= math.min(budget, total))
    }.toMap
    val psat = asc.collect { case (l, (_, nt)) if sat(l) => nt }.sum
    val k = sat.values.count(identity)
    val theta = if (k == n) Long.MaxValue else (budget - psat) / (n - k)
    val expected = byLang.map { case (l, (nd, nt)) =>
      val alloc = if (sat(l)) nt else math.min(nt, theta)
      val eff = alloc * 10000 / nt
      val kept = docs.count { case (id, lg, _) =>
        lg == l && java.lang.Long.parseLong(
          md5hex(s"unimax0|$id").take(8), 16) % 10000 < eff
      }.toLong
      l -> (nd, nt, alloc, eff, kept)
    }
    val got = run("q130_unimax_mixture").collect().map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == expected)
    // the budget discipline: allocations sum to ≤ budget, and the cap
    // BINDS both ways on this corpus (someone saturates, someone not)
    assert(got.values.map(_._3).sum <= budget)
    assert(k > 0 && k < n,
      s"water level must split the languages: $k of $n saturated")
    // saturated languages run one full epoch; the big one doesn't
    got.foreach { case (l, (_, nt, alloc, eff, _)) =>
      if (sat(l)) assert(alloc == nt && eff == 10000L)
      else assert(alloc < nt && eff < 10000L, s"$l should be leveled")
    }
  }

  test("q143 histogram drift replays driver-side and src0 self-reports 0") {
    val rows = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1).trim.split("\\s+").length.toLong))
    def bucket(v: Long): Int =
      if (v < 8) v.toInt
      else {
        val bl = 64 - java.lang.Long.numberOfLeadingZeros(v)
        ((bl - 2) << 2) | ((v >>> (bl - 3)) & 3L).toInt
      }
    val hists = rows.groupBy(_._1).view.mapValues { vs =>
      val h = new Array[Long](256)
      vs.foreach { case (_, v) => h(bucket(v)) += 1L }
      h
    }.toMap
    val ref = hists("src0")
    val refTot = ref.sum
    val expected = hists.map { case (src, h) =>
      val tot = h.sum
      val tv = h.indices.map(b =>
        math.abs(h(b) * 1000000L / tot - ref(b) * 1000000L / refTot)).sum
      src -> (rows.count(_._1 == src).toLong, tv / 200)
    }
    val got = run("q143_hist_drift").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    assert(got("src0")._2 == 0L, "the reference must self-report zero drift")
    assert(got.exists(_._2._2 > 0L), "some source must show real drift")
  }

  test("q146 collocations replay driver-side and lift discriminates") {
    val texts = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull).select(col("text")).collect()
      .map(_.getString(0))
    val bigrams = texts.flatMap { t =>
      val toks = t.trim.split("\\s+")
      toks.dropRight(1).zip(toks.drop(1))
    }
    val nAb = bigrams.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nA = bigrams.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nB = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n = bigrams.length.toLong
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val expected = nAb.toSeq.filter(_._2 >= 5L)
      .map { case ((a, b), ab) =>
        (a, b, ab, nA(a), nB(b),
          r4((ab.toDouble * n.toDouble) / (nA(a).toDouble * nB(b).toDouble)))
      }
      .sortBy { case (a, b, _, _, _, l) => (-l, a, b) }.take(20)
    val got = run("q146_collocations").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toSeq
    assert(got === expected)
    // the measure must separate real collocations from chance pairs
    assert(got.head._6 > 1.2, s"top lift ${got.head._6} barely above chance")
    assert(got.forall(_._3 >= 5L), "support floor violated")
  }

  test("q152 padding waste replays driver-side and bucketing always wins") {
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = graft.analytics.Tables.documents(spark, sf)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").length.toLong))
    val rows = docs.map { case (id, len) =>
      val shard = java.lang.Long.parseLong(md5hex(id.toString).take(8), 16) % 100 % 8
      (shard, len, md5hex(s"q152|$id"))
    }
    def waste(ordered: Seq[Long]): Long =
      ordered.grouped(32).map(b => b.map(b.max - _).sum).sum
    val expected = rows.groupBy(_._1).map { case (shard, rs) =>
      val naive = waste(rs.sortBy(_._3).map(_._2).toSeq)
      val sorted_ = waste(rs.sortBy(r => (r._2, r._3)).map(_._2).toSeq)
      val sav = if (naive == 0) 0L else (naive - sorted_) * 10000 / naive
      shard -> ((rs.length.toLong, naive, sorted_, sav))
    }
    val got = run("q152_padding_waste").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(got == expected)
    // the audit must measure something: bucketing never loses, and at
    // this corpus's length spread it wins substantially somewhere
    got.values.foreach { case (_, n, s, _) => assert(s <= n) }
    assert(got.values.exists(_._4 > 2000), "no shard saved > 20%")
  }

  test("q146 collocations yield an empty frame on a bigram-less corpus") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-colloc-empty").toString
    Seq((1L, "solo", "es", "s1", 4L), (2L, "uno", "es", "s1", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // single-token docs: zero bigrams — the build must return the
    // oracle's empty top-20, not NPE on the null total
    assert(CurationQueries.queries("q146_collocations")
      .build(spark, dir).collect().isEmpty)
  }

  test("q141 sketch overlap replays driver-side (registers, algebra, exact)") {
    val root = java.nio.file.Files.createTempDirectory("graft-hllov-spec")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def md5hex(s: String) =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val docs = graft.analytics.Tables.documents(spark, sf)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), col("text")).collect()
        .map(r => (r.getString(0), r.getString(1)))
      val regs = scala.collection.mutable.Map[String, Array[Int]]()
      val sets = scala.collection.mutable
        .Map[String, scala.collection.mutable.Set[Long]]()
      docs.foreach { case (src, text) =>
        val rg = regs.getOrElseUpdate(src, new Array[Int](512))
        val ex = sets.getOrElseUpdate(src,
          scala.collection.mutable.Set[Long]())
        text.trim.split("\\s+").sliding(8).filter(_.length == 8).foreach { w =>
          val h = java.lang.Long.parseLong(md5hex(w.mkString(" ")).take(15), 16)
          ex += h
          val idx = (h >>> 51).toInt
          val rem = h & ((1L << 51) - 1)
          val rank = if (rem == 0L) 52
            else 52 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
          if (rank > rg(idx)) rg(idx) = rank
        }
      }
      def est(rg: Array[Int]) =
        graft.plans.HllAgg.alphaNum / rg.map(x => 1L << (52 - x)).sum.toDouble
      def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
      val srcs = regs.keys.toSeq.sorted
      val expected = (for {
        i <- srcs.indices; j <- (i + 1) until srcs.length
      } yield {
        val (a, b) = (srcs(i), srcs(j))
        val (ea, eb) = (est(regs(a)), est(regs(b)))
        val eu = est(regs(a).zip(regs(b)).map(t => math.max(t._1, t._2)))
        val ei = math.max(ea + eb - eu, 0.0)
        val nsh = sets(a).intersect(sets(b)).size.toLong
        (a, b) -> ((r4(ea), r4(eb), r4(eu), r4(ei), nsh,
          r4(math.abs(ei - nsh) / math.max(nsh, 1L) * 100)))
      }).toMap
      val got = run("q141_sketch_overlap").collect().map(r =>
        (r.getString(0), r.getString(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
            r.getLong(6), r.getDouble(7)))).toMap
      assert(got.keySet == expected.keySet, "one row per source pair")
      assert(got == expected)
      // register-domination sanity: the union sketch dominates each
      // side (max-merged registers can only raise the estimate). The
      // estimator is NOT subadditive — eu can exceed ea + eb on
      // near-disjoint sources — which is exactly why the query clamps
      // est_inter at 0 instead of asserting it away.
      got.values.foreach { case (ea, eb, eu, ei, _, _) =>
        assert(eu >= math.max(ea, eb) - 1e-9)
        assert(ei >= 0.0)
      }
      assert(got.values.exists(_._5 > 0), "fixture must overlap somewhere")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }
}
