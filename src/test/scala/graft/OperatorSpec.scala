package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, RangeJoin, SaltedJoin}

class OperatorSpec extends SparkSpec {

  import spark.implicits._

  private def left = Seq(
    (1L, 10L, "a"), (1L, 20L, "b"), (1L, 35L, "c"), (2L, 5L, "d"))
    .toDF("k", "t", "tag")

  private def right = Seq(
    (1L, 10L, 100.0), (1L, 30L, 300.0), (3L, 1L, 999.0))
    .toDF("k", "t", "payload")

  test("as-of backward: latest right at-or-before, inclusive, null when none") {
    val out = AsOfJoin.backward(left, "k", "t", right, "k", "t", Seq("payload"))
      .select("tag", "payload").collect().map(r =>
        r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out === Map("a" -> 100.0, "b" -> 100.0, "c" -> 300.0, "d" -> null))
  }

  test("as-of forward: earliest right at-or-after, inclusive, null when none") {
    val out = AsOfJoin.forward(left, "k", "t", right, "k", "t", Seq("payload"))
      .select("tag", "payload").collect().map(r =>
        r.getString(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(out === Map("a" -> 100.0, "b" -> 300.0, "c" -> null, "d" -> null))
  }

  test("range join: half-open [start, end), bucket-boundary straddle") {
    val points = Seq((1L, 0L), (1L, 99L), (1L, 100L), (1L, 150L), (1L, 250L))
      .toDF("k", "t")
    // [100, 200) straddles buckets with width 64; [0, 100) exact edge
    val ivals = Seq((1L, 0L, 100L, "i1"), (1L, 100L, 200L, "i2"))
      .toDF("k", "s", "e", "iv")
    val out = RangeJoin.pointInInterval(points, "k", "t", ivals, "k",
        "s", "e", Seq("iv"), bucketWidth = 64)
      .select("t", "iv").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(out === Set((0L, "i1"), (99L, "i1"), (100L, "i2"), (150L, "i2")))
  }

  test("as-of joins match a naive per-row scan on random data") {
    val rnd = new scala.util.Random(7)
    val leftRows = Seq.tabulate(300)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val rightRows = Seq.tabulate(120)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, i * 1.5))
      // operator contract: right side unique per (key, time)
      .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
    val l = leftRows.toDF("k", "t", "row_id")
    val r = rightRows.toDF("k", "t", "payload")

    val back = AsOfJoin.backward(l, "k", "t", r, "k", "t", Seq("payload"))
      .select("row_id", "payload").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
      .toMap
    val fwd = AsOfJoin.forward(l, "k", "t", r, "k", "t", Seq("payload"))
      .select("row_id", "payload").collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(1)) None else Some(x.getDouble(1))))
      .toMap

    leftRows.foreach { case (k, t, id) =>
      val naiveBack = rightRows.filter(x => x._1 == k && x._2 <= t)
        .sortBy(_._2).lastOption.map(_._3)
      val naiveFwd = rightRows.filter(x => x._1 == k && x._2 >= t)
        .sortBy(_._2).headOption.map(_._3)
      assert(back(id) === naiveBack, s"backward k=$k t=$t")
      assert(fwd(id) === naiveFwd, s"forward k=$k t=$t")
    }
  }

  test("range join matches a naive theta join on random data") {
    val rnd = new scala.util.Random(11)
    val pts = Seq.tabulate(300)(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(2000).toLong, i.toLong))
    val ivs = Seq.tabulate(80) { i =>
      val s = rnd.nextInt(2000).toLong
      (rnd.nextInt(5).toLong, s, s + rnd.nextInt(300).toLong, i.toLong)
    }
    val p = pts.toDF("k", "t", "pid")
    val iv = ivs.toDF("k", "s", "e", "iid")
    for (width <- Seq(64L, 128L, 1024L)) {
      val got = RangeJoin.pointInInterval(p, "k", "t", iv, "k", "s", "e",
          Seq("iid"), bucketWidth = width)
        .select("pid", "iid").collect()
        .map(x => (x.getLong(0), x.getLong(1))).toSet
      val want = (for {
        (pk, pt, pid) <- pts
        (ik, is, ie, iid) <- ivs
        if pk == ik && pt >= is && pt < ie
      } yield (pid, iid)).toSet
      assert(got === want, s"bucketWidth=$width")
    }
  }

  test("q133 decayed counters replay driver-side with exact halvings") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.analytics.Tables.events(spark, d)
      .select(graft.analytics.Tables
        .tsUs(graft.analytics.Tables.events(spark, d)).as("ts_us"),
        col("user_id"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val ref = rows.map(_._1).max
    val expected = rows.groupBy(t => (t._2, t._3)).map { case (k, rs) =>
      k -> (rs.length.toLong, rs.map { case (ts, _, _) =>
        65536L >> math.min((ref - ts) / 86400000000L, 16L).toInt
      }.sum)
    }
    val got = graft.analytics.EventQueries.queries("q133_decayed_counts")
      .build(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == expected)
    // the decay must BIND: the 30-day window spans several halvings,
    // so some group's score is strictly below fresh-weight × count
    assert(got.exists { case (_, (n, sc)) => sc < n * 65536L },
      "every event scored fresh — decay exercised nothing")
    // and the group holding the newest event must carry its FULL
    // 65536 weight (age 0) on top of everyone else's >= 1 floor — a
    // shift bug flooring every age would break this
    val newest = rows.maxBy(_._1)
    val (nN, scN) = got((newest._2, newest._3))
    assert(scN >= 65536L + (nN - 1),
      s"newest event's group must carry full weight: $scN of $nN events")
  }

  test("q136 pagerank replays driver-side with exact integer iterations") {
    val d = "/root/testdata/sf0.001"
    val li = graft.analytics.Tables.lineitem(spark, d)
      .select(col("l_suppkey"), col("l_orderkey"))
    val ord = graft.analytics.Tables.orders(spark, d)
      .select(col("o_orderkey"), col("o_custkey"))
    val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"), col("o_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val edges = pairs.flatMap { case (s, c) =>
      Seq(("s" + s, "c" + c), ("c" + c, "s" + s))
    }
    val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val scale = 1000000000000L
    val n = deg.size
    val rInit = scale / n
    val base = rInit * 15 / 100
    var rank: Map[String, Long] = deg.map { case (k, _) => k -> rInit }
    for (_ <- 1 to 3) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => rank(src) / deg(src) }.sum
      }
      rank = in.map { case (node, sc) => node -> (base + 85 * sc / 100) }
    }
    val expected = rank.toSeq.sortBy { case (node, r) => (-r, node) }.take(20)
    val got = graft.analytics.ExtendedQueries.queries("q136_pagerank")
      .build(spark, d).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === expected)
    // centrality must DISCRIMINATE: a constant-rank answer (e.g. a
    // degree term cancelled out) would still be internally consistent
    assert(expected.map(_._2).distinct.size > 1,
      "all top-20 ranks equal — the iteration moved no mass")
    // total mass stays within integer-truncation loss of the scale
    val total = rank.valuesIterator.sum
    assert(total <= scale && total > scale * 9 / 10,
      s"rank mass $total escaped the [0.9, 1.0] x scale band")
  }

  test("q138 cohort retention replays driver-side with exact e4 rates") {
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    val act = e.select(graft.analytics.Tables.tsUs(e).as("ts_us"),
        col("user_id")).collect()
      .map(r => (r.getLong(1), r.getLong(0) / 86400000000L)).distinct
    val first = act.groupBy(_._1).map { case (u, ds) => u -> ds.map(_._2).min }
    val ret = act.map { case (u, day) => (first(u), day - first(u)) }
      .filter(_._2 <= 7)
      .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
    val cohortN = ret.collect { case ((c, 0L), n) => c -> n }
    val expected = ret.toSeq.map { case ((c, off), n) =>
      (c, off, n, n * 10000 / cohortN(c))
    }.sortBy(t => (t._1, t._2))
    val got = graft.analytics.EventQueries.queries("q138_cohort_retention")
      .build(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got === expected)
    // retention must BIND: some (cohort, offset>0) cell is below 100%
    assert(expected.exists(t => t._2 > 0 && t._4 < 10000),
      "every cohort fully retained — the rate computed nothing")
  }

  test("q145 hourly anomalies replay driver-side and the flag fires") {
    // sf0.01, not the usual 0.001: the smallest fixture is uniform
    // enough that no hour deviates (n_anom 0 everywhere) — the spec
    // must exercise the firing branch
    val d = "/root/testdata/sf0.01"
    val e = graft.analytics.Tables.events(spark, d)
    val rows = e.select(col("event_type"),
        graft.analytics.Tables.tsUs(e).as("ts_us")).collect()
      .map(r => (r.getString(0), r.getLong(1) / 3600000000L))
    val counts = rows.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val types = counts.keys.map(_._1).toSet
    def nearestRankMin(vs: Seq[(Long, Long)]): Long = {
      // (value, hr) sorted ascending; nearest-rank lower median
      val sorted = vs.sortBy(identity)
      sorted(((sorted.length + 1) / 2) - 1)._1
    }
    val expected = types.toSeq.sorted.map { t =>
      val hrs = counts.collect { case ((`t`, hr), c) => (hr, c) }.toSeq
      val med = nearestRankMin(hrs.map { case (hr, c) => (c, hr) })
      val devs = hrs.map { case (hr, c) => (hr, math.abs(c - med)) }
      val mad = nearestRankMin(devs.map { case (hr, dv) => (dv, hr) })
      val nAnom = devs.count(_._2 > 3 * math.max(mad, 1L)).toLong
      val (worstHr, worstDev) = devs.minBy { case (hr, dv) => (-dv, hr) }
      (t, hrs.length.toLong, med, mad, nAnom,
        worstHr, counts((t, worstHr)), worstDev)
    }
    val got = graft.analytics.EventQueries.queries("q145_hourly_anomalies")
      .build(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
      .toSeq
    assert(got === expected.map(t => (t._1, t._2, t._3, t._4, t._5, t._6, t._7)))
    // the monitor must actually monitor: at this SF some hour flags,
    // and the flagged worst hour really deviates past the threshold
    assert(expected.exists(_._5 > 0), "no anomaly fired at sf0.01")
    expected.filter(_._5 > 0).foreach { t =>
      assert(t._8 > 3 * math.max(t._4, 1L)) }
  }

  test("q148 degree shape replays driver-side over the raw graph") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-deg-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val li = graft.analytics.Tables.lineitem(spark, d)
        .select(col("l_suppkey"), col("l_orderkey")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val ord = graft.analytics.Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_custkey")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val deg = scala.collection.mutable.Map[Long, Long]()
      li.foreach { case (sk, ok) =>
        val (sid, cid) = (sk * 2, ord(ok) * 2 + 1)
        deg(sid) = deg.getOrElse(sid, 0L) + 1
        deg(cid) = deg.getOrElse(cid, 0L) + 1
      }
      def bucket(v: Long): Int =
        if (v < 8) v.toInt
        else {
          val bl = 64 - java.lang.Long.numberOfLeadingZeros(v)
          ((bl - 2) << 2) | ((v >>> (bl - 3)) & 3L).toInt
        }
      def loOf(b: Int): Long =
        if (b < 8) b.toLong else (4L + (b % 4)) << (b / 4 - 1)
      def stats(ds: Seq[Long]): (Long, Long, Long, Long, Long) = {
        val bs = ds.map(bucket).sorted
        def nr(p: Int) = {
          val n = bs.length
          loOf(bs(((n * p + 99) / 100).max(1) - 1))
        }
        // nearest-rank on the sorted bucket list == the cumulative
        // rule min{b : cum*100 >= p*total}
        (ds.length.toLong, ds.max, nr(50), nr(90), nr(99))
      }
      val expected = Seq("customer", "supplier").map { side =>
        val ds = deg.collect {
          case (v, dg) if (v % 2 == 0) == (side == "supplier") => dg
        }.toSeq
        side -> stats(ds)
      }.toMap
      val got = graft.analytics.ExtendedQueries.queries("q148_degree_shape")
        .build(spark, d).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got == expected)
      // the signal the query exists for: the supplier side is the
      // skewed one on this graph (hub degrees far above customers')
      assert(got("supplier")._2 > got("customer")._2,
        "expected supplier-side hubs")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
    }
  }

  test("q149 conversion latency replays driver-side with exact buckets") {
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    val rows = e.select(col("event_type"), col("user_id"),
        graft.analytics.Tables.tsUs(e).as("ts_us")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val clicksBy = rows.filter(_._1 == "click").map(t => (t._2, t._3))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val purchases = rows.filter(_._1 == "purchase").map(t => (t._2, t._3))
    val lats = purchases.flatMap { case (u, ts) =>
      clicksBy.get(u).flatMap { cs =>
        val prior = cs.takeWhile(_ <= ts)
        if (prior.isEmpty) None else Some((ts - prior.last) / 1000000L)
      }
    }
    def bucket(v: Long): Int =
      if (v < 8) v.toInt
      else {
        val bl = 64 - java.lang.Long.numberOfLeadingZeros(v)
        ((bl - 2) << 2) | ((v >>> (bl - 3)) & 3L).toInt
      }
    def loOf(b: Int): Long =
      if (b < 8) b.toLong else (4L + (b % 4)) << (b / 4 - 1)
    val bs = lats.map(bucket).sorted
    def nr(p: Int) = loOf(bs(((bs.length * p + 99) / 100).max(1) - 1))
    val r = graft.analytics.EventQueries.queries("q149_conversion_latency")
      .build(spark, d).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("n_purchases") == purchases.length.toLong)
    assert(row.getAs[Long]("n_converted") == lats.length.toLong)
    assert(row.getAs[Long]("p50_lo") == nr(50))
    assert(row.getAs[Long]("p90_lo") == nr(90))
    assert(row.getAs[Long]("p99_lo") == nr(99))
    assert(row.getAs[Long]("max_latency_s") == lats.max)
    // the funnel must bind both ways at this SF
    assert(lats.nonEmpty && lats.length < purchases.length,
      "need both converted and unconverted purchases")
  }

  test("q151 transition matrix replays driver-side and rows are stochastic") {
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    val rows = e.select(col("user_id"), col("event_id"), col("event_type"),
        graft.analytics.Tables.tsUs(e).as("ts_us")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val pairs = rows.groupBy(_._1).values.flatMap { es =>
      val seq = es.sortBy(t => (t._4, t._2)).map(_._3)
      seq.zip(seq.drop(1))
    }.toSeq
    val n = pairs.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val tot = pairs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val expected = n.toSeq.map { case ((f, t), c) =>
      (f, t, c, c * 10000 / tot(f))
    }.sortBy(t => (t._1, t._2))
    val got = graft.analytics.EventQueries.queries("q151_event_transitions")
      .build(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == expected)
    // row-stochastic up to the integer floor: each from-row's p_e4
    // sums into (10000 - |row|, 10000]
    got.groupBy(_._1).foreach { case (f, rs) =>
      val s = rs.map(_._4).sum
      assert(s <= 10000 && s > 10000 - rs.length,
        s"$f row sums to $s over ${rs.length} cells")
    }
  }

  test("q150 join-size estimators replay driver-side; AGMS beats CMS here") {
    val d = "/root/testdata/sf0.001"
    def md5hex(s: String) =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def h60(v: Long) = java.lang.Long.parseLong(md5hex(v.toString).take(15), 16)
    val lks = graft.analytics.Tables.lineitem(spark, d)
      .select(col("l_orderkey")).collect().map(_.getLong(0))
    val oks = graft.analytics.Tables.orders(spark, d)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val okSet = oks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val exact = lks.map(k => okSet.getOrElse(k, 0L)).sum
    def sketches(ks: Array[Long]): (Array[Long], Array[Long]) = {
      val cms = new Array[Long](1024); val ams = new Array[Long](1024)
      ks.foreach { k =>
        val h = h60(k)
        for (j <- 0 until 4) {
          val cell = j * 256 + ((h >>> (8 * j)) & 255L).toInt
          cms(cell) += 1L
          ams(cell) += (if (((h >>> (32 + j)) & 1L) == 1L) 1L else -1L)
        }
      }
      (cms, ams)
    }
    val (ca, sa) = sketches(lks); val (cb, sb) = sketches(oks)
    def dots(x: Array[Long], y: Array[Long]) = (0 until 4).map(j =>
      (0 until 256).map(i => x(j * 256 + i) * y(j * 256 + i)).sum)
    val cmsEst = dots(ca, cb).min
    val sd = dots(sa, sb).sorted
    val amsEst = (sd(1) + sd(2)) >> 1
    val r = graft.analytics.ExtendedQueries
      .queries("q150_join_size_estimate").build(spark, d).collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("exact_rows") == exact)
    assert(row.getAs[Long]("cms_est") == cmsEst)
    assert(row.getAs[Long]("ams_est") == amsEst)
    // the estimators' defining properties on real data: CMS one-sided
    // above truth; AGMS lands within its ~1/sqrt(w) variance band
    assert(cmsEst >= exact, "CMS inner product must never undercount")
    assert(math.abs(amsEst - exact) < math.abs(cmsEst - exact),
      "the signed sketch must beat CMS at this key density")
    assert(math.abs(amsEst - exact).toDouble / exact < 0.5,
      s"AGMS estimate $amsEst implausibly far from $exact")
  }

  test("q157 discrete-Laplace sampler: exact replay + the 2^-|z| law") {
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def noiseOf(key: String): Long = {
      val h = java.lang.Long.parseLong(
        md5hex(graft.analytics.DpNoise.OracleSecret + "|dp0|" + key)
          .take(15), 16)
      val u = h % (3L << 40)
      if (u < (1L << 40)) 0L
      else {
        val v = u - (1L << 40)
        val t = ((1L << 40) - 1) - (v / 2)
        val k = if (t == 0) 40L else 41L - java.lang.Long.toBinaryString(t).length
        if (v % 2 == 0) k else -k
      }
    }
    // exact replay of the shipped query's noise column
    val got = graft.analytics.EventQueries.queries("q157_dp_release")
      .build(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.nonEmpty)
    got.foreach { case (t, n, z, rel) =>
      assert(z == noiseOf(t), s"$t: noise drift")
      assert(rel == n + z)
    }
    // the mechanism's law over many keys: P(z=0) = 1/3 and
    // P(|z|=k) = (1/3)·2^{1-k} split evenly by sign — empirical
    // frequencies over 120k keys must land within 2% absolute
    val zs = (1 to 120000).map(i => noiseOf(s"key$i"))
    val n = zs.size.toDouble
    def freq(p: Long => Boolean) = zs.count(p) / n
    assert(math.abs(freq(_ == 0L) - 1.0 / 3) < 0.02, "P(0) != 1/3")
    assert(math.abs(freq(_ == 1L) - 1.0 / 6) < 0.02, "P(+1) != 1/6")
    assert(math.abs(freq(_ == -1L) - 1.0 / 6) < 0.02, "P(-1) != 1/6")
    assert(math.abs(freq(z => math.abs(z) == 2) - 1.0 / 6) < 0.02,
      "P(|z|=2) != 1/6")
    // symmetry of the whole tail
    assert(math.abs(freq(_ > 0) - freq(_ < 0)) < 0.02, "sign asymmetry")
  }

  test("DpNoise secret keying: secret changes the noise, empty/default secrets refuse") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.analytics.DpNoise
    val keys = spark.range(200).select(col("id").cast("string").as("k"))
    def draw(secret: String) = keys
      .select(DpNoise.noiseFor(col("k"), secret).as("z")).collect()
      .map(_.getLong(0)).toSeq
    val a = draw(DpNoise.OracleSecret)
    val b = draw("some-production-secret")
    // a different secret re-keys the PRF: the sample vectors must
    // differ (they'd only collide with probability ~2^-...tiny), so
    // knowing the public release keys alone cannot reproduce the noise
    assert(a != b, "noise must depend on the secret, not the key alone")
    // same (secret, key) always replays identically — consistent noise
    assert(draw("some-production-secret") == b)
    intercept[IllegalArgumentException] {
      DpNoise.noiseFor(lit("k"), "")
    }
    // production resolution refuses to run unkeyed rather than
    // falling back to the published oracle constant
    val hadConf = spark.conf.getOption("spark.graft.dp.secret")
    spark.conf.unset("spark.graft.dp.secret")
    try {
      if (!sys.env.contains("GRAFT_DP_SECRET"))
        intercept[IllegalArgumentException] { DpNoise.secretFromConf(spark) }
      spark.conf.set("spark.graft.dp.secret", "s3cr3t")
      assert(DpNoise.secretFromConf(spark) == "s3cr3t")
    } finally {
      hadConf match {
        case Some(v) => spark.conf.set("spark.graft.dp.secret", v)
        case None => spark.conf.unset("spark.graft.dp.secret")
      }
    }
  }

  test("ScopedCache: cache visible in the plan, released after the query's action") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val mid = spark.range(1000).toDF("id")
      .groupBy((col("id") % 10).as("k")).agg(count(lit(1)).as("c"))
    val out = graft.ScopedCache.withScopedCache(mid) { m =>
      // two branches read the intermediate — the reason it persists
      m.agg(sum(col("c")).as("t")).crossJoin(m.agg(max(col("c")).as("mx")))
    }
    // the cache must be visible to the consuming plan (PlanSpec pins
    // InMemoryTableScan shapes on the production queries)
    assert(out.queryExecution.executedPlan.toString
      .contains("InMemoryTableScan"))
    assert(out.collect().length == 1)
    // the release listener is async: the cached blocks must disappear
    // shortly after the action completes
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty
        && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "scoped cache must unpersist after the consuming action")
  }

  test("ScopedCache: a FAILED consuming action keeps the cache for the retry") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val mid = spark.range(100).toDF("id")
      .groupBy((col("id") % 5).as("k")).agg(count(lit(1)).as("c"))
    val out = graft.ScopedCache.withScopedCache(mid) { m =>
      m.agg(sum(col("c")).as("t")).crossJoin(m.agg(max(col("c")).as("mx")))
    }
    // a failing action OVER the cached subtree (raise_error fires per
    // row) must not release it — the retry is exactly the second pass
    // the persist protects (the r11 advisor's catch)
    intercept[Exception] {
      out.select(when(col("t") >= 0, raise_error(lit("boom")))).collect()
    }
    Thread.sleep(500) // listener dispatch is async; give it time to misfire
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty,
      "failure must NOT unpersist the scoped cache")
    // the successful retry consumes and releases as usual
    assert(out.collect().length == 1)
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty
        && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "scoped cache must still release after the successful retry")
  }

  test("ScopedCache: a PERMANENTLY failing consumer releases after the failure bound") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val mid = spark.range(100).toDF("id")
      .groupBy((col("id") % 5).as("k")).agg(count(lit(1)).as("c"))
    val out = graft.ScopedCache.withScopedCache(mid) { m =>
      m.agg(sum(col("c")).as("t")).crossJoin(m.agg(max(col("c")).as("mx")))
    }
    val broken =
      out.select(when(col("t") >= 0, raise_error(lit("boom"))))
    // a consumer that NEVER succeeds must not pin cached partitions
    // for the session lifetime (the r12 advisor's catch) — after
    // MaxObservedFailures failed attempts the entry is released anyway
    for (_ <- 1 to graft.ScopedCache.MaxObservedFailures)
      intercept[Exception] { broken.collect() }
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty
        && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty,
      "the failure bound must release a permanently-failing consumer's cache")
  }

  test("q164 bounded-sum release: clamp binds, smoothed noise replays driver-side") {
    import graft.analytics.DpNoise
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    val rows = e.filter(col("value").isNotNull)
      .select("event_type", "user_id", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val C = 10000L
    val perUser = rows.groupBy(t => (t._1, t._2)).map { case (k, ts) =>
      k -> ts.map(t => math.floor(t._3 * 100 + 0.5).toLong).sum
    }
    val expected = perUser.groupBy(_._1._1).map { case (t, us) =>
      t -> (us.map(u => math.min(C, math.max(0L, u._2))).sum, us.size.toLong)
    }
    // the clamp must BIND at this SF — otherwise the bound (and the
    // sensitivity claim) is vacuous on the test corpus
    assert(perUser.values.exists(_ > C),
      "no user exceeds the contribution cap — q164's clamp is untested")
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def noiseOf(key: String): Long = {
      val h = java.lang.Long.parseLong(
        md5hex(DpNoise.OracleSecret + "|dp0|" + key).take(15), 16)
      val u = h % (3L << 40)
      if (u < (1L << 40)) 0L
      else {
        val v = u - (1L << 40)
        val t = ((1L << 40) - 1) - (v >> 1)
        val k = if (t == 0) 40L
          else 41L - java.lang.Long.toBinaryString(t).length
        if (v % 2 == 0) k else -k
      }
    }
    // the lattice-smoothing draw (the r11 advisor's high finding:
    // C·G alone is ≡ 0 mod C and leaks the sum's residue exactly)
    def uniformOf(key: String): Long = {
      val h = java.lang.Long.parseLong(
        md5hex(DpNoise.OracleSecret + "|dpu0|" + key).take(15), 16)
      h % C - C / 2
    }
    val got = graft.analytics.EventQueries.queries("q164_dp_bounded_sum")
      .build(spark, d).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val t = r.getString(0)
      val (s0, n) = expected(t)
      assert(r.getLong(1) == s0, s"$t: clamped sum drift")
      assert(r.getLong(2) == n)
      assert(r.getLong(3) == noiseOf("sum|" + t), s"$t: noise drift")
      assert(r.getLong(4) == uniformOf("sum|" + t), s"$t: smooth drift")
      assert(r.getLong(5) == s0 + C * noiseOf("sum|" + t)
        + uniformOf("sum|" + t), s"$t: smoothed release drift")
    }
    // the fix must be non-vacuous on this corpus: at least one
    // release's residue mod C differs from its clamped sum's — with
    // the old lattice noise they were ALWAYS equal (the leak)
    assert(got.exists { r =>
      ((r.getLong(5) % C) + C) % C != ((r.getLong(1) % C) + C) % C
    }, "smoothing never moved a residue — the mod-C leak fix is untested")
  }

  test("DpLedger: sequential composition sums, versioned record/load audit trail") {
    import graft.analytics.DpLedger
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    val ev = e.withColumn("ts_us", graft.analytics.Tables.tsUs(e))
    val rel = DpLedger.shippedReleases(ev)
    // eight shipped releases; the three row-level ones spend ln 2
    // each, the two user-level ones |types|·ln 2 (cells don't
    // partition users), the top-k selection 3·ln 2 (three sequential
    // peels), the quantile release 12·ln 2 (three 4·ln 2 draws), the
    // SVT release 4·ln 2 (total + threshold + halting query) — total
    // (22 + 2·|types|)·ln 2: the accounting the releases alone never
    // surfaced
    assert(rel.map(_.release) == Seq("q157_counts_by_type",
      "q159_hist_type_dow", "q163_dp_user_counts",
      "q164_dp_bounded_sum", "q169_dp_topk_select",
      "q173_dp_quantile", "q185_svt_first_anomaly",
      "stream_hourly_counts"))
    val nTypes = rel(0).n_cells
    assert(nTypes > 0)
    Seq(rel(2), rel(3)).foreach { r =>
      assert(r.eps_e6 == nTypes * DpLedger.EpsLn2E6 &&
        r.n_cells == nTypes)
    }
    // the selection/quantile prices are data-INDEPENDENT
    assert(rel(4).eps_e6 == 3 * DpLedger.EpsLn2E6 && rel(4).n_cells == 3)
    assert(rel(5).eps_e6 == 12 * DpLedger.EpsLn2E6 && rel(5).n_cells == 3)
    assert(rel(6).eps_e6 == 4 * DpLedger.EpsLn2E6 && rel(6).n_cells == 1)
    assert(DpLedger.totalEpsE6(rel) ==
      (22 + 2 * nTypes) * DpLedger.EpsLn2E6)
    // cell counts measured from the data: the histogram refines the
    // per-type release, the hourly feed refines it further
    assert(rel(1).n_cells >= rel(0).n_cells)
    assert(rel(7).n_cells >= rel(1).n_cells)
    // the ledger frame's running total ends at the sequential sum
    val lf = DpLedger.ledger(ev).collect()
    assert(lf.map(_.getAs[Long]("cum_eps_e6")).max ==
      (22 + 2 * nTypes) * DpLedger.EpsLn2E6)
    // versioned audit trail: each record is a new immutable version,
    // load returns the latest
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dpledger").toString
    assert(DpLedger.record(DpLedger.ledger(ev), dir) == 1L)
    assert(DpLedger.record(DpLedger.ledger(ev.limit(50)), dir) == 2L)
    val loaded = DpLedger.load(spark, dir)
    assert(loaded.count() == 8)
    val smallCells = loaded.orderBy("release").collect()
      .map(_.getAs[Long]("n_cells"))
    assert(smallCells.zip(lf.map(_.getAs[Long]("n_cells")))
      .forall { case (s, f) => s <= f },
      "v2 (50-event ledger) must not exceed the full ledger's cells")
  }

  test("q169 exponential mechanism replays driver-side; peels disjoint, intervals exact") {
    import graft.analytics.DpNoise
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    var cands = e.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cands.size >= 3, "top-3 selection needs >= 3 candidate types")
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // the dpq0-separated uniform draw on [0, mod) — DpNoise.uniformModFor
    def drawOf(key: String, mod: Long): Long = java.lang.Long.parseLong(
      md5hex(DpNoise.OracleSecret + "|dpq0|" + key).take(15), 16) % mod
    // three peels: max-shifted clipped base-2 weights, alphabetical
    // cumulative intervals, winner removed before the next round
    val expected = (1 to 3).map { r =>
      val m = cands.values.max
      val ws = cands.toSeq.sortBy(_._1).map { case (t, n) =>
        (t, n, 1L << (40L - math.min(m - n, 40L)).toInt)
      }
      val tot = ws.map(_._3).sum
      val u = drawOf(s"topk|r$r", tot)
      assert(u >= 0 && u < tot)
      var cum = 0L
      var win: (String, Long, Long) = null
      ws.foreach { w =>
        cum += w._3
        if (win == null && u < cum) win = w
      }
      cands -= win._1
      (r.toLong, win._1, win._2, win._3, tot, u)
    }
    val got = graft.analytics.EventQueries.queries("q169_dp_topk_select")
      .build(spark, d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == expected, "selection drift vs the driver replay")
    // three DISTINCT types released (the peel actually removes winners)
    assert(got.map(_._2).distinct.length == 3)
    // the shift normalizes each round's top candidate to exactly 2^40
    assert(got.forall(_._4 <= (1L << 40)))
    // totals stay far under the 2^60 the mod-draw contract requires
    assert(got.forall(_._5 < (1L << 50)))
  }

  test("q185 SVT replays driver-side; the scan walks past below-threshold cells") {
    import graft.analytics.DpNoise
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    val ev = e.withColumn("ts_us", graft.analytics.Tables.tsUs(e))
    val cells = ev.groupBy(col("event_type"),
        expr("(ts_us div 86400000000 + 4) % 7").as("dow"))
      .agg(count(lit(1)).as("c")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // DpNoise.noiseFor's integer arithmetic, replayed in plain JVM
    def noise(key: String): Long = {
      val u = java.lang.Long.parseLong(
        md5hex(DpNoise.OracleSecret + "|dp0|" + key).take(15), 16) %
        (3L << 40)
      if (u < (1L << 40)) 0L
      else {
        val v = u - (1L << 40)
        val t = ((1L << 40) - 1) - (v >> 1)
        val k = if (t == 0) 40L
          else 41L - (64 - java.lang.Long.numberOfLeadingZeros(t))
        if (v % 2 == 0) k else -k
      }
    }
    val total = cells.map(_._3).sum
    val releasedTotal = total + noise("svt_total")
    val tPub = releasedTotal * 12 / 350
    val rho = noise("svt_thresh")
    val scan = cells.zipWithIndex.map { case ((t, dw, c), i) =>
      (i + 1, t, dw, c, noise(s"svt|$t|$dw"))
    }
    val hit = scan.find { case (_, _, _, c, nu) => c + nu >= tPub + rho }
    assert(hit.isDefined, "fixture must halt somewhere")
    val got = graft.analytics.EventQueries.queries("q185_svt_release")
      .build(spark, d).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) ==
      (hit.get._1, hit.get._2, hit.get._3, releasedTotal, tPub),
      "SVT release drifted from the driver replay")
    // the point of SVT: the scan genuinely passed below-threshold
    // cells before halting (pos 5 at sf0.001) — not a first-cell win
    assert(hit.get._1 > 1, "scan must walk past below-threshold cells")
    // released columns only: identity, position, released total,
    // public threshold, price — never an exact count
    assert(got.head.schema.fieldNames.toSeq ==
      Seq("hit_pos", "hit_type", "hit_dow", "released_total", "t_pub",
        "eps_e6"))
  }

  test("q173 DP quantile replays driver-side; intervals bracket their targets' mass") {
    import graft.analytics.DpNoise
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    val counts = e.select(col("value")).collect().map { r =>
      val cents = math.min(math.max(math.floor(r.getDouble(0) * 100), 0),
        51199).toLong
      cents / 200
    }.groupBy(identity).map { case (b, xs) => b -> xs.length.toLong }
    val n = counts.values.sum
    val bs = counts.keys.toSeq.sorted
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def drawOf(key: String, mod: Long): Long = java.lang.Long.parseLong(
      md5hex(DpNoise.OracleSecret + "|dpq0|" + key).take(15), 16) % mod
    val expected = Seq(25, 50, 90).map { qpct =>
      val t = (n * qpct + 99) / 100
      var c = 0L
      val cums = bs.map { b => c += counts(b); b -> c }
      val dmin = cums.map { case (_, cum) => math.abs(cum - t) }.min
      val ws = cums.map { case (b, cum) =>
        (b, cum, 1L << (40 - math.min(math.abs(cum - t) - dmin, 40L)).toInt)
      }
      val tot = ws.map(_._3).sum
      val u = drawOf(s"quantile|p$qpct", tot)
      var cw = 0L
      var win: (Long, Long, Long) = null
      ws.foreach { w =>
        cw += w._3
        if (win == null && u < cw) win = w
      }
      (qpct.toLong, win._1, win._1 * 200, win._1 * 200 + 200,
        counts(win._1), win._2, t, win._3, tot, u)
    }
    val got = graft.analytics.EventQueries.queries("q173_dp_quantile")
      .build(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getLong(9)))
    assert(got.toSeq == expected, "quantile selection drift vs replay")
    // the mechanism's utility pulls: each released interval's rank
    // distance from its target is within the dataset's dmin band
    // (exactly the weight the draw maximized) — sanity, not DP proof
    got.foreach { r =>
      assert(r._9 < (1L << 50), "total weight must respect the mod-draw bound")
      assert(r._3 >= 0 && r._4 <= 51200 && r._4 - r._3 == 200)
    }
    // p25 <= p50 <= p90 in released bucket order on this fixture is
    // NOT guaranteed by DP — do not assert it; assert distinct draws
    // exist instead (domain separation by quantile key)
    assert(got.map(_._10).distinct.length == 3)
  }

  test("q156 anonymity census replays driver-side and k=1 risk fires") {
    val d = "/root/testdata/sf0.001"
    val e = graft.analytics.Tables.events(spark, d)
    val rows = e.withColumn("ts_us", graft.analytics.Tables.tsUs(e))
      .select("event_type", "ts_us", "user_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val cells = rows.groupBy { case (t, ts, _) =>
      (t, (ts / 86400000000L + 4) % 7, (ts / 3600000000L) % 24) }
    val census = cells.values.toSeq
      .map(es => (es.map(_._3).distinct.size.toLong, es.size.toLong))
      .groupBy { case (k, _) =>
        if (k == 1) "k=1" else if (k <= 4) "k=2-4"
        else if (k <= 19) "k=5-19" else "k>=20" }
      .map { case (b, xs) =>
        b -> (xs.size.toLong, xs.map(_._1).sum, xs.map(_._2).sum) }
    val got = graft.analytics.EventQueries.queries("q156_anonymity_census")
      .build(spark, d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got == census, s"census mismatch: $got vs $census")
    // the audit must BIND at this SF: singleton cells exist (the
    // re-identification finding the query exists to surface)
    assert(got.contains("k=1") && got("k=1")._1 > 0)
  }

  test("join advisor: broadcast for a dim side, salt for the hot key, shuffle_hash otherwise") {
    import spark.implicits._
    import graft.operators.JoinAdvisor
    import graft.operators.JoinAdvisor._

    // fact 20k rows over 1000 keys (20 each), dim 500 rows → the dim
    // side is far under broadcastMaxRows: broadcast it
    val fact = (1 to 20000).map(i => (i.toLong % 1000, i.toLong))
      .toDF("k", "v")
    val dim = (1 to 500).map(i => (i.toLong, s"d$i")).toDF("k2", "name")
    val a1 = JoinAdvisor.recommend(fact, "k", dim, "k2")
    assert(a1.strategy == BroadcastSide("right"))
    assert(a1.left == SideStats(20000L, 1000L, 20L))
    assert(a1.right == SideStats(500L, 500L, 1L))
    // well-conditioned AGMS estimate: exact join = 500 shared keys ×
    // 20 × 1 = 10000; ‖A‖₂‖B‖₂/√w noise is ~10% here, assert 50%
    assert(math.abs(a1.estJoinRows - 10000L) <= 5000L,
      s"AGMS estimate ${a1.estJoinRows} implausibly far from 10000")

    // the q48 scenario: one hot key holds 90% of the fact side, the
    // other side too big to broadcast → salt, N sized to bring the
    // hot key back to the even share (9000 rows / 1250-row share → 8)
    val hot = ((1 to 9000).map(_ => 1L) ++
      (1 to 1000).map(i => (i % 500 + 2).toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val big = (1 to 5000).map(i => (i.toLong % 2000, i.toLong))
      .toDF("k2", "v2")
    val a2 = JoinAdvisor.recommend(hot, "k", big, "k2",
      partitions = 8, broadcastMaxRows = 1000L)
    assert(a2.left.maxKeyRows == 9000L && a2.left.distinctKeys == 501L)
    assert(a2.strategy == Salted(8),
      s"hot key must trigger salting: ${a2.strategy}")

    // both sides big and even → plain shuffle_hash (fact maxKey 20,
    // share 2500: nowhere near the skewFactor band)
    val a3 = JoinAdvisor.recommend(fact, "k", big, "k2",
      partitions = 8, broadcastMaxRows = 100L)
    assert(a3.strategy == ShuffleHash)
  }

  test("suggestShufflePartitions: 128MB targets from the AGMS estimate, clamped") {
    import graft.operators.JoinAdvisor.suggestShufflePartitions
    // 1 B rows × 64 B = 64 GB → ceil(64e9 / 128 MiB) = 477 partitions
    assert(suggestShufflePartitions(1000000000L) == 477)
    // wide rows push the count up proportionally (×10 → 4769)
    assert(suggestShufflePartitions(1000000000L, bytesPerRow = 640L) == 4769)
    // tiny join clamps to the floor, never 0/1-task degeneracy
    assert(suggestShufflePartitions(100L) == 2)
    // a blown-up estimate clamps to the ceiling
    assert(suggestShufflePartitions(Long.MaxValue / 128) == (1 << 16))
  }

  test("SaltedJoin.auto: dispatches each branch and never changes join semantics") {
    import spark.implicits._
    import graft.operators.{JoinAdvisor, SaltedJoin}
    import graft.operators.JoinAdvisor._

    val fact = (1 to 20000).map(i => (i.toLong % 1000, i.toLong))
      .toDF("k", "v")
    val dim = (1 to 500).map(i => (i.toLong, s"d$i")).toDF("k2", "name")
    val hot = ((1 to 9000).map(_ => 1L) ++
      (1 to 1000).map(i => (i % 500 + 2).toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val big = (1 to 5000).map(i => (i.toLong % 2000, i.toLong))
      .toDF("k2", "v2")

    def plain(l: org.apache.spark.sql.DataFrame, lk: String,
              r: org.apache.spark.sql.DataFrame, rk: String) =
      l.join(r, l(lk) === r(rk))
        .select((l.columns ++ r.columns).map(col): _*)
        .collect().map(_.toSeq).toSet

    // dim side fits → broadcast; the physical plan must actually
    // carry the broadcast exchange
    val (j1, a1) = SaltedJoin.auto(fact, "k", dim, "k2")
    assert(a1.strategy == BroadcastSide("right"))
    assert(j1.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "broadcast branch must broadcast")
    assert(j1.collect().map(_.toSeq).toSet == plain(fact, "k", dim, "k2"))

    // hot key + unbroadcastable sides → salted, same rows as plain
    val (j2, a2) = SaltedJoin.auto(hot, "k", big, "k2",
      saltSrc = col("v"), partitions = 8, broadcastMaxRows = 1000L)
    assert(a2.strategy == Salted(8))
    assert(j2.collect().map(_.toSeq).toSet == plain(hot, "k", big, "k2"))
    assert(j2.columns.toSeq == Seq("k", "v", "k2", "v2"),
      "salted branch must keep left-then-right column order")

    // both sides big and even → shuffle_hash branch
    val (j3, a3) = SaltedJoin.auto(fact, "k", big, "k2",
      partitions = 8, broadcastMaxRows = 100L)
    assert(a3.strategy == ShuffleHash)
    assert(j3.queryExecution.executedPlan.toString
      .contains("ShuffledHashJoin"), "shuffle_hash hint must bind")
    assert(j3.collect().map(_.toSeq).toSet == plain(fact, "k", big, "k2"))
  }

  test("SaltedJoin.auto left/left_semi/left_anti: every branch matches the plain join") {
    import spark.implicits._
    import graft.operators.{JoinAdvisor, SaltedJoin}
    import graft.operators.JoinAdvisor._

    // shared key name "k" (pins the using-join key drop) and a shared
    // non-key column "tag" (pins the _r collision rename); hot key +
    // nulls on the probe side — the left-lookup shape the ETL's C1-C3
    // joins have
    val l = ((1 to 4000).map(_ => Some(1L)) ++
      (1 to 2000).map(i => Some((i % 800).toLong + 2)) ++
      (1 to 50).map(_ => Option.empty[Long]))
      .zipWithIndex.map { case (k, i) => (k, i.toLong, s"L$i") }
      .toDF("k", "v", "tag")
    val r = ((1 to 600).map(i => Some(i.toLong)) ++
      Seq(Option.empty[Long]))
      .zipWithIndex.map { case (k, i) => (k, i * 10L, s"R$i") }
      .toDF("k", "w", "tag")

    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val r2 = r.withColumnRenamed("k", "k2").withColumnRenamed("tag", "tag_r")
    val plainLeft = canon(l.join(r2, l("k") === r2("k2"), "left").drop("k2"))
    val plainSemi = canon(l.join(r2, l("k") === r2("k2"), "left_semi"))
    val plainAnti = canon(l.join(r2, l("k") === r2("k2"), "left_anti"))

    // threshold sweep drives all three branches (the inner property
    // test's discipline): broadcast_right / salted (hot key 4000 vs
    // 1512-row even share) / shuffle_hash
    val seen = scala.collection.mutable.Set[String]()
    for ((bmax, skew) <- Seq((1000000L, 4L), (0L, 1L), (0L, 1000000L))) {
      val (jl, al) = SaltedJoin.auto(l, "k", r, "k", saltSrc = col("v"),
        partitions = 4, broadcastMaxRows = bmax, skewFactor = skew,
        joinType = "left")
      seen += al.strategy.getClass.getSimpleName
      assert(jl.columns.toSeq == Seq("k", "v", "tag", "w", "tag_r"),
        s"collision-safe projection drift: ${jl.columns.toSeq}")
      assert(canon(jl) == plainLeft, s"left-join drift under ${al.strategy}")
      val (js, _) = SaltedJoin.auto(l, "k", r, "k", saltSrc = col("v"),
        partitions = 4, broadcastMaxRows = bmax, skewFactor = skew,
        joinType = "left_semi")
      assert(js.columns.toSeq == Seq("k", "v", "tag"))
      assert(canon(js) == plainSemi, s"semi drift under ${al.strategy}")
      val (ja, _) = SaltedJoin.auto(l, "k", r, "k", saltSrc = col("v"),
        partitions = 4, broadcastMaxRows = bmax, skewFactor = skew,
        joinType = "left_anti")
      assert(canon(ja) == plainAnti, s"anti drift under ${al.strategy}")
    }
    assert(seen == Set("BroadcastSide", "Salted", "ShuffleHash$"),
      s"threshold sweep must drive every branch: $seen")

    // the preserved side must never broadcast: tiny left + oversized
    // right re-takes the decision with the left branch masked
    val (jm, am) = SaltedJoin.auto(r, "k", l, "k",
      broadcastMaxRows = 1000L, joinType = "left")
    assert(am.strategy != BroadcastSide("left"),
      s"left (preserved) side must not broadcast in a left join: ${am.strategy}")
    val rl = l.withColumnRenamed("k", "k2").withColumnRenamed("tag", "tag_r")
    assert(canon(jm) == canon(r.join(rl, r("k") === rl("k2"), "left")
      .drop("k2")))
    // choose() with the mask: identical stats flip left→right only
    // when the right fits
    val small = SideStats(10L, 10L, 1L); val big = SideStats(5000L, 100L, 50L)
    assert(JoinAdvisor.choose(small, big, 4, 100L, 4L) == BroadcastSide("left"))
    assert(JoinAdvisor.choose(small, big, 4, 100L, 4L,
      canBroadcastLeft = false).isInstanceOf[Strategy])
    assert(JoinAdvisor.choose(small, small, 4, 100L, 4L,
      canBroadcastLeft = false) == BroadcastSide("right"))

    // dispatch() must REFUSE an unmasked left-broadcast decision for a
    // non-inner join rather than silently flipping to a right-side
    // broadcast that was never measured (the r12 advisor's catch)
    intercept[IllegalArgumentException] {
      SaltedJoin.dispatch(l, "k", r, "k", BroadcastSide("left"), "left")
    }
    intercept[IllegalArgumentException] {
      SaltedJoin.dispatch(l, "k", r, "k", BroadcastSide("left"), "left_semi")
    }
  }

  test("property: SaltedJoin.auto == plain inner join on randomized skewed/null frames") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.SaltedJoin

    // deterministic generation (the TextKernelsSpec discipline): skewed
    // keys with a hot value, a uniform band, and nulls — the three
    // things a join dispatcher must never get wrong
    val keyGen: Gen[Option[Long]] = Gen.frequency(
      5 -> Gen.const(Some(1L)),
      10 -> Gen.choose(1L, 40L).map(Some(_)),
      1 -> Gen.const(Option.empty[Long]))
    def frame(seed: Long, n: Int, kcol: String, vcol: String) = {
      val ks = (0 until n).map(i =>
        keyGen.pureApply(Gen.Parameters.default, Seed(seed + i)))
      ks.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF(kcol, vcol)
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

    val seen = scala.collection.mutable.Set[String]()
    for (c <- 0 until 5) {
      val l = frame(1000L * (c + 1), 40 + c * 150, "k", "v")
      val r = frame(7000L * (c + 1), 25 + c * 90, "k2", "w")
      val plain = canon(l.join(r, l("k") === r("k2")))
      // sweep the thresholds so every branch fires across the sweep:
      // huge broadcastMaxRows → broadcast; 0 → salted (hot key) or
      // shuffle_hash (skewFactor high enough to never trigger)
      for ((bmax, skew) <- Seq((1000000L, 4L), (0L, 1L), (0L, 1000000L))) {
        val (joined, advice) = SaltedJoin.auto(l, "k", r, "k2",
          partitions = 4, broadcastMaxRows = bmax, skewFactor = skew)
        seen += advice.strategy.getClass.getSimpleName
        assert(canon(joined) == plain,
          s"case $c ($bmax, $skew, ${advice.strategy}): dispatch changed join semantics")
      }
    }
    assert(seen.size == 3, s"sweep must exercise all three branches, got $seen")
  }

  test("q139 personalized pagerank replays driver-side: restart mass on seeds only") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-ppr-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val li = graft.analytics.Tables.lineitem(spark, d)
        .select(col("l_suppkey"), col("l_orderkey"))
      val ord = graft.analytics.Tables.orders(spark, d)
        .select(col("o_orderkey"), col("o_custkey"))
      val pairs = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey"), col("o_custkey"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val edges = pairs.flatMap { case (s, c) =>
        Seq(("s" + s, "c" + c), ("c" + c, "s" + s))
      }
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
      val scale = 1000000000000L
      val seedSet = graft.analytics.ExtendedQueries.pprSeedSuppliers
        .map("s" + _).filter(deg.contains).toSet
      val rInit = scale / 5
      val base = scale * 15 / 100 / 5
      var rank: Map[String, Long] = seedSet.map(_ -> rInit).toMap
      for (_ <- 1 to 3) {
        val contribs = edges.filter(e => rank.contains(e._1))
          .groupBy(_._2).map { case (dst, es) =>
            dst -> 85 * es.map { case (src, _) => rank(src) / deg(src) }.sum / 100
          }
        rank = (contribs.keySet ++ seedSet).map { n =>
          n -> (contribs.getOrElse(n, 0L) + (if (seedSet(n)) base else 0L))
        }.toMap
      }
      val expected = rank.toSeq.sortBy { case (n, r) => (-r, n) }.take(20)
      val got = graft.analytics.ExtendedQueries.queries("q139_ppr_related")
        .build(spark, d).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got === expected)
      // personalization must BIND: every seed outranks every non-seed
      // (the restart term dwarfs 3-hop diffusion on this graph), and
      // non-seeds carry NONZERO diffused rank
      val (seedRows, rest) = expected.partition(t => seedSet(t._1))
      assert(seedRows.size == seedSet.size && rest.nonEmpty)
      assert(seedRows.map(_._2).min > rest.map(_._2).max,
        "seed restart mass must dominate diffused mass")
      assert(rest.forall(_._2 > 0), "diffused ranks must be nonzero")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("q137 rank artifact: read path equals q136 and reuses the build") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-rank-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def run(q: String) = graft.analytics.ExtendedQueries.queries(q)
        .build(spark, d).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      val direct = run("q136_pagerank")
      val fromIdx = run("q137_pagerank_from_index")
      assert(fromIdx === direct,
        "artifact read path must reproduce the direct build bit-for-bit")
      val dir = graft.text.Artifacts.dirMulti(d, "pagerank_i3_v1",
        Seq("lineitem.parquet", "orders.parquet"))
      assert(java.nio.file.Files.isDirectory(dir),
        "the rank artifact must be materialized under the multi-table key")
      // second read must come from the artifact: perturb nothing and
      // confirm identical rows (materialize() is a no-op on existing
      // dirs — a rebuild-every-time bug would still pass equality, so
      // also pin the build count via the directory's mtime)
      val mtime = java.nio.file.Files.getLastModifiedTime(dir)
      assert(run("q137_pagerank_from_index") === direct)
      assert(java.nio.file.Files.getLastModifiedTime(dir) == mtime,
        "the second read must not rebuild the artifact")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("q208 edge fold: 3-batch fold + weighted serve == one-shot q136 (r18)") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-edgefold-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      def run(q: String) = graft.analytics.ExtendedQueries.queries(q)
        .build(spark, d).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(run("q208_pagerank_fold") === run("q136_pagerank"),
        "the maintained-edge serve must equal the one-shot build " +
          "bit-for-bit (fold ≡ rebuild)")
      // the SAME maintained store serves the personalized report too
      assert(run("q209_ppr_fold") === run("q139_ppr_related"),
        "the maintained-edge PPR serve must equal the one-shot q139")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("EdgeFold: sliver batch folds incrementally — touched-bucket " +
      "publication, replay idempotent, two-batch == one-batch (r18)") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val li = graft.analytics.Tables.lineitem(spark, d)
    val ord = graft.analytics.Tables.orders(spark, d)
    import graft.analytics.{EdgeFold, ExtendedQueries}
    def edgesOf(liSlice: org.apache.spark.sql.DataFrame) =
      ExtendedQueries.fulfillmentEdgesFrom(liSlice, ord)
    val isSliver = col("l_orderkey") % 97 === 0
    val tmp = java.nio.file.Files.createTempDirectory("graft-edgefold")
    val twoStep = tmp.resolve("two").toString
    val oneShot = tmp.resolve("one").toString
    val buckets = 64
    try {
      val base = EdgeFold.fold(edgesOf(li.filter(!isSliver)), 1L,
        twoStep, buckets)
      val sliver = EdgeFold.fold(edgesOf(li.filter(isSliver)), 2L,
        twoStep, buckets)
      // the sliver's publication is partition-incremental: far fewer
      // buckets than the store has (the r17 touched-bucket contract)
      assert(sliver.touched < buckets / 2,
        s"sliver fold rewrote ${sliver.touched}/$buckets buckets — " +
          "not incremental")
      assert(base.touched > buckets / 2,
        s"corpus-scale base fold should span most buckets: ${base.touched}")
      EdgeFold.fold(edgesOf(li), 1L, oneShot, buckets)
      def weights(dir: String) = EdgeFold.edges(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val two = weights(twoStep)
      assert(two === weights(oneShot),
        "two-batch fold must equal the one-batch fold (associativity)")
      // at-least-once replay of the last id rebuilds identically
      EdgeFold.fold(edgesOf(li.filter(isSliver)), 2L, twoStep, buckets)
      assert(weights(twoStep) === two,
        "a replayed batch must leave the maintained edges identical")
    } finally graft.etl.Commit.deleteRecursively(tmp)
  }

  test("RankHistory delta-serve: sliver-neighborhood recompute equals " +
      "the full maintained serve; coverage and node-set guards fire (r19)") {
    import org.apache.spark.sql.functions.col
    val d = "/root/testdata/sf0.001"
    val li = graft.analytics.Tables.lineitem(spark, d)
    val ord = graft.analytics.Tables.orders(spark, d)
    import graft.analytics.{EdgeFold, ExtendedQueries, RankHistory}
    def edgesOf(s: org.apache.spark.sql.DataFrame) =
      ExtendedQueries.fulfillmentEdgesFrom(s, ord)
    val isSliver = col("l_orderkey") % 97 === 0
    val tmp = java.nio.file.Files.createTempDirectory("graft-deltaserve")
    val store = tmp.resolve("state").toString
    val hist = tmp.resolve("history").toString
    try {
      EdgeFold.fold(edgesOf(li.filter(!isSliver)), 1L, store, 64)
      RankHistory.publish(spark, store, hist)
      val sliver = edgesOf(li.filter(isSliver)).persist()
      val changed = sliver.select(col("src")).distinct()
      assert(changed.count() > 0, "fixture sliver must be non-trivial")
      EdgeFold.fold(sliver, 2L, store, 64)
      sliver.unpersist(false)
      // the delta path must be exercised AND exact: compare the FULL
      // rank table (not just a top-k) against the full maintained serve
      val full = ExtendedQueries.withMaintainedPagerankRanks(
        spark, store)(_.collect().map(_.toSeq).toSet)
      val delta = RankHistory.withDeltaServedRanks(spark, store, hist,
        changed)(_.collect().map(_.toSeq).toSet)
      assert(delta === full,
        "delta serve must be integer-identical to the full serve on " +
          "EVERY node, not only the top-20")
      // coverage guard: a fold the caller forgot cannot pass silently
      val err = intercept[IllegalArgumentException] {
        RankHistory.withDeltaServedRanks(spark, store, hist,
          changed.limit(0))(_.count())
      }
      assert(err.getMessage.contains("coverage gap"),
        s"missing changed sources must abort loudly: ${err.getMessage}")
      // node-set guard: a brand-new node shifts rInit = scale/|V| and
      // with it every rank — the history must refuse to overlay
      import spark.implicits._
      val alien = Seq((999999998L, 1L), (1L, 999999998L))
        .toDF("src", "dst")
      EdgeFold.fold(alien, 3L, store, 64)
      val err2 = intercept[IllegalArgumentException] {
        RankHistory.withDeltaServedRanks(spark, store, hist,
          changed.unionByName(alien.select(col("src"))).distinct())(
          _.count())
      }
      assert(err2.getMessage.contains("node set changed"),
        s"a new node must force a history republish: ${err2.getMessage}")
    } finally graft.etl.Commit.deleteRecursively(tmp)
  }

  test("RankHistory delta-serve: sparse graph takes the DELTA path " +
      "(neighborhood-proportional), dense saturation falls back (r19)") {
    import org.apache.spark.sql.functions.col
    import graft.analytics.{EdgeFold, ExtendedQueries, RankHistory}
    import spark.implicits._
    // a 2N-node ring of both-direction edges: the ≤3-hop neighborhood
    // of one changed node is ~7 nodes — the regime the delta path is
    // FOR (the TPC-H bipartite fixture saturates by hop ≤3 and must
    // take the fallback; both paths are integer-identical)
    val n = 400
    val ring = (0 until n).flatMap { i =>
      val j = (i + 1) % n
      Seq((i.toLong, j.toLong), (j.toLong, i.toLong))
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-sparse-delta")
    val store = tmp.resolve("state").toString
    val hist = tmp.resolve("history").toString
    try {
      EdgeFold.fold(ring.toDF("src", "dst"), 1L, store, 32)
      RankHistory.publish(spark, store, hist)
      // sliver: one extra parallel edge on the (0,1) pair
      val sliver = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
      EdgeFold.fold(sliver, 2L, store, 32)
      val changed = sliver.select(col("src")).distinct()
      val delta = RankHistory.withDeltaServedRanks(spark, store, hist,
        changed)(_.collect().map(_.toSeq).toSet)
      assert(RankHistory.lastServeMode === "delta",
        "a 2-node sliver on a ring must stay under the saturation bar")
      val full = ExtendedQueries.withMaintainedPagerankRanks(
        spark, store)(_.collect().map(_.toSeq).toSet)
      assert(delta === full,
        "sparse delta path must be integer-identical to the full serve")
      // force saturation on the SAME fixture: threshold 0 ⇒ fallback,
      // result unchanged
      val fb = RankHistory.withDeltaServedRanks(spark, store, hist,
        changed, saturationFrac = 0.0)(_.collect().map(_.toSeq).toSet)
      assert(RankHistory.lastServeMode === "full")
      assert(fb === full, "the fallback path must serve the same ranks")
    } finally graft.etl.Commit.deleteRecursively(tmp)
  }

  test("EdgeFold refuses a pre-degree (src, dst, w) store loudly; " +
      "migrateDegrees rebuilds d for every bucket (r20)") {
    import org.apache.spark.sql.functions.{col, lit, sum}
    import graft.analytics.EdgeFold
    import graft.streaming.BucketedStateStore
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-predegree")
    val dir = tmp.resolve("state").toString
    try {
      // a store exactly as the r18 fold format wrote it: (src, dst, w),
      // no degree column, plain (non-bucketed-files) publication
      def weighted(b: org.apache.spark.sql.DataFrame) =
        b.select(col("src"), col("dst"), lit(1L).as("w"))
          .repartition(col("src"))
          .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      val base = Seq((0L, 1L), (0L, 1L), (0L, 2L), (1L, 0L), (2L, 0L))
        .toDF("src", "dst")
      BucketedStateStore.foldBatch(base, 1L, dir, Seq("src"), 8,
        init = b => weighted(b),
        fold = (sl, b) => weighted(
          sl.selectExpr("src", "dst").unionByName(b)))
      // folding the new degreed shape on top must refuse BEFORE any
      // write: untouched buckets would keep 3-column parquet, readers
      // null-fill d, and rank contributions silently vanish
      val err = intercept[IllegalArgumentException] {
        EdgeFold.fold(Seq((0L, 2L), (2L, 0L)).toDF("src", "dst"),
          2L, dir, buckets = 8)
      }
      assert(err.getMessage.contains("migrateDegrees"),
        s"pre-degree store must point at the migration: ${err.getMessage}")
      assert(BucketedStateStore.latestVersion(
        java.nio.file.Paths.get(dir)).contains(2L),
        "the refused fold must not have published anything")
      // the migration recomputes d for EVERY bucket and flips the store
      // to bucketed-files; the previously refused fold then layers on
      EdgeFold.migrateDegrees(spark, dir)
      EdgeFold.fold(Seq((0L, 2L), (2L, 0L)).toDF("src", "dst"),
        2L, dir, buckets = 8)
      val got = EdgeFold.degreedEdgesBucketed(spark, dir)
        .collect().map(_.toSeq).toSet
      // one-shot reference over the union of both batches
      val oneShot = tmp.resolve("oneshot").toString
      EdgeFold.fold(base.unionByName(
        Seq((0L, 2L), (2L, 0L)).toDF("src", "dst")), 1L, oneShot, 8)
      val want = EdgeFold.degreedEdgesBucketed(spark, oneShot)
        .collect().map(_.toSeq).toSet
      assert(got === want,
        "migrate + fold must equal the one-shot degreed fold")
      // idempotent: a store that already carries d is left untouched
      val before = BucketedStateStore.latestVersion(
        java.nio.file.Paths.get(dir)).get
      assert(EdgeFold.migrateDegrees(spark, dir) === before,
        "migrating a degreed store must be a no-op")
    } finally graft.etl.Commit.deleteRecursively(tmp)
  }

  test("RankHistory delta-serve aborts loudly on an asymmetric-weight " +
      "graph instead of serving wrong ranks (r20)") {
    import org.apache.spark.sql.functions.col
    import graft.analytics.{EdgeFold, RankHistory}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-asym")
    val store = tmp.resolve("state").toString
    val hist = tmp.resolve("history").toString
    try {
      // a ring with ONE direction missing its twin: node 0 → 1 exists,
      // 1 → 0 does not — the in-edge-reversal contract is violated
      val n = 64
      val ring = (0 until n).flatMap { i =>
        val j = (i + 1) % n
        if (i == 0) Seq((i.toLong, j.toLong), (j.toLong, 2L), (2L, j.toLong))
        else Seq((i.toLong, j.toLong), (j.toLong, i.toLong))
      }
      EdgeFold.fold(ring.toDF("src", "dst"), 1L, store, 16)
      RankHistory.publish(spark, store, hist)
      val sliver = Seq((5L, 6L), (6L, 5L)).toDF("src", "dst")
      EdgeFold.fold(sliver, 2L, store, 16)
      // the changed sources' own out-edges are symmetric, so extend the
      // changed set to touch the asymmetric node (coverage guard aside,
      // the caller declares what changed)
      val changed = Seq(5L, 6L, 0L).toDF("src")
      val err = intercept[IllegalArgumentException] {
        RankHistory.withDeltaServedRanks(spark, store, hist, changed)(
          _.count())
      }
      assert(err.getMessage.contains("weight-symmetric"),
        s"asymmetric graph must abort the delta serve: ${err.getMessage}")
    } finally graft.etl.Commit.deleteRecursively(tmp)
  }

  test("RankHistory.publish is versioned: a republish keeps a readable " +
      "history at every instant; the legacy flat layout still serves (r20)") {
    import org.apache.spark.sql.functions.col
    import graft.analytics.{EdgeFold, ExtendedQueries, RankHistory}
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-histver")
    val store = tmp.resolve("state").toString
    val hist = tmp.resolve("history")
    try {
      val n = 200
      val ring = (0 until n).flatMap { i =>
        val j = (i + 1) % n
        Seq((i.toLong, j.toLong), (j.toLong, i.toLong))
      }
      EdgeFold.fold(ring.toDF("src", "dst"), 1L, store, 16)
      RankHistory.publish(spark, store, hist.toString)
      assert(java.nio.file.Files.isDirectory(hist.resolve("v1")),
        "first publish must claim v1")
      EdgeFold.fold(Seq((0L, 1L), (1L, 0L)).toDF("src", "dst"),
        2L, store, 16)
      RankHistory.publish(spark, store, hist.toString)
      // both versions present — the republish never deleted the live one
      assert(java.nio.file.Files.isDirectory(hist.resolve("v1")) &&
        java.nio.file.Files.isDirectory(hist.resolve("v2")),
        "republish must retain the predecessor for in-flight readers")
      EdgeFold.fold(Seq((4L, 5L), (5L, 4L)).toDF("src", "dst"),
        3L, store, 16)
      val changed = Seq(4L, 5L).toDF("src")
      val delta = RankHistory.withDeltaServedRanks(spark, store,
        hist.toString, changed)(_.collect().map(_.toSeq).toSet)
      assert(RankHistory.lastServeMode === "delta")
      val full = ExtendedQueries.withMaintainedPagerankRanks(
        spark, store)(_.collect().map(_.toSeq).toSet)
      assert(delta === full, "versioned history must serve exactly")
      // a third publish prunes v1 (keep = claimed + one predecessor)
      RankHistory.publish(spark, store, hist.toString)
      assert(!java.nio.file.Files.isDirectory(hist.resolve("v1")) &&
        java.nio.file.Files.isDirectory(hist.resolve("v2")) &&
        java.nio.file.Files.isDirectory(hist.resolve("v3")),
        "older history versions must be pruned")
      // legacy FLAT layout (the pre-versioned publish wrote the payload
      // directly under historyDir) still serves: flatten v3 in place
      val flat = tmp.resolve("flat-history")
      java.nio.file.Files.move(hist.resolve("v3"), flat)
      graft.etl.Commit.deleteRecursively(hist)
      val legacy = RankHistory.withDeltaServedRanks(spark, store,
        flat.toString, spark.range(0).selectExpr("id as src"))(
        _.collect().map(_.toSeq).toSet)
      assert(legacy === full, "the flat pre-versioned layout must serve")
    } finally graft.etl.Commit.deleteRecursively(tmp)
  }

  test("salted join: identical result to the plain join, spread over salts") {
    val fact = spark.range(1000).select(
      col("id").as("event_id"), (col("id") % 3).as("key"))
    val dim = Seq((0L, "x"), (1L, "y"), (2L, "z")).toDF("dkey", "name")
    val salted = SaltedJoin.inner(fact, "key", dim, "dkey",
      xxhash64(col("event_id")), numSalts = 4)
    val plain = fact.join(dim, col("key") === col("dkey"))
    assert(salted.count() === plain.count())
    val a = salted.groupBy("name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = plain.groupBy("name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("CascadedRollup == built-in rollup, incl. data-null dims (r13)") {
    import graft.operators.CascadedRollup
    import graft.operators.CascadedRollup._
    // data nulls in BOTH dims: the case where rollup-null is ambiguous
    // and `lvl` (GROUPING_ID's job) is load-bearing
    val df = Seq(
      ("a", "x", 1L, 10.0), ("a", "y", 2L, 20.0), ("a", null, 3L, 5.0),
      ("b", "x", 4L, 1.0), (null, "y", 5L, 2.0), (null, null, 6L, 3.0)
    ).toDF("d1", "d2", "v", "w")
    val got = CascadedRollup.rollup(df, Seq("d1", "d2"),
      Seq(sum_("v", "sv"), count_("n"), max_("w", "mw"), min_("w", "nw")))
    val exp = df.rollup(col("d1"), col("d2"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"),
        max(col("w")).as("mw"), min(col("w")).as("nw"),
      // spark grouping_id: bit per dim, 1 = rolled up
        (lit(2) - grouping_id()).as("lvl_raw"))
      .withColumn("lvl",
        when(col("lvl_raw") === -1, 0) // grand total: grouping_id=3
          .otherwise(col("lvl_raw")).cast("int"))
      .drop("lvl_raw")
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.getAs[String]("d1")), Option(r.getAs[String]("d2")),
        r.getAs[Int]("lvl"))
    val g = got.collect().map(r => key(r) ->
      (r.getAs[Long]("sv"), r.getAs[Long]("n"),
        r.getAs[Double]("mw"), r.getAs[Double]("nw"))).toMap
    val e = exp.collect().map(r => key(r) ->
      (r.getAs[Long]("sv"), r.getAs[Long]("n"),
        r.getAs[Double]("mw"), r.getAs[Double]("nw"))).toMap
    assert(g === e, s"cascade drifted from built-in rollup:\n$g\nvs\n$e")
    // the ambiguity lvl resolves: ("a", null) appears BOTH as a data
    // row (lvl=2) and as a rollup subtotal (lvl=1), with different sums
    assert(g(( Some("a"), None, 2))._1 === 3L)
    assert(g((Some("a"), None, 1))._1 === 6L)
  }

  test("CascadedRollup.cube == built-in cube, incl. data-null dims + gid bits (r14)") {
    import graft.operators.CascadedRollup
    import graft.operators.CascadedRollup._
    val df = Seq(
      ("a", "x", 1L, 10.0), ("a", "y", 2L, 20.0), ("a", null, 3L, 5.0),
      ("b", "x", 4L, 1.0), (null, "y", 5L, 2.0), (null, null, 6L, 3.0)
    ).toDF("d1", "d2", "v", "w")
    val got = CascadedRollup.cube(df, Seq("d1", "d2"),
      Seq(sum_("v", "sv"), count_("n"), max_("w", "mw"), min_("w", "nw")))
    // built-in cube: grouping_id() IS the gid convention (bit per dim,
    // 1 = aggregated away, first dim most significant)
    val exp = df.cube(col("d1"), col("d2"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"),
        max(col("w")).as("mw"), min(col("w")).as("nw"),
        grouping_id().cast("int").as("gid"))
    def key(r: org.apache.spark.sql.Row) =
      (Option(r.getAs[String]("d1")), Option(r.getAs[String]("d2")),
        r.getAs[Int]("gid"))
    def m(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      key(r) -> (r.getAs[Long]("sv"), r.getAs[Long]("n"),
        r.getAs[Double]("mw"), r.getAs[Double]("nw"))).toMap
    val g = m(got); val e = m(exp)
    assert(g === e, s"cube cascade drifted from built-in cube:\n$g\nvs\n$e")
    // the grouping rollup can't express: d2 kept while d1 aggregated
    // (gid bit for d1 = the HIGH bit → gid 2)
    assert(g((None, Some("x"), 2))._1 === 5L) // ("a","x") + ("b","x")
    // data-null vs cube-null disambiguated by gid: (null d1, "y") data
    // row at gid 0 differs from the d1-aggregated "y" subtotal at gid 2
    assert(g((None, Some("y"), 0))._1 === 5L)
    assert(g((None, Some("y"), 2))._1 === 7L)
  }

  test("CascadedRollup cube/rollup on EMPTY input: grand total counts 0 (r15)") {
    import graft.operators.CascadedRollup
    import graft.operators.CascadedRollup._
    val empty = Seq.empty[(String, String, Long)].toDF("d1", "d2", "v")
    val aggs = Seq(sum_("v", "sv"), count_("n"))
    // SQL GROUP BY CUBE/ROLLUP on empty input: only the () grouping
    // set survives — one row, count 0, sum NULL (count-of-nothing is
    // 0, sum-of-nothing is NULL). The cascade's global fold must
    // match, not emit a NULL count.
    Seq(CascadedRollup.cube(empty, Seq("d1", "d2"), aggs),
        CascadedRollup.rollup(empty, Seq("d1", "d2"), aggs)).foreach { out =>
      val rows = out.collect()
      assert(rows.length === 1, s"expected only the grand total: ${rows.toSeq}")
      val r = rows.head
      assert(r.isNullAt(r.fieldIndex("d1")) && r.isNullAt(r.fieldIndex("d2")))
      assert(r.getAs[Long]("n") === 0L, "count-of-nothing must be 0")
      assert(r.isNullAt(r.fieldIndex("sv")), "sum-of-nothing must stay NULL")
    }
  }

  test("Scd2: change compression, half-open chaining, one current row per key (r14)") {
    import graft.etl.Scd2
    // key k1: v A(1) A(2: re-stated, compressed) B(3) B(4) A(5) —
    // versions A[1,3) B[3,5) A[5,∞); k2: null attr handling + single
    // version; ties broken by the seq tail
    val changes = Seq(
      ("k1", 1L, 10L, "A"), ("k1", 2L, 20L, "A"), ("k1", 3L, 30L, "B"),
      ("k1", 4L, 40L, "B"), ("k1", 5L, 50L, "A"),
      ("k2", 1L, 11L, null), ("k2", 2L, 21L, null)
    ).toDF("k", "eff", "tie", "attr")
    val out = Scd2.build(changes, Seq("k"), Seq("eff", "tie"), Seq("attr"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), Option(r.get(4)).map(_.asInstanceOf[Long]),
        r.getInt(5))).toSet
    assert(out === Set(
      ("k1", 1L, 10L, Some("A"), Some(3L), 0),
      ("k1", 3L, 30L, Some("B"), Some(5L), 0),
      ("k1", 5L, 50L, Some("A"), None, 1),
      // null == null under <=>: the second null change compresses
      ("k2", 1L, 11L, None, None, 1)))
    // compress = false: every change is a version
    assert(Scd2.build(changes, Seq("k"), Seq("eff", "tie"), Seq("attr"),
      compress = false).count() === 7L)
  }

  test("Scd2.fold: append-only fold == full rebuild; backfill throws (r15)") {
    import graft.etl.Scd2
    val k = Seq("k"); val sq = Seq("eff", "tie"); val at = Seq("attr")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), Option(r.get(4)).map(_.asInstanceOf[Long]),
        r.getInt(5))).toSet
    val early = Seq( // k1 ends current=B; k2 single null version
      ("k1", 1L, 10L, "A"), ("k1", 2L, 20L, "A"), ("k1", 3L, 30L, "B"),
      ("k2", 1L, 11L, null)).toDF("k", "eff", "tie", "attr")
    val late = Seq( // k1: re-stated B (compresses across the splice) then A;
      ("k1", 4L, 40L, "B"), ("k1", 5L, 50L, "A"),
      ("k3", 1L, 12L, "X")).toDF("k", "eff", "tie", "attr") // new key
    val folded = Scd2.fold(Scd2.build(early, k, sq, at), late, k, sq, at)
    assert(canon(folded) === canon(
      Scd2.build(early.unionByName(late), k, sq, at)))
    // k2 untouched by the batch: its row must ride through unchanged
    assert(canon(folded).contains(("k2", 1L, 11L, None, None, 1)))
    // empty batch is identity
    assert(canon(Scd2.fold(Scd2.build(early, k, sq, at),
      late.limit(0), k, sq, at)) === canon(Scd2.build(early, k, sq, at)))
    // a change at-or-before the stored current seq = backfill → loud
    val bad = Seq(("k1", 2L, 25L, "C")).toDF("k", "eff", "tie", "attr")
    val ex = intercept[Exception] {
      Scd2.fold(Scd2.build(early, k, sq, at), bad, k, sq, at).collect()
    }
    assert(ex.getMessage.contains("append-only") ||
      Option(ex.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("Scd2.asOf: bucketed probe == broadcast probe, edge cases (r16)") {
    import graft.etl.Scd2
    import org.apache.spark.sql.functions.{col => c}
    // dim: k1 has A[10,30) B[30,∞ open); k2 single closed [5,9) (a GAP
    // after 9 — probes in the gap must yield null, not the stale
    // version); k4 exists only in facts
    val dim = Seq(
      ("k1", 10L, Some(30L), "A"), ("k1", 30L, None, "B"),
      ("k2", 5L, Some(9L), "C")
    ).toDF("dk", "vf", "vt", "attr")
      .select(c("dk"), c("vf"), c("vt").cast("long").as("vt"), c("attr"))
    val facts = Seq(
      ("k1", 9L, 1), // before first version → null
      ("k1", 10L, 2), // inclusive start → A
      ("k1", 29L, 3), // last instant of closed → A
      ("k1", 30L, 4), // open start → B
      ("k1", 999L, 5), // deep in the open version → B
      ("k2", 9L, 6), // exclusive end → null (gap)
      ("k2", 7L, 7), // inside closed → C
      ("k4", 50L, 8) // key absent from dim → null
    ).toDF("fk", "t", "id")
    def got(strategy: Scd2.AsOfStrategy) =
      Scd2.asOf(facts, "fk", "t", dim, "dk", "vf", "vt",
          payload = Seq("attr"), strategy = strategy)
        .collect().map(r => (r.getInt(r.fieldIndex("id")),
          Option(r.getString(r.fieldIndex("attr"))))).toSet
    val expected = Set(1 -> None, 2 -> Some("A"), 3 -> Some("A"),
      4 -> Some("B"), 5 -> Some("B"), 6 -> None, 7 -> Some("C"),
      8 -> None)
    assert(got(Scd2.BroadcastProbe) === expected)
    // bucket width 7 splits the probed range into many buckets; width
    // 1000 puts everything in one — both must still be row-identical
    assert(got(Scd2.BucketedProbe(7L)) === expected)
    assert(got(Scd2.BucketedProbe(1000L)) === expected)
  }

  test("Checkpoints.cut: reliable mode == local mode; dir honored (r16)") {
    val sf = "/root/testdata/sf0.001"
    def run() = SparkEntry.queries("q190_entity_clusters")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val local = run()
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    def filesUnder(): Long = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try st.count() finally st.close()
    }
    spark.conf.set(graft.Checkpoints.ConfKey, dir)
    try {
      assert(run() === local,
        "reliable checkpoint must not change the query result")
      // the escape hatch actually engaged: blocks landed under the dir
      assert(filesUnder() > 1, "no reliable checkpoint was written")
    } finally spark.conf.unset(graft.Checkpoints.ConfKey)
    // unsetting the conf REVERTS to local mode even though the
    // SparkContext checkpoint dir can never be unset — a later cut
    // must not keep writing into the leftover directory
    val after = filesUnder()
    assert(run() === local)
    assert(filesUnder() === after,
      "conf-unset must restore local mode (no new reliable blocks)")
  }

  test("Attribution: half-open window, ties, unattributed — hand oracle (r15)") {
    import graft.analytics.Attribution
    val touches = Seq(
      (1L, 1L, "view", 101L), (1L, 5L, "click", 102L), (1L, 11L, "view", 103L),
      (2L, 10L, "view", 201L), (2L, 20L, "click", 202L),
      // same-ts ties: tie order makes view the FIRST, click the LAST
      (3L, 7L, "view", 301L), (3L, 7L, "click", 302L)
    ).toDF("user", "ts", "channel", "tie")
    val convs = Seq((1L, 11L), (2L, 20L), (3L, 8L), (4L, 5L))
      .toDF("user", "ts")
    val chs = Seq("view", "click")
    val per = Attribution.perConversion(touches, convs, chs, lit(10L))
    val rows = per.collect().map(r => r.getLong(r.fieldIndex("user")) -> (
      r.getLong(r.fieldIndex("n_touches")),
      Option(r.getString(r.fieldIndex("first_ch"))),
      Option(r.getString(r.fieldIndex("last_ch"))),
      Option(r.get(r.fieldIndex("lin_view_e6"))).map(_.asInstanceOf[Long]),
      Option(r.get(r.fieldIndex("lin_click_e6"))).map(_.asInstanceOf[Long])
    )).toMap
    // u1 window (1, 11]: view@1 sits exactly on the boundary — OUT;
    // click@5 + view@11 (inclusive at conv ts) split linear credit
    assert(rows(1L) === ((2L, Some("click"), Some("view"),
      Some(500000L), Some(500000L))))
    // u2 window (10, 20]: view@10 out, click@20 in
    assert(rows(2L) === ((1L, Some("click"), Some("click"),
      Some(0L), Some(1000000L))))
    // u3: both ties in-window; tie column orders view first, click last
    assert(rows(3L) === ((2L, Some("view"), Some("click"),
      Some(500000L), Some(500000L))))
    // u4: no touch in window — null credits, zero count
    assert(rows(4L) === ((0L, None, None, None, None)))
    val by = Attribution.byChannel(per, chs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(by("view") === ((1L, 1L, 1000000L)))
    assert(by("click") === ((2L, 2L, 2000000L)))
  }

  test("Attribution.positionByChannel: U-shape endpoints + middle split (r16)") {
    import graft.analytics.Attribution
    val touches = Seq(
      (1L, 5L, "click", 101L),                       // n=1 → 10^6
      (2L, 4L, "view", 201L), (2L, 6L, "click", 202L), // n=2 → 5e5 each
      // n=4: view endpoints (8e5), two click middles (2 × 200000 div 2)
      (5L, 1L, "view", 501L), (5L, 2L, "click", 502L),
      (5L, 3L, "click", 503L), (5L, 4L, "view", 504L),
      // n=5: view first, click last, three middles (view, view, click)
      // → 200000 div 3 = 66666 each; view 4e5+133332, click 4e5+66666
      (6L, 1L, "view", 601L), (6L, 2L, "view", 602L),
      (6L, 3L, "view", 603L), (6L, 4L, "click", 604L),
      (6L, 5L, "click", 605L)
    ).toDF("user", "ts", "channel", "tie")
    val convs = Seq((1L, 5L), (2L, 6L), (5L, 4L), (6L, 5L), (9L, 9L))
      .toDF("user", "ts")
    val chs = Seq("view", "click")
    val per = Attribution.perConversion(touches, convs, chs, lit(10L),
      keepCounts = true)
    val pos = Attribution.positionByChannel(per, chs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(pos("click") ===
      (1000000L + 500000L + 200000L + 400000L + 66666L))
    assert(pos("view") === (500000L + 800000L + 400000L + 133332L))
  }

  test("decay weight clamps past shift 16 — no mod-64 wrap (r17)") {
    import graft.analytics.Attribution
    val day = 86400000000L
    // user 1: a touch 70 days before its conversion — inside a 90-day
    // lookback, so the pair IS enumerated, but 65536 >> 70 must be 0:
    // Spark's shiftright masks the shift mod 64, which without the
    // clamp wraps age 70 to shift 6 = weight 1024 (DuckDB: 0).
    // user 2: age 10 days — weight 65536 >> 10 = 64, the sanity twin.
    val touches = Seq(
      (1L, 0L, "click", 1L),
      (2L, 0L, "click", 2L)
    ).toDF("user", "ts", "channel", "tie")
    val conversions = Seq(
      (1L, 70L * day), (2L, 10L * day)
    ).toDF("user", "ts")
    val (h0, t0) = Attribution.decayInitState(touches)
    val (_, totals) = Attribution.decayFold(h0, t0, touches,
      conversions, lookbackUs = 90L * day)
    val served = Attribution.decayServe(totals, Seq("click", "view"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(served("click") === (64L, 2L),
      s"aged-out pair must weigh 0 (wrap would add 1024): $served")
    assert(served("view") === (0L, 0L))
  }

  test("decay fold: a touch behind an already-folded conversion aborts " +
      "loudly — the conversion frontier is enforced, not documented (r18)") {
    import graft.analytics.Attribution
    val day = 86400000000L
    val chs = Seq("click", "view")
    // batch 1: touch @ day 1, conversion @ day 5 — the conversion's
    // window weights are folded into the totals NOW
    val t1 = Seq((1L, 1L * day, "click", 1L))
      .toDF("user", "ts", "channel", "tie")
    val c1 = Seq((1L, 5L * day)).toDF("user", "ts")
    val (h0, tt0) = Attribution.decayInitState(t1)
    val (h1, tot1) = Attribution.decayFold(h0, tt0, t1, c1,
      lookbackUs = 7L * day)
    // sanity: the folded conversion credited its one in-window touch
    assert(Attribution.decayServe(tot1, chs).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap.apply("click") === 1L)

    // batch 2: a touch @ day 3 — AFTER the stored touch frontier
    // (day 1), so the r17 guard passed it silently, but INSIDE the
    // already-folded conversion's (day −2, day 5] window: its pair is
    // permanently missed (fold ≠ rebuild). The conversion-frontier
    // marker must reject it.
    val lateTouch = Seq((1L, 3L * day, "view", 2L))
      .toDF("user", "ts", "channel", "tie")
    val noConvs = c1.limit(0)
    // force the HORIZON output (the stream twin always publishes it):
    // a conversion-less batch's totals path never evaluates the
    // guarded touches (empty-side join pruning), but the touch cannot
    // enter the stored horizon either — that is where the guard bites
    val err = intercept[Exception] {
      Attribution.decayFold(h1, tot1, lateTouch, noConvs,
        lookbackUs = 7L * day)._1.collect()
    }
    def msgHas(e: Throwable, s: String): Boolean =
      Option(e.getMessage).exists(_.contains(s)) ||
        Option(e.getCause).exists(c =>
          Option(c.getMessage).exists(_.contains(s)))
    assert(msgHas(err, "append-only"),
      s"touch behind the conversion frontier must abort: ${err.getMessage}")

    // a touch strictly AFTER the conversion frontier folds fine, and
    // fold ≡ rebuild holds across the batches
    val okTouch = Seq((1L, 6L * day, "view", 3L))
      .toDF("user", "ts", "channel", "tie")
    val c2 = Seq((1L, 6L * day + 1)).toDF("user", "ts")
    val (_, tot2) = Attribution.decayFold(h1, tot1, okTouch, c2,
      lookbackUs = 7L * day)
    val folded = Attribution.decayServe(tot2, chs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (oh, ot) = Attribution.decayInitState(t1)
    val (_, oneTot) = Attribution.decayFold(oh, ot,
      t1.unionByName(okTouch), c1.unionByName(c2),
      lookbackUs = 7L * day)
    val oneShot = Attribution.decayServe(oneTot, chs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(folded === oneShot,
      "fold with marker rows must still equal the one-shot rebuild")
  }

  test("attribution fold: a touch behind an already-credited conversion " +
      "aborts loudly; marker rows keep fold ≡ rebuild (r18)") {
    import graft.analytics.Attribution
    val day = 86400000000L
    val chs = Seq("click", "view")
    val t1 = Seq((1L, 1L * day, "click", 1L))
      .toDF("user", "ts", "channel", "tie")
    val c1 = Seq((1L, 5L * day, 100L)).toDF("user", "ts", "cid")
    val s0 = Attribution.initState(t1, chs)
    val (cr1, s1) = Attribution.fold(s0, t1, c1, chs, lit(7L * day))
    assert(cr1.count() === 1L)

    // a touch after the touch frontier (day 1) but inside the credited
    // conversion's (day −2, day 5] window must abort — its absence
    // from cr1 is already-served wrong output
    val lateTouch = Seq((1L, 3L * day, "view", 2L))
      .toDF("user", "ts", "channel", "tie")
    def msgHas(e: Throwable, s: String): Boolean =
      Option(e.getMessage).exists(_.contains(s)) ||
        Option(e.getCause).exists(c =>
          Option(c.getMessage).exists(_.contains(s)))
    val err = intercept[Exception] {
      Attribution.fold(s1, lateTouch, c1.limit(0), chs,
        lit(7L * day))._2.collect()
    }
    assert(msgHas(err, "append-only"),
      s"late touch must abort: ${err.getMessage}")

    // a compliant later batch folds, and its credits equal the
    // full-history replay (marker rows never reach the timeline)
    val t2 = Seq((1L, 6L * day, "view", 3L))
      .toDF("user", "ts", "channel", "tie")
    val c2 = Seq((1L, 6L * day + 1, 200L)).toDF("user", "ts", "cid")
    val (cr2, _) = Attribution.fold(s1, t2, c2, chs, lit(7L * day))
    val folded = (cr1.collect() ++ cr2.collect()).map(_.toSeq).toSet
    val replay = Attribution.perConversion(t1.unionByName(t2),
        c1.unionByName(c2), chs, lit(7L * day), keepCounts = true)
      .collect().map(_.toSeq).toSet
    assert(folded === replay, "fold with markers must equal the replay")
  }

  test("markov serve: a channel list narrower than the maintained set " +
      "aborts loudly instead of silently dropping transitions (r18)") {
    import graft.analytics.Attribution
    // maintain with 3 channels, then serve 2: the signup cells would
    // silently vanish from every per-cell sum without the guard
    val touches = Seq(
      (1L, 1L, "click", 11L), (1L, 2L, "signup", 12L),
      (2L, 1L, "view", 21L)
    ).toDF("user", "ts", "channel", "tie")
    val convs = Seq((1L, 3L)).toDF("user", "ts")
    val (f0, c0) = Attribution.markovInitState(touches, convs)
    val (_, cells) = Attribution.markovFold(f0, c0, touches, convs)
    def msgHas(e: Throwable, s: String): Boolean =
      Option(e.getMessage).exists(_.contains(s)) ||
        Option(e.getCause).exists(c =>
          Option(c.getMessage).exists(_.contains(s)))
    val err = intercept[Exception] {
      Attribution.markovServe(cells, chA = "click", chB = "view").collect()
    }
    assert(msgHas(err, "outside the serve channel list"),
      s"narrow serve must fail loudly: ${err.getMessage}")
    val errN = intercept[Exception] {
      Attribution.markovNServe(cells, Seq("click", "view")).collect()
    }
    assert(msgHas(errN, "outside the serve channel list"))
    // the full maintained set serves fine
    val ok = Attribution.markovNServe(cells,
      Seq("click", "signup", "view")).collect()
    assert(ok.length === 3)
  }

  test("Attribution.markovByChannel: hand-computed chain, fixed-point e6 (r16)") {
    import graft.analytics.Attribution
    // u1: v@1 c@2 K@3 | v@4(end->NULL); u2: K@1 | c@2(end->NULL);
    // u3: c@1 c@2(end->NULL). Transition counts (S=start, K=CONV):
    // nsc=2 nsv=2 nsk=1; ncc=1 ncv=0 nck=1 ncn=2; nvc=1 nvv=0 nvk=0
    // nvn=1 -> rs=5 rc=4 rv=2; det=6, a_c=333333, a_v=166666 (e6),
    // as=399999; remove click: 200000; remove view: 333333;
    // re_c=499999 re_v=166666; credits of 2 conv: click 1, view 0.
    val touches = Seq(
      (1L, 1L, "view", 11L), (1L, 2L, "click", 12L), (1L, 4L, "view", 14L),
      (2L, 2L, "click", 22L),
      (3L, 1L, "click", 31L), (3L, 2L, "click", 32L)
    ).toDF("user", "ts", "channel", "tie")
    val convs = Seq((1L, 3L), (2L, 1L)).toDF("user", "ts")
    val out = Attribution.markovByChannel(touches, convs,
        chA = "click", chB = "view")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out("click") === ((499999L, 1L, 399999L)))
    assert(out("view") === ((166666L, 0L, 399999L)))
  }

  test("Funnel.fold: floors fill across batches; backfill throws (r16)") {
    import graft.analytics.Funnel
    val steps = Seq("a", "b", "c")
    def df(rows: (Long, Long, String)*) = rows.toDF("user", "ts", "step")
    // u1: a@10 in b1; b@15 (within 20 of a) in b2; c@40 OUT of b's
    //     window (15+20=35) — stage c stays null forever
    // u2: b@5 before any a — never qualifies; a@30 in b2; b@31, c@32
    //     complete the funnel entirely in b2
    // u3: only in b1 (a@1), untouched by b2 — state rides through
    val L = lit(20L)
    val st0 = Funnel.initState(df(), steps)
    val st1 = Funnel.fold(st0,
      df((1L, 10L, "a"), (2L, 5L, "b"), (3L, 1L, "a")), steps, L)
    val st2 = Funnel.fold(st1,
      df((1L, 15L, "b"), (1L, 40L, "c"),
        (2L, 30L, "a"), (2L, 31L, "b"), (2L, 32L, "c")), steps, L)
    def floors(s: org.apache.spark.sql.DataFrame) =
      s.collect().map(r => r.getLong(0) -> (
        Option(r.get(r.fieldIndex("f_a"))),
        Option(r.get(r.fieldIndex("f_b"))),
        Option(r.get(r.fieldIndex("f_c"))))).toMap
    val f = floors(st2)
    assert(f(1L) === ((Some(10L), Some(15L), None)))
    assert(f(2L) === ((Some(30L), Some(31L), Some(32L))))
    assert(f(3L) === ((Some(1L), None, None)))
    // fold == rebuild over the concatenated history
    val all = df((1L, 10L, "a"), (2L, 5L, "b"), (3L, 1L, "a"),
      (1L, 15L, "b"), (1L, 40L, "c"),
      (2L, 30L, "a"), (2L, 31L, "b"), (2L, 32L, "c"))
    assert(floors(st2.drop("frontier", "frontier_steps")) ===
      floors(Funnel.stages(all, steps, L)))
    // a same-ts tie group SPLIT across batches must still equal the
    // rebuild: b@10 folds first, a@10 arrives later — the retained
    // frontier tie group lets the old b qualify retroactively
    val t1 = Funnel.fold(Funnel.initState(df(), steps),
      df((7L, 10L, "b")), steps, L)
    val t2 = Funnel.fold(t1, df((7L, 10L, "a")), steps, L)
    assert(floors(t2) === floors(
      Funnel.stages(df((7L, 10L, "b"), (7L, 10L, "a")), steps, L)))
    // an event strictly BEFORE the stored frontier is backfill → loud
    val ex = intercept[Exception] {
      Funnel.fold(st2, df((1L, 39L, "a")), steps, L).collect()
    }
    assert(ex.getMessage.contains("append-only") ||
      Option(ex.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("Attribution.markovNByChannel: engine == pure-Scala recurrence replay (r16)") {
    import graft.analytics.Attribution
    val chs = Seq("click", "signup", "view")
    // journeys: u1 g,c,K | v(end); u2 K | c(end); u3 v,g,v(end)
    val touches = Seq(
      (1L, 1L, "signup", 11L), (1L, 2L, "click", 12L), (1L, 4L, "view", 14L),
      (2L, 2L, "click", 22L),
      (3L, 1L, "view", 31L), (3L, 2L, "signup", 32L), (3L, 3L, "view", 33L)
    ).toDF("user", "ts", "channel", "tie")
    val convs = Seq((1L, 3L), (2L, 1L)).toDF("user", "ts")
    val rounds = 24
    val got = Attribution.markovNByChannel(touches, convs, chs, rounds)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap

    // independent replay: count the chain by hand, run the SAME
    // integer recurrence in plain Scala (no Spark, no SQL)
    // transitions: u1: S->g, g->c, c->K, S->v, v->NULL
    //              u2: S->K, S->c, c->NULL
    //              u3: S->v, v->g, g->v, v->NULL
    val states = "S" +: chs
    val n = collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    for (t <- Seq(("S","signup"),("signup","click"),("click","CONV"),
        ("S","view"),("view","NULL"),("S","CONV"),("S","click"),
        ("click","NULL"),("S","view"),("view","signup"),
        ("signup","view"),("view","NULL"))) n(t) += 1
    def row(f: String) = (chs ++ Seq("CONV","NULL")).map(t => n(f -> t)).sum
    def jacobi(kept: Seq[String]): Long = {
      var a = kept.map(_ => 0L)
      for (_ <- 1 to rounds)
        a = kept.map(f => (n(f -> "CONV") * 1000000L +
          kept.zip(a).map { case (j, aj) => n(f -> j) * aj }.sum) /
          math.max(row(f), 1L))
      (n("S" -> "CONV") * 1000000L +
        kept.zip(a).map { case (j, aj) => n("S" -> j) * aj }.sum) /
        math.max(row("S"), 1L)
    }
    val aFull = jacobi(chs)
    val re = chs.map(x => x -> (1000000L -
      (jacobi(chs.filterNot(_ == x)) * 1000000L) / math.max(aFull, 1L))).toMap
    val totalConv = states.map(f => n(f -> "CONV")).sum
    val reSum = re.values.sum
    chs.foreach { x =>
      assert(got(x) === ((re(x), totalConv * re(x) / math.max(reSum, 1L),
        aFull)), s"channel $x drifted from the pure-Scala replay")
    }
  }

  test("markovNFromCounts: driver-local eval == retired expression chain " +
      "on randomized counts (r20)") {
    import graft.analytics.Attribution
    import org.apache.spark.sql.functions.{col, lit}
    // the r20 optimization replaced the ~26-layer unrolled Jacobi
    // selectExpr chain (pure per-query plan overhead — the frame is one
    // bounded row) with driver-local Long arithmetic; this pins the two
    // implementations equal over randomized transition-count frames so
    // they cannot drift silently (the expression chain shares its
    // formula generator with the DuckDB oracle — equality here extends
    // the one-generator guarantee to the local path)
    val chs = Seq("click", "signup", "view")
    val states = "S" +: chs
    val tos = chs ++ Seq("CONV", "NULL")
    val rnd = new scala.util.Random(20250819L)
    for (trial <- 1 to 5) {
      // skewed magnitudes: small counts, zero rows (degenerate
      // denominators), and large counts near the e6-product scale
      val cells = for (f <- states; t <- tos) yield {
        val n = rnd.nextInt(4) match {
          case 0 => 0L
          case 1 => rnd.nextInt(5).toLong
          case 2 => rnd.nextInt(1000).toLong
          case _ => rnd.nextInt(1000000).toLong
        }
        (f, t, n)
      }
      val cellsDf = cells.toDF("from_st", "to_st", "n")
        .filter(col("n") > 0 || lit(trial % 2 == 0)) // some all-sparse frames
      val m = () => Attribution.countCellsN(cellsDf, chs)
      val local = Attribution.markovNFromCounts(m(), chs, rounds = 24)
        .collect().map(_.toSeq)
      val expr = Attribution.markovNFromCountsExpr(m(), chs, rounds = 24)
        .collect().map(_.toSeq)
      assert(local.toSeq === expr.toSeq,
        s"trial $trial: local Jacobi drifted from the expression chain")
    }
  }

  test("DpNoise.uniformModLocal == uniformModFor over random keys/moduli (r20)") {
    import graft.analytics.DpNoise
    val rnd = new scala.util.Random(42)
    val cases = (1 to 24).map { i =>
      (s"topk|r$i-${rnd.nextInt(1000)}", 1L + rnd.nextLong(1L << 47))
    }
    val df = cases.toDF("key", "n")
      .withColumn("u", DpNoise.uniformModFor(
        col("key"), DpNoise.OracleSecret, col("n")))
    val viaColumn = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (k, n) =>
      assert(DpNoise.uniformModLocal(k, DpNoise.OracleSecret, n) ===
        viaColumn((k, n)), s"draw for ($k, $n) drifted")
    }
  }

  test("Attribution.fold: backfill throws; conversions may tie the frontier (r16)") {
    import graft.analytics.Attribution
    val chs = Seq("view", "click")
    val b1 = Seq((1L, 10L, "view", 101L), (1L, 20L, "click", 102L))
      .toDF("user", "ts", "channel", "tie")
    val noConv = Seq.empty[(Long, Long, Long)].toDF("user", "ts", "cid")
    val (_, st1) = Attribution.fold(
      Attribution.initState(b1, chs), b1, noConv, chs, lit(100L))
    // a conversion AT the stored frontier ts is legal (window is
    // inclusive at ts) and reads the full prefix
    val conv = Seq((1L, 20L, 900L)).toDF("user", "ts", "cid")
    val (cr, _) = Attribution.fold(st1,
      b1.limit(0), conv, chs, lit(100L))
    val r = cr.collect().head
    assert(r.getLong(r.fieldIndex("n_touches")) === 2L)
    assert(r.getString(r.fieldIndex("first_ch")) === "view")
    // a touch at-or-before the frontier is backfill → loud
    val bad = Seq((1L, 20L, "view", 50L)).toDF("user", "ts", "channel", "tie")
    val ex = intercept[Exception] {
      val (c2, s2) = Attribution.fold(st1, bad, noConv, chs, lit(100L))
      s2.collect()
    }
    assert(ex.getMessage.contains("append-only") ||
      Option(ex.getCause).exists(_.getMessage.contains("append-only")))
  }

  test("CascadedRollup.foldFinest: sequential folds == full rebuild (r13)") {
    import graft.operators.CascadedRollup._
    val dims = Seq("d")
    val aggs = Seq(sum_("v", "sv"), count_("n"),
      min_("v", "mn"), max_("v", "mx"))
    val a = Seq(("x", 1L), ("x", 5L), ("y", 2L)).toDF("d", "v")
    val b = Seq(("y", 7L), ("z", 3L)).toDF("d", "v") // overlap + new group
    val c = Seq(("x", -1L), ("w", 9L)).toDF("d", "v")
    val inc = foldFinest(foldFinest(
      aggregateFinest(a, dims, aggs), b, dims, aggs), c, dims, aggs)
    val full = aggregateFinest(a.unionByName(b).unionByName(c), dims, aggs)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      r.getString(0) -> (r.getAs[Long]("sv"), r.getAs[Long]("n"),
        r.getAs[Long]("mn"), r.getAs[Long]("mx"))).toMap
    assert(m(inc) === m(full),
      "two sequential batch folds must equal one full finest rebuild")
    // the cascade over the folded state == rollup over everything
    def rk(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (Option(r.getAs[String]("d")), r.getAs[Int]("lvl")) ->
        (r.getAs[Long]("sv"), r.getAs[Long]("n"))).toMap
    assert(rk(cascadeFrom(inc, dims, aggs)) ===
      rk(rollup(a.unionByName(b).unionByName(c), dims, aggs)))
  }
}
