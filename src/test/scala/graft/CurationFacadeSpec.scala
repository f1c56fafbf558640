package graft

import org.apache.spark.sql.functions._

/** End-to-end spec for the public [[Curation]] facade on a purpose-
  * built fixture corpus: one document engineered to fall at each
  * stage, so the per-stage survivor counts prove every stage actually
  * ran (and nothing else was touched). */
class CurationFacadeSpec extends SparkSpec {

  private def md5hex(s: String) =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // a "good" document: long, clean, stopword-bearing Spanish-ish text
  // (the quality score rewards length, low punctuation, stopwords);
  // the `tag` makes shingles unique per doc
  private def good(tag: String) =
    (1 to 30).map(i => s"palabra$tag$i de la casa con el tiempo")
      .mkString(" ")

  test("curate: each stage drops exactly its engineered victims") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cf-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val dataDir = java.nio.file.Files
        .createTempDirectory("graft-cf-data").toString
      // doc 1-6: survive everything (distinct clean texts)
      // doc 7:   low quality (short + pure punctuation)
      // doc 8:   contaminated (contains the bench's 5-token sequence)
      // doc 9:   exact duplicate of doc 1 (same normalized text)
      // doc 10:  near-dup of doc 2 (doc 2's text + one extra word:
      //          every minhash band collides, but the fingerprint —
      //          md5 of the full text — differs)
      val benchSeq = "secreto uno dos tres cuatro"
      val docs = Seq(
        (1L, good("a")), (2L, good("b")), (3L, good("c")),
        (4L, good("d")), (5L, good("e")), (6L, good("f")),
        (7L, "!!! ??? ..."),
        (8L, good("h") + " " + benchSeq),
        (9L, good("a")),
        (10L, good("b") + " extra")
      ).map { case (id, text) =>
        (id, text, "es", if (id <= 5) "src_big" else "src_small",
          text.length.toLong)
      }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")

      val bench = Seq(("eval doc " + benchSeq + " cola"))
        .toDF("text")

      // mixBase=0 skips the sampling stage: the first run pins the
      // deterministic stages 1-5 exactly
      val r = Curation.curate(spark, dataDir, bench = Some(bench),
        mixBase = 0L)
      assert(r.stages.map(s => s.name -> s.n_docs) == Seq(
        "raw" -> 10L,            // all docs
        "quality" -> 9L,         // doc 7 falls
        "decontaminated" -> 8L,  // doc 8 falls
        "exact_dedup" -> 7L,     // doc 9 falls (dup of 1)
        "near_dedup" -> 6L,      // doc 10 falls (near-dup of 2)
        "mixed" -> 6L),          // stage skipped
        s"unexpected funnel: ${r.stages}")
      assert(r.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == (1L to 6L), "survivors must be the six engineered docs")

      // mixture stage: q102 keep-rates over the survivors, replayed
      // driver-side from the same md5-band math (src_big keeps
      // floor-banded ~40%, src_small keeps everything: threshold
      // min(2000·sqrt(5/1), 10000) = 4472 for src_big's 5 docs vs
      // 10000 for src_small's 1)
      val r2 = Curation.curate(spark, dataDir, bench = Some(bench))
      val nMax = 5L // src_big survivors
      def kept(id: Long, n: Long): Boolean = {
        val th = math.min(
          math.floor(2000.0 * math.sqrt(nMax.toDouble / n)).toLong, 10000L)
        java.lang.Long.parseLong(md5hex(s"mix0|$id").take(8), 16) % 10000 < th
      }
      val expect = ((1L to 5L).filter(kept(_, 5)) ++
        Seq(6L).filter(kept(_, 1))).sorted
      assert(r2.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == expect, "mixture stage must match the md5-band replay")
      assert(r2.stages.last == Curation.StageCount(6, "mixed",
        expect.size.toLong))

      // DSIR stage: a target of doc 3's DISTINCTIVE vocabulary (the
      // shared filler words would dilute every weight above the
      // acceptance bands) reweights the survivors; the kept set must
      // equal the driver-side replay of the integer bucket-score math
      // (the q115 discipline). Doc 3 scores ~2x the others; doc 2
      // also survives on a low acceptance band — both replayed.
      val targetText = (1 to 30).map(i => s"palabrac$i").mkString(" ")
      val target = Seq(targetText).toDF("text")
      val r4 = Curation.curate(spark, dataDir, bench = Some(bench),
        dsirTarget = Some(target), mixBase = 0L)
      def toks(t: String) = t.trim.split("\\s+").toSeq
      def h60(s: String) = java.lang.Long.parseLong(md5hex(s).take(15), 16)
      val survivors = (1L to 6L).map(id =>
        id -> (if (id == 1) good("a") else if (id == 2) good("b")
          else if (id == 3) good("c") else if (id == 4) good("d")
          else if (id == 5) good("e") else good("f")))
      val tc = new Array[Long](256); val rc = new Array[Long](256)
      toks(targetText).foreach(w => tc((h60(w) & 255).toInt) += 1)
      survivors.foreach { case (_, t) =>
        toks(t).foreach(w => rc((h60(w) & 255).toInt) += 1) }
      val tT = tc.sum; val rT = rc.sum
      val score = Array.tabulate(256)(b =>
        ((tc(b) + 1) * (rT + 256) * 10000L) / ((rc(b) + 1) * (tT + 256)))
      val expectDsir = survivors.filter { case (id, t) =>
        val ts = toks(t)
        val w = ts.map(x => score((h60(x) & 255).toInt)).sum / ts.size
        java.lang.Long.parseLong(md5hex(s"dsir0|$id").take(8), 16) %
          10000 < math.min(w, 10000L)
      }.map(_._1).sorted
      assert(r4.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == expectDsir, "dsir stage must match the integer replay")
      assert(r4.stages.map(s => s.name -> s.n_docs).contains(
        "dsir" -> expectDsir.size.toLong))
      assert(expectDsir.nonEmpty && expectDsir.size < 6,
        s"the fixture target must make selection BIND: kept $expectDsir")

      // epoch write: every curated doc in exactly one shard, in the
      // reproducible key order
      val out = java.nio.file.Files
        .createTempDirectory("graft-cf-epoch").toString
      val r3 = Curation.curate(spark, dataDir, bench = Some(bench),
        mixBase = 0L, epochDir = Some(out), shards = 4)
      val epoch = spark.read.parquet(out)
      assert(epoch.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == (1L to 6L))
      assert(epoch.select("shard").distinct().count() <= 4)
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("curate: label attach runs under the measured dispatch (broadcast at this scale)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cf-adv")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val dataDir = java.nio.file.Files
        .createTempDirectory("graft-cf-adv-data").toString
      val docs = Seq(
        (1L, good("a")), (2L, good("b")), (3L, good("c")),
        (4L, good("b") + " extra") // near-dup of 2 → a label pair exists
      ).map { case (id, text) => (id, text, "es", "src", text.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")

      val r = Curation.curate(spark, dataDir, mixBase = 0L)
      // the funnel's outcome is unchanged by the dispatch: doc 4 falls
      // to its cluster's better member, everything else survives
      assert(r.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L, 3L))
      // the dispatched plan is IN the executed query: at this scale
      // the advisor measures the pair-scale label artifact under
      // broadcastMaxRows, the masked re-decision picks
      // BroadcastSide("right"), and the left-outer attach must carry
      // the broadcast build — not a fixed sort-merge
      val plan = r.curated.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") &&
        plan.contains("LeftOuter, BuildRight"),
        s"label attach must dispatch as broadcast left join:\n$plan")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("curate: near-dup survivor is the best-quality member, not min-id") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cf6-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val dataDir = java.nio.file.Files
        .createTempDirectory("graft-cf6-data").toString
      // docs 1-3: clean singletons. Docs 20/21: a near-dup cluster
      // where the MIN-ID member (20) is the mangled copy — doc 21's
      // text plus one long pure-punctuation token (near-dup bands
      // still collide, the punctuation-density term drops the quality
      // score below the clean copy's, and 0.99 stays far above the
      // 0.55 floor so stage 1 can't be what saves us)
      val junky = good("x") + " !!!!!!!!!!!!!!!!!!!!!!!!"
      val docs = Seq(
        (1L, good("a")), (2L, good("b")), (3L, good("c")),
        (20L, junky), (21L, good("x"))
      ).map { case (id, t) => (id, t, "es", "s1", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")

      // preflight: the pair must exist as a NEAR-dup (not exact), else
      // the fixture tests nothing
      val fps = spark.read.parquet(s"$dataDir/documents.parquet")
        .select(graft.text.TextFunctions.doc_fingerprint(col("text")))
        .distinct().count()
      assert(fps == 5L, "the mangled copy must NOT be an exact dup")

      val r = Curation.curate(spark, dataDir, mixBase = 0L)
      assert(r.stages.find(_.name == "near_dedup").get.n_docs == 4L,
        s"the cluster must collapse to one survivor: ${r.stages}")
      assert(r.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L, 3L, 21L),
        "the CLEAN copy (21) must survive, not the min-id mangled one")
      // the q153 selection is sort-free: every Window left in the
      // funnel is stage 3's md5-fingerprint dedup (the plan references
      // that subtree twice — winners branch and semi-join left) —
      // NONE may partition by the stage-4 cluster key
      // distinguishing mark: the fingerprint window runs straight over
      // the filtered scan, while a stage-4 cluster window would sit
      // ABOVE the labels join — so no surviving window may contain a
      // Join in its subtree
      val wins = r.curated.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.nonEmpty && wins.forall(_.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty),
        s"stage 4 must not add a cluster window:\n${wins.mkString("\n")}")

      // the legacy rule is still there behind the switch — and keeps
      // the worse copy, which is exactly why it is no longer default
      val r2 = Curation.curate(spark, dataDir, mixBase = 0L,
        keepBestRep = false)
      assert(r2.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L, 3L, 20L))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("curate: repetition stage drops exactly the engineered spam doc") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cf3-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val dataDir = java.nio.file.Files
        .createTempDirectory("graft-cf3-data").toString
      // doc 1/2: every bigram AND trigram distinct (suffix-numbered
      //          words) — passes both mass rules
      // doc 3:   one phrase repeated 40x — its top 2-gram alone is
      //          ~25% of the characters, far over the 20% rule
      def varied(tag: String) =
        (1 to 40).map(i => s"palabra$tag$i de${i}x la${i}y").mkString(" ")
      val spam = (1 to 40).map(_ => "compra ya").mkString(" ")
      val docs = Seq(
        (1L, varied("a")), (2L, varied("b")), (3L, spam)
      ).map { case (id, t) => (id, t, "es", "s1", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")

      val r = Curation.curate(spark, dataDir, qualityMin = 0.0,
        repetition = true, mixBase = 0L)
      assert(r.stages.map(s => s.name -> s.n_docs) == Seq(
        "raw" -> 3L, "quality" -> 3L, "repetition" -> 2L,
        "decontaminated" -> 2L, "exact_dedup" -> 2L, "near_dedup" -> 2L,
        "mixed" -> 2L), s"unexpected funnel: ${r.stages}")
      assert(r.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L), "the spam doc must be the one casualty")

      // and the default leaves the stage out of the funnel entirely
      val r2 = Curation.curate(spark, dataDir, qualityMin = 0.0,
        mixBase = 0L)
      assert(!r2.stages.exists(_.name == "repetition"))
      assert(r2.stages.map(_.n_docs).forall(_ == 3L))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("curate: containment stage drops exactly the engulfed prefix doc") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cf4-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val dataDir = java.nio.file.Files
        .createTempDirectory("graft-cf4-data").toString
      // docs 1-4: long varied texts (pairwise shingle-disjoint)
      // doc 5: the first 10 of doc 1's 40 phrases — every shingle of 5
      //        is in 1 (containment 1.0) but resemblance is ~0.25, so
      //        exact dedup, minhash near-dup, and the q24 Jaccard gate
      //        all miss it; only the containment stage can catch it
      def varied(tag: String) =
        (1 to 40).map(i => s"palabra$tag$i de${i}x la${i}y").mkString(" ")
      val engulfed =
        (1 to 10).map(i => s"palabraa$i de${i}x la${i}y").mkString(" ")
      val docs = Seq(
        (1L, varied("a")), (2L, varied("b")), (3L, varied("c")),
        (4L, varied("d")), (5L, engulfed)
      ).map { case (id, t) => (id, t, "es", "s1", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")

      val r = Curation.curate(spark, dataDir, qualityMin = 0.0,
        containment = true, mixBase = 0L)
      assert(r.stages.map(s => s.name -> s.n_docs) == Seq(
        "raw" -> 5L, "quality" -> 5L, "decontaminated" -> 5L,
        "exact_dedup" -> 5L, "near_dedup" -> 5L, "containment" -> 4L,
        "mixed" -> 4L), s"unexpected funnel: ${r.stages}")
      assert(r.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L, 3L, 4L),
        "the engulfed prefix doc must be the one casualty")

      // off by default, nothing drops
      val r2 = Curation.curate(spark, dataDir, qualityMin = 0.0,
        mixBase = 0L)
      assert(!r2.stages.exists(_.name == "containment"))
      assert(r2.stages.map(_.n_docs).forall(_ == 5L))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("curate: a containment chain drops only the safely-licensed doc") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cf5-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val dataDir = java.nio.file.Files
        .createTempDirectory("graft-cf5-data").toString
      // chain A⊂B⊂C with A⊄C, sized so RESEMBLANCE stays below the
      // minhash bands (each pair's jaccard ≈ 0.2 — the containment
      // stage, not near-dup, must be what fires): C = 80 varied
      // phrases; B = 17 of C's + 3 unique (contained ~0.85 in C,
      // jaccard(B,C) ≈ 0.2); A = the 3 unique + 1 of C's (contained
      // 1.0 in B, jaccard(A,B) = 0.2, contained only ~0.25 in C — no
      // A-C pair). The fixed pass drops B (licensed by C, a pure
      // outer) and KEEPS A — its only outer is itself engulfed, and
      // A's content is NOT in C, so dropping both would lose it
      def ph(tag: String, i: Int) = s"palabra$tag$i de${i}x la${i}y"
      val cTxt = (1 to 80).map(ph("a", _)).mkString(" ")
      val uniq = (1 to 3).map(ph("z", _))
      val bTxt = (uniq ++ (1 to 17).map(ph("a", _))).mkString(" ")
      val aTxt = (uniq :+ ph("a", 1)).mkString(" ")
      val docs = Seq((1L, cTxt), (2L, bTxt), (3L, aTxt),
        (4L, (1 to 40).map(ph("q", _)).mkString(" ")))
        .map { case (id, t) => (id, t, "es", "s1", t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")

      // preflight: the fixture must actually form the A⊂B⊂C chain and
      // NOT an A⊂C pair (else the scenario tests nothing)
      val pairs = graft.text.TextQueries.queries("q140_containment_pairs")
        .build(spark, dataDir).collect()
        .map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"),
          r.getAs[Long]("inner_doc"))).toSet
      assert(pairs.exists(p => p._1 == 2L && p._2 == 3L && p._3 == 3L),
        s"A must be engulfed by B: $pairs")
      assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 2L),
        s"B must be engulfed by C: $pairs")
      assert(!pairs.exists(p => Set(p._1, p._2) == Set(1L, 3L)),
        s"A must NOT pair with C directly: $pairs")

      val r = Curation.curate(spark, dataDir, qualityMin = 0.0,
        containment = true, mixBase = 0L)
      // the drop must happen at the CONTAINMENT stage — if near-dup
      // already removed B the scenario degraded into the simple case
      assert(r.stages.find(_.name == "near_dedup").get.n_docs == 4L,
        s"near-dup must not fire in this fixture: ${r.stages}")
      assert(r.stages.find(_.name == "containment").get.n_docs == 3L,
        s"containment must drop exactly one doc: ${r.stages}")
      val kept = r.curated.select("doc_id").collect()
        .map(_.getLong(0)).sorted.toSeq
      assert(kept == Seq(1L, 3L, 4L),
        s"chain must drop only B (doc 2), keeping A whose content " +
          s"is nowhere else: kept $kept")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("curate: perplexity tail drop and UniMax mixture replay exactly") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-cf2-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val dataDir = java.nio.file.Files
        .createTempDirectory("graft-cf2-data").toString
      // three sources × three docs; per source, two docs built from
      // the reference phrase (in-model bigrams) and one from unique
      // junk words (every bigram out-of-model → the Laplace floor 1 →
      // the engineered tail-tercile victim). Languages are skewed for
      // the UniMax run: six "en" docs vs two "fr" and one "de".
      def refy(tag: String) =
        (1 to 30).map(i => s"palabra$tag$i de la casa con el tiempo")
          .mkString(" ")
      def junk(tag: String) =
        (1 to 30).map(i => s"zq$tag${i}x yw$tag${i}z vk$tag${i}q")
          .mkString(" ")
      val docs = Seq(
        (1L, refy("a"), "en", "s1"), (2L, refy("b"), "en", "s1"),
        (3L, junk("c"), "en", "s1"),
        (4L, refy("d"), "en", "s2"), (5L, refy("e"), "en", "s2"),
        (6L, junk("f"), "en", "s2"),
        (7L, refy("g"), "fr", "s3"), (8L, refy("h"), "fr", "s3"),
        (9L, junk("i"), "de", "s3")
      ).map { case (id, t, lg, src) => (id, t, lg, src, t.length.toLong) }
      docs.toDF("doc_id", "text", "lang", "source", "n_chars")
        .repartition(1)
        .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
      val ref = Seq((1 to 40).map(_ => "de la casa con el tiempo")
        .mkString(" ")).toDF("text")

      // perplexity-only run (quality floor off, mixture off): exactly
      // the junk doc of each source — the per-source tail tercile —
      // must fall, and the stage must appear in the funnel
      val r = Curation.curate(spark, dataDir, lmRef = Some(ref),
        qualityMin = 0.0, mixBase = 0L)
      assert(r.stages.map(s => s.name -> s.n_docs) == Seq(
        "raw" -> 9L, "quality" -> 9L, "perplexity" -> 6L,
        "decontaminated" -> 6L, "exact_dedup" -> 6L, "near_dedup" -> 6L,
        "mixed" -> 6L), s"unexpected funnel: ${r.stages}")
      assert(r.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L, 4L, 5L, 7L, 8L),
        "tail tercile must be exactly the engineered junk docs")

      // UniMax-only run: water-filling replay over the three languages
      // (en 6×210 tokens saturates nothing; fr/de saturate), kept set
      // = md5-band replay against the allocation's e4 epochs
      val r2 = Curation.curate(spark, dataDir, qualityMin = 0.0,
        mixBase = 0L, unimax = true)
      val toksOf = docs.map { case (id, t, lg, _, _) =>
        (id, lg, t.trim.split("\\s+").length.toLong) }
      val byLang = toksOf.groupBy(_._2).view
        .mapValues(rs => rs.map(_._3).sum).toMap
      val total = byLang.values.sum
      val budget = total * 3 / 4
      val n = byLang.size
      val asc = byLang.toSeq.sortBy { case (l, nt) => (nt, l) }
      var pk = 0L
      val sat = asc.zipWithIndex.map { case ((l, nt), i) =>
        pk += nt
        l -> (pk + nt * (n - i - 1) <= math.min(budget, total))
      }.toMap
      val psat = asc.collect { case (l, nt) if sat(l) => nt }.sum
      val k = sat.values.count(identity)
      val theta = if (k == n) Long.MaxValue else (budget - psat) / (n - k)
      val eff = byLang.map { case (l, nt) =>
        l -> (if (sat(l)) nt else math.min(nt, theta)) * 10000 / nt }
      val expected = toksOf.filter { case (id, lg, _) =>
        java.lang.Long.parseLong(md5hex(s"unimax0|$id").take(8), 16) %
          10000 < eff(lg)
      }.map(_._1).sorted
      assert(k > 0 && k < n, "fixture must saturate some language")
      assert(expected.size < 9, "fixture must level some language")
      assert(r2.curated.select("doc_id").collect().map(_.getLong(0)).sorted
        .toSeq == expected, "UniMax stage must match the md5-band replay")
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None    => sys.props.remove("graft.artifacts.dir")
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("curateBatch: two sequential folds == one full rebuild (q165 lifted to the facade)") {
    val d = "/root/testdata/sf0.001"
    val buckets = 32
    val docs = graft.analytics.Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val mx = docs.agg(max(col("doc_id"))).head.getLong(0)
    val band = expr(s"doc_id * 5 div ${mx + 1}")
    val base = docs.filter(band <= 2)
    val batch1 = docs.filter(band === 3)
    val batch2 = docs.filter(band === 4)

    val store = java.nio.file.Files
      .createTempDirectory("graft-ingest").toString
    Curation.initIncremental(spark, base, store, buckets)
    val r1 = Curation.curateBatch(spark, store, batch1, buckets)
    val r2 = Curation.curateBatch(spark, store, batch2, buckets)
    // non-vacuous: the batches actually brushed existing components
    assert(r1.fold.newPairs + r2.fold.newPairs > 0,
      "the splits produced no cross-batch pairs — identity untested")
    assert(r1.stages.map(_.name) ==
      Seq("batch_raw", "quality", "sketched"))

    // ONE full rebuild over base ∪ batch1 ∪ batch2
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      graft.text.TextQueries.explodeBands(
        df.select(col("doc_id"),
            graft.text.TextFunctions.minhash_signature(col("text"), 3)
              .as("sig"))
          .filter(col("sig").isNotNull))
    val fullPairs = graft.text.TextQueries
      .candidatePairsFromBands(bandsOf(docs))
    val (fullLabels, fullSurvivors) =
      graft.text.CurationQueries.withDupClusterLabels(spark, fullPairs) {
        full =>
          val lbl = full.select(col("doc_id"), col("rep")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
          val drop = lbl.collect { case (doc, rep) if doc != rep => doc }
          val ids = docs.select(col("doc_id")).collect()
            .map(_.getLong(0)).toSet
          (lbl, ids -- drop)
      }
    // labels identical — the store IS the rebuild's closure
    assert(graft.text.LabelStore.labels(spark, s"$store/dedup")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == fullLabels, "incremental store drifted from the full rebuild")
    // survivor set identical — the user-facing guarantee
    val gotSurvivors = Curation
      .incrementalSurvivors(spark, store, docs)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(gotSurvivors == fullSurvivors,
      "incremental survivor set != rebuild survivor set")
    // the band store admitted both batches (next batch probes them)
    assert(spark.read.parquet(s"$store/bands").count()
      == bandsOf(docs).count())
    graft.etl.Commit.deleteRecursively(
      java.nio.file.Paths.get(store))
  }

  test("reportCard delegates to the oracle-checked q122 surface") {
    val sf = "/root/testdata/sf0.001"
    val got = Curation.reportCard(spark, sf).collect()
    val q122 = graft.text.CurationQueries.queries("q122_corpus_report")
      .build(spark, sf).collect()
    assert(got.nonEmpty && got.toSeq == q122.toSeq)
  }

  test("dataCard composes the four oracle-checked monitoring surfaces") {
    val sf = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-dc-art")
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = root.toString
    try {
      val card = Curation.dataCard(spark, sf)
      def rows(name: String) = {
        val specs = graft.text.CurationQueries.queries ++
          graft.text.TextQueries.queries
        specs(name).build(spark, sf).collect().toSeq
      }
      assert(card.report.collect().toSeq == rows("q122_corpus_report"))
      assert(card.overlap.collect().toSeq == rows("q141_sketch_overlap"))
      assert(card.drift.collect().toSeq == rows("q143_hist_drift"))
      assert(card.leakage.collect().toSeq == rows("q144_split_leakage"))
      assert(card.growth.collect().toSeq == rows("q155_vocab_growth"))
    } finally {
      prev match {
        case Some(v) => sys.props("graft.artifacts.dir") = v
        case None => sys.props -= "graft.artifacts.dir"
      }
      graft.etl.Commit.deleteRecursively(root)
    }
  }

  test("forgetBatch == initIncremental without the forgotten docs (r13)") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val buckets = 16
    val docs = graft.analytics.Tables.documents(spark, d)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))

    val storeA = java.nio.file.Files
      .createTempDirectory("graft-forgetA").toString
    Curation.initIncremental(spark, docs, storeA, buckets)

    // pick: the REP of a multi-member component (forces re-election),
    // a NON-REP member of a different component, and a singleton (no
    // label row — only its band rows must vanish)
    val lbl = graft.text.LabelStore.labels(spark, s"$storeA/dedup")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val bySize = lbl.groupBy(_._2).view.mapValues(_.length).toMap
    val repPick = bySize.collect { case (r, n) if n >= 2 => r }.min
    val memberPick = lbl.collect {
      case (doc, rep) if doc != rep && rep != repPick => doc
    }.min
    val labeled = lbl.map(_._1).toSet
    val singleton = docs.select(col("doc_id")).collect()
      .map(_.getLong(0)).filterNot(labeled).min
    val forgetIds = Seq(repPick, memberPick, singleton)

    val report = Curation.forgetBatch(spark, storeA,
      forgetIds.toDF("doc_id"), buckets)
    assert(report.bandRowsRemoved > 0L,
      "the forgotten docs' band rows must have existed")
    assert(report.dedup.labeledDocs == 2L, s"unexpected ${report.dedup}")

    // the oracle: a FRESH init over the corpus minus the forgotten docs
    val storeB = java.nio.file.Files
      .createTempDirectory("graft-forgetB").toString
    Curation.initIncremental(spark,
      docs.filter(!col("doc_id").isin(forgetIds: _*)), storeB, buckets)

    def lblSet(st: String) = graft.text.LabelStore
      .labels(spark, s"$st/dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def pairSet(st: String) = graft.text.LabelStore
      .pairs(spark, s"$st/dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def bandSet(st: String) = spark.read.parquet(s"$st/bands")
      .select(col("band"), col("ha"), col("hb"), col("doc_id"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(lblSet(storeA).nonEmpty, "identity would be vacuous")
    assert(lblSet(storeA) == lblSet(storeB),
      "forget drifted from the rebuild: labels")
    assert(pairSet(storeA) == pairSet(storeB),
      "forget drifted from the rebuild: pairs")
    assert(bandSet(storeA) == bandSet(storeB),
      "forget drifted from the rebuild: bands")
    // the user-facing guarantee: identical survivor sets
    val remaining = docs.filter(!col("doc_id").isin(forgetIds: _*))
    def survivors(st: String) = Curation
      .incrementalSurvivors(spark, st, remaining)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(survivors(storeA) == survivors(storeB))
    Seq(storeA, storeB).foreach(p => graft.etl.Commit
      .deleteRecursively(java.nio.file.Paths.get(p)))
  }
}
