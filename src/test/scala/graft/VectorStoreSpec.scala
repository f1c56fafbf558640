package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.similarity.VectorStore

/** The vector ingest store's two contracts (the LabelStore discipline
  * on the ANN half): fold-then-search == rebuild-then-search under the
  * same stored geometry, and every mutation touches ONLY the list
  * partitions it must (appends never rewrite, forgets rewrite just the
  * hit lists). */
class VectorStoreSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def freshDir() =
    Files.createTempDirectory("graft-vecstore").toString

  private def emb = graft.analytics.Tables.embeddings(spark, sf)

  private def listRows(dir: String): Set[(Long, Long)] =
    VectorStore.lists(spark, dir).select(col("vec_id"), col("_c"))
      .collect().map(r => (r.getLong(0), r.get(1) match {
        case i: java.lang.Integer => i.longValue
        case l: java.lang.Long    => l.longValue
      })).toSet

  test("fold == rebuild: lists and search row-identical under fixed geometry") {
    val isBatch = col("vec_id") >= 16 && col("vec_id") % 5 === 4
    val inc = freshDir(); val full = freshDir()
    VectorStore.init(spark, emb.filter(!isBatch), inc)
    val stats = VectorStore.fold(spark, inc, emb.filter(isBatch))
    assert(stats.vectorsAdded > 0 && stats.listsTouched > 0)
    // same centroids (vec_id < 16 all in the base slice) → the full
    // rebuild is directly comparable
    VectorStore.init(spark, emb, full)
    assert(listRows(inc) === listRows(full),
      "folded store must hold the full rebuild's assignment exactly")
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def res(dir: String) = VectorStore.search(spark, dir, q, 2, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(res(inc) === res(full),
      "search over the folded store drifted from the rebuild")
  }

  test("retrain race witness: fold changes the scan snapshot, reads do not (r16)") {
    // retrain aborts its publish when the generation it scanned was
    // mutated mid-scan (a concurrent fold would otherwise vanish from
    // the new generation). The witness is listFileSnapshot: any fold
    // must change it, and read-only traffic must NOT (a false positive
    // would abort every retrain under live queries).
    val dir = freshDir()
    val isBatch = col("vec_id") >= 16 && col("vec_id") % 5 === 4
    VectorStore.init(spark, emb.filter(!isBatch), dir)
    val s0 = VectorStore.listFileSnapshot(dir)
    assert(s0.nonEmpty)
    // reads leave the witness untouched
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    VectorStore.search(spark, dir, q, 2, 5).collect()
    VectorStore.listStats(spark, dir).collect()
    assert(VectorStore.listFileSnapshot(dir) === s0,
      "read-only traffic must not trip the retrain race check")
    // any fold trips it
    VectorStore.fold(spark, dir, emb.filter(isBatch))
    assert(VectorStore.listFileSnapshot(dir) !== s0,
      "a fold must be visible to the retrain race check")
  }

  test("fold appends without rewriting existing list files; empty fold is a no-op") {
    val isBatch = col("vec_id") >= 16 && col("vec_id") % 5 === 4
    val dir = freshDir()
    VectorStore.init(spark, emb.filter(!isBatch), dir)
    def snapshot(): Set[(String, Long)] = {
      val st = Files.walk(Paths.get(dir, "lists"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(Files.isRegularFile(_))
          .filter(_.getFileName.toString.startsWith("part-"))
          .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
          .toSet
      } finally st.close()
    }
    val before = snapshot()
    assert(VectorStore.fold(spark, dir,
      emb.filter(col("vec_id") < 0)) === VectorStore.FoldStats(0L, 0))
    VectorStore.fold(spark, dir, emb.filter(isBatch))
    val after = snapshot()
    assert(before.subsetOf(after),
      "a fold must only ADD files — existing list files stay untouched")
    assert(after.size > before.size, "the fold must have appended files")
  }

  test("forget rewrites only hit lists; emptied lists removed; unknown ids no-op") {
    val dir = freshDir()
    VectorStore.init(spark, emb, dir)
    import spark.implicits._
    // unknown id: nothing listed, nothing rewritten
    assert(VectorStore.forget(spark, dir, Seq(999999L).toDF("vec_id"))
      === VectorStore.ForgetStats(0L, 0))
    // forget one real non-centroid vector: exactly its list rewrites
    val victim = listRows(dir).filter(_._1 >= 16).head
    val untouched = listRows(dir).filter(t => t._2 != victim._2)
    assert(untouched.nonEmpty)
    val snapBefore = untouched.map(_._2).map { c =>
      val p = Paths.get(dir, "lists", s"_c=$c")
      c -> Files.getLastModifiedTime(p).toMillis
    }.toMap
    val st = VectorStore.forget(spark, dir, Seq(victim._1).toDF("vec_id"))
    assert(st === VectorStore.ForgetStats(1L, 1))
    assert(!listRows(dir).contains(victim))
    snapBefore.foreach { case (c, t) =>
      assert(Files.getLastModifiedTime(
        Paths.get(dir, "lists", s"_c=$c")).toMillis === t,
        s"list _c=$c was not hit and must not be rewritten")
    }
    // erase an entire list: its partition dir disappears
    val someList = listRows(dir).groupBy(_._2).minBy(_._2.size)
    val ids = someList._2.map(_._1).toSeq
    VectorStore.forget(spark, dir, ids.toDF("vec_id"))
    assert(!Files.exists(Paths.get(dir, "lists", s"_c=${someList._1}")),
      "a fully-forgotten list's partition dir must be removed")
  }

  // ── r15: retrain generations + the _meta geometry sidecar ────────

  /** Deterministic pseudo-random unit-ish vector (no Random: replays
    * bit-for-bit). */
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(8)(k => math.cos(0.7 * seed + 1.3 * k).toFloat)

  private def vdf(rows: Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("retrain: drift skews listStats, the new generation rebalances, " +
      "full-probe search is continuous across the swap (r15)") {
    val dir = freshDir()
    // base: 16 centroid vectors + 32 satellites → balanced lists
    val cents = (0L until 16L).map(j => j -> vec(j.toInt))
    val sats = (16L until 48L).map { i =>
      val c = vec((i % 16).toInt)
      i -> c.zipWithIndex.map { case (x, k) =>
        x + 0.01f * math.cos(i + k).toFloat }
    }
    VectorStore.init(spark, vdf(cents ++ sats), dir)
    assert(VectorStore.metaOf(dir) === Some((16, 8)))
    def maxList(): Long = VectorStore.listStats(spark, dir)
      .agg(max(col("n"))).head.getLong(0)
    val maxBase = maxList()

    // drift: 40 vectors in 8 subclusters around ONE far direction —
    // they pile into very few of the trained lists
    val far = vec(999)
    def driftCenter(i: Int): Array[Float] =
      far.zipWithIndex.map { case (x, k) =>
        x + (if (k == i % 8) 0.25f else 0f) }
    val drifted = (100L until 140L).map { i =>
      i -> driftCenter((i % 8).toInt).zipWithIndex.map { case (x, k) =>
        x + 0.001f * math.cos(3 * i + k).toFloat }
    }
    VectorStore.fold(spark, dir, vdf(drifted))
    val maxDrift = maxList()
    assert(maxDrift >= 14,
      s"drifted fold should pile into few lists, max=$maxDrift")
    assert(maxDrift > maxBase)

    // full-probe search BEFORE the swap (exact over the whole store)
    val q = vdf((0L until 6L).map(j => j -> vec(j.toInt)))
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    def res() = VectorStore.search(spark, dir, q, nProbe = 16, k = 5)
      .collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val before = res()

    // retrain: half the codebook re-seeded from the drift region
    val train = vdf(
      (0L until 8L).map(j => j -> vec(j.toInt)) ++
      (8L until 16L).map(j => j -> driftCenter((j - 8).toInt)))
    val v = VectorStore.retrain(spark, dir, train)
    assert(v === 1L && Files.isDirectory(Paths.get(dir, "v1")))
    assert(VectorStore.metaOf(dir) === Some((16, 8)))
    // same corpus, rebalanced lists
    assert(VectorStore.lists(spark, dir).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet ===
      (cents ++ sats ++ drifted).map(_._1).toSet,
      "retrain must preserve every stored vector")
    assert(maxList() < maxDrift,
      "the retrained geometry must drain the hot list")
    // full probe scans everything: the swap cannot change exact results
    assert(res() === before,
      "full-probe search must be continuous across the generation swap")

    // fold AFTER the swap lands in the new generation and stays exact
    val post = (200L until 208L).map(i => i -> vec((i % 16).toInt))
    val st = VectorStore.fold(spark, dir, vdf(post))
    assert(st.vectorsAdded === 8L)
    assert(Files.walk(Paths.get(dir, "v1", "lists")).count() > 0)
    val ids = VectorStore.lists(spark, dir).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(post.map(_._1).toSet.subsetOf(ids),
      "post-retrain folds must land in the resolved generation")
  }

  test("_meta sidecar: geometry mismatch and wrong-width vectors fail fast (r15)") {
    val dir = freshDir()
    VectorStore.init(spark,
      vdf((0L until 16L).map(j => j -> vec(j.toInt))), dir)
    // wrong-width batch refuses to fold (it would score garbage)
    val wide = vdf(Seq(500L -> Array.tabulate(9)(_.toFloat)))
    val e1 = intercept[IllegalArgumentException] {
      VectorStore.fold(spark, dir, wide)
    }
    assert(e1.getMessage.contains("width"))
    // wrong-width queries refuse to search
    val e2 = intercept[IllegalArgumentException] {
      VectorStore.search(spark, dir,
        wide.select(col("vec_id").as("query_id"),
          col("embedding").as("qe")), 2, 5).collect()
    }
    assert(e2.getMessage.contains("width"))
    // tampered meta (a foreign-convention store): every entry fails fast
    val props = new java.util.Properties()
    props.setProperty("nCentroids", "8"); props.setProperty("dim", "8")
    val out = Files.newOutputStream(Paths.get(dir, "_meta"))
    try props.store(out, "tampered") finally out.close()
    import spark.implicits._
    Seq(
      () => VectorStore.fold(spark, dir,
        vdf(Seq(600L -> vec(3)))): Unit,
      () => VectorStore.forget(spark, dir,
        Seq(1L).toDF("vec_id")): Unit
    ).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("nCentroids"),
        "a geometry/meta mismatch must fail fast, not mis-prune")
    }
  }

  test("q121's IVF-flat artifact is a VectorStore: _meta recorded, search == q121") {
    val prev = sys.props.get("graft.artifacts.dir")
    sys.props("graft.artifacts.dir") = freshDir()
    try {
      val served = SparkEntry.queries("q121_ann_from_index")(spark, sf)
        .collect().toSeq
      val dir = graft.similarity.SimilarityQueries.ivfFlat(spark, sf)
      val width = emb.select(size(col("embedding"))).distinct()
        .collect().map(_.getInt(0)).toSeq
      assert(width.size == 1)
      assert(VectorStore.metaOf(dir) == Some((16, width.head)),
        "the artifact must carry the store's _meta (nCentroids, dim)")
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      val mine = VectorStore.search(spark, dir, q, 2, 5)
        .orderBy("query_id", "rk").collect().toSeq
      assert(served.nonEmpty)
      assert(mine == served,
        "VectorStore.search over the artifact must equal q121 row for row")
    } finally prev match {
      case Some(v) => sys.props("graft.artifacts.dir") = v
      case None    => sys.props.remove("graft.artifacts.dir")
    }
  }

  /** Spark jobs started by `body` on this thread: jobs are tagged with
    * a job group, and a sentinel job in a second group fences the
    * listener bus (events arrive in order, so once the sentinel's start
    * is seen every earlier start has been counted). */
  private def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = "jobs-" + java.util.UUID.randomUUID
    val fence = new java.util.concurrent.CountDownLatch(1)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet()
          case Some(g) if g == group + "-fence" => fence.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-fence", "fence")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS))
      n.get
    } finally sc.removeSparkListener(l)
  }

  test("store reads pass their schemas: building a search or a BM25 " +
      "scoring frame runs no schema-inference job") {
    import spark.implicits._
    val vdir = freshDir()
    VectorStore.init(spark, emb, vdir)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val bdir = Files.createTempDirectory("graft-bm25store").toString
    val docs = Seq((1L, "red widget red gear"), (2L, "blue bolt red"))
      .toDF("doc_id", "text")
    graft.text.Bm25Store.init(spark, docs, bdir)
    val qterms = Seq((1L, "red"), (1L, "bolt")).toDF("qid", "t")
    // what remains are the stores' own bounded driver reads (search:
    // the centroids, the query-width check, the probed cids; scored:
    // the distinct query terms). Reading centroids + lists (search) or
    // postings + doclens (scored) with inferred schemas ran one more
    // job per read: 7 and 4.
    assert(jobsDuring(VectorStore.search(spark, vdir, q, 2, 5)) == 5)
    assert(jobsDuring(graft.text.Bm25Store.scored(spark, bdir, qterms)) == 2)
  }
}
