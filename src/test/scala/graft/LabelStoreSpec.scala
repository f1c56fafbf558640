package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.text.{CurationQueries, IncrementalDedup, LabelStore, TextQueries}

/** The partitioned label/pair store's two contracts (SURVEY §8 r13):
  * the incremental fold is ROW-IDENTICAL to the in-memory union fold
  * ([[IncrementalDedup.updatedLabels]]), and its IO really is
  * partition-incremental — untouched buckets stay byte-identical,
  * emptied buckets disappear. */
class LabelStoreSpec extends SparkSpec {
  import graft.text.TextFunctions._

  private def freshDir() =
    Files.createTempDirectory("graft-labelstore").toString

  test("partitioned fold == union fold on real sf0.001 bands (the q165 identity, published)") {
    val d = "/root/testdata/sf0.001"
    val buckets = 16
    val docs = graft.analytics.Tables.documents(spark, d)
    val mx = docs.agg(coalesce(max(col("doc_id")), lit(0L)))
      .head.getLong(0)
    val isBatch = expr(s"doc_id * 5 div ${mx + 1}") === 4
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      TextQueries.explodeBands(
        df.select(col("doc_id"),
            minhash_signature(col("text"), 3).as("sig"))
          .filter(col("sig").isNotNull))
    val baseBands = bandsOf(docs.filter(!isBatch)).persist()
    val batchBands = bandsOf(docs.filter(isBatch))
    val basePairs = TextQueries.candidatePairsFromBands(baseBands).persist()
    val np = IncrementalDedup.newPairs(baseBands, batchBands).persist()
    assert(np.count() > 0, "the split must produce new pairs at sf0.001")

    val dir = freshDir()
    val expected = CurationQueries.withDupClusterLabels(spark, basePairs) {
      old =>
        LabelStore.publish(old, basePairs, dir, buckets)
        // the in-memory union fold — the store must equal it exactly
        IncrementalDedup.updatedLabels(spark, basePairs, old, np) { upd =>
          upd.select(col("doc_id"), col("rep")).collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSet
        }
    }
    val stats = LabelStore.fold(spark, dir, buckets, np)
    assert(stats.newPairs == np.count())
    assert(stats.bytesWritten > 0 && stats.labelsWritten > 0)

    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(asSet(LabelStore.labels(spark, dir)) == expected,
      "folded byRep store must equal the union fold row-for-row")
    assert(asSet(LabelStore.labelsByDoc(spark, dir)
        .select(col("doc_id"), col("rep"))) == expected,
      "the doc-keyed twin must carry identical rows")
    // the pair table is the full closure input: base pairs ∪ new
    // pairs, each tagged with its (post-fold) component label
    val pairRows = LabelStore.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expectedPairs = (basePairs.collect().toSeq ++ np.collect().toSeq)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairRows.map(t => (t._1, t._2)).toSet == expectedPairs,
      "pair set drift after fold")
    val lbl = expected.toMap
    assert(pairRows.forall(t => lbl(t._1) == t._3 && lbl(t._2) == t._3),
      "every pair must carry its component's converged label")
    baseBands.unpersist(); basePairs.unpersist(); np.unpersist()
  }

  test("fold rewrites only touched buckets: untouched byte-identical, emptied deleted") {
    import spark.implicits._
    val buckets = 4
    // components: {1,2}→1 (bucket 1), {7,11}→7 (bucket 3),
    // {8,12}→8 (bucket 0, untouched by the fold)
    val labels = Seq((1L, 1L), (2L, 1L), (7L, 7L), (11L, 7L),
      (8L, 8L), (12L, 8L)).toDF("doc_id", "rep")
    val pairs = Seq((1L, 2L), (7L, 11L), (8L, 12L)).toDF("da", "db")
    val dir = freshDir()
    LabelStore.publish(labels, pairs, dir, buckets)

    def snapshot(table: String, b: Long): Seq[(String, Long)] = {
      val p = Paths.get(dir, table, s"_cb=$b")
      if (!Files.exists(p)) Seq.empty
      else {
        val st = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(Files.isRegularFile(_))
            .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
            .toSeq.sortBy(_._1)
        } finally st.close()
      }
    }
    val untouchedBefore = snapshot("byRep", 0L)
    assert(untouchedBefore.nonEmpty, "bucket 0 must exist before the fold")

    // batch doc 100 BRIDGES components 1 and 7 → merged rep = 1;
    // rep 7's bucket (3) must end up EMPTY and be removed
    val np = Seq((2L, 100L), (7L, 100L)).toDF("da", "db")
    val stats = LabelStore.fold(spark, dir, buckets, np)
    assert(stats.touchedReps == 2, "both brushed components counted")

    val got = LabelStore.labels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 11L -> 1L,
      100L -> 1L, 8L -> 8L, 12L -> 8L))
    assert(got == LabelStore.labelsByDoc(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // emptied bucket removed, not left stale
    assert(!Files.exists(Paths.get(dir, "byRep", "_cb=3")),
      "rep 7's bucket merged away — its dir must be deleted")
    assert(!Files.exists(Paths.get(dir, "pairs", "_cb=3")))
    // untouched bucket: same files, untouched on disk
    assert(snapshot("byRep", 0L) == untouchedBefore,
      "bucket 0 was not part of the fold and must not be rewritten")
    // the merged component's pairs all live under its new rep bucket
    val pr = LabelStore.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pr == Set((1L, 2L, 1L), (7L, 11L, 1L), (2L, 100L, 1L),
      (7L, 100L, 1L), (8L, 12L, 8L)))
  }

  test("merge-free fold is append-only: zero buckets swapped, delta rows land") {
    import spark.implicits._
    val buckets = 4
    val dir = freshDir()
    LabelStore.publish(
      Seq((1L, 1L), (2L, 1L), (8L, 8L)).toDF("doc_id", "rep"),
      Seq((1L, 2L)).toDF("da", "db"), dir, buckets)
    // batch doc 50 EXTENDS component 1 (rep stays the min id 1):
    // nothing is removed anywhere, so no bucket may be rewritten
    val stats = LabelStore.fold(spark, dir, buckets,
      Seq((2L, 50L)).toDF("da", "db"))
    assert(stats.repBucketsRewritten == 0 &&
      stats.docBucketsRewritten == 0,
      s"merge-free fold must not swap any bucket: $stats")
    assert(stats.labelsWritten == 1 && stats.pairsWritten == 1,
      s"exactly the delta row and the new pair append: $stats")
    assert(LabelStore.labels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 2L -> 1L, 50L -> 1L, 8L -> 8L))
    assert(LabelStore.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == Set((1L, 2L, 1L), (2L, 50L, 1L)))
    assert(LabelStore.labelsByDoc(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 2L -> 1L, 50L -> 1L, 8L -> 8L))
    // compaction folds the delta segments into the bucket layout:
    // same content, no _delta left behind
    LabelStore.compact(spark, dir, buckets)
    Seq("byRep", "byDoc", "pairs").foreach(t =>
      assert(!java.nio.file.Files.exists(
        Paths.get(dir, t, "_delta")), s"$t delta must be compacted away"))
    assert(LabelStore.labels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(1L -> 1L, 2L -> 1L, 50L -> 1L, 8L -> 8L))
    assert(LabelStore.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == Set((1L, 2L, 1L), (2L, 50L, 1L)))
  }

  test("empty new-pair fold is a no-op") {
    import spark.implicits._
    val dir = freshDir()
    LabelStore.publish(Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "rep"),
      Seq((1L, 2L)).toDF("da", "db"), dir, 4)
    val before = LabelStore.labels(spark, dir).collect().toSeq
    val stats = LabelStore.fold(spark, dir, 4,
      spark.emptyDataset[(Long, Long)].toDF("da", "db"))
    assert(stats == LabelStore.FoldStats(0L, 0L, 0L, 0L, 0, 0, 0L))
    assert(LabelStore.labels(spark, dir).collect().toSeq == before)
  }

  test("re-publish with a different bucket count: layout swaps whole (r16)") {
    import spark.implicits._
    val dir = freshDir()
    LabelStore.publish(Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "rep"),
      Seq((1L, 2L)).toDF("da", "db"), dir, 4)
    assert(LabelStore.bucketsOf(dir).contains(4))
    // a re-publish NEVER overwrites in place: it stages the complete
    // new layout and claims the next v<N> generation atomically — a
    // crash mid-stage leaves the 4-bucket store fully intact (no
    // mixed-modulus tables, no stale sidecar)
    LabelStore.publish(
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)).toDF("doc_id", "rep"),
      Seq((1L, 2L), (3L, 4L)).toDF("da", "db"), dir, 8)
    assert(LabelStore.bucketsOf(dir).contains(8))
    assert(LabelStore.labels(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // folds against the NEW modulus work; the old one refuses
    intercept[IllegalArgumentException] {
      LabelStore.fold(spark, dir, 4, Seq((2L, 50L)).toDF("da", "db"))
    }
    LabelStore.fold(spark, dir, 8, Seq((2L, 50L)).toDF("da", "db"))
    assert(LabelStore.labels(spark, dir).filter(col("doc_id") === 50L)
      .count() === 1L)
    // crashed re-publish simulation: an unclaimed staging dir with
    // partial data is INVISIBLE to readers (the old generation stays
    // the resolved one), and once stale the next publish sweeps it
    val before = LabelStore.labels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stage = Paths.get(dir, graft.etl.Commit.StageDir, "deadbeef")
    Files.createDirectories(stage.resolve("byRep"))
    Files.setLastModifiedTime(stage, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2 * graft.etl.Commit.StaleStageMs))
    assert(LabelStore.bucketsOf(dir).contains(8))
    assert(LabelStore.labels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet === before)
    LabelStore.publish(Seq((9L, 9L)).toDF("doc_id", "rep"),
      Seq.empty[(Long, Long)].toDF("da", "db"), dir, 8)
    assert(!Files.exists(stage), "next publish must sweep stale stages")
    assert(LabelStore.labels(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set(9L -> 9L))
  }

  test("bucket-count sidecar: mismatched callers fail fast, matching pass (r14)") {
    import spark.implicits._
    val dir = freshDir()
    LabelStore.publish(Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "rep"),
      Seq((1L, 2L)).toDF("da", "db"), dir, 8)
    assert(LabelStore.bucketsOf(dir).contains(8))
    // a wrong modulus would silently prune the wrong _cb=/_db= dirs —
    // the store must refuse instead
    val np = Seq((2L, 50L)).toDF("da", "db")
    intercept[IllegalArgumentException] {
      LabelStore.fold(spark, dir, 16, np)
    }
    intercept[IllegalArgumentException] {
      LabelStore.forget(spark, dir, 4, Seq(1L).toDF("doc_id"))
    }
    intercept[IllegalArgumentException] {
      LabelStore.compact(spark, dir, 32)
    }
    // the recorded count still works end to end
    val stats = LabelStore.fold(spark, dir, 8, np)
    assert(stats.labelsWritten == 1)
  }

  test("compact on a store whose base buckets were all forgotten away (delta only) (r14)") {
    import spark.implicits._
    val buckets = 4
    val dir = freshDir()
    LabelStore.publish(Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "rep"),
      Seq((1L, 2L)).toDF("da", "db"), dir, buckets)
    // erase the only component: every base bucket dir is removed
    val st = LabelStore.forget(spark, dir, buckets,
      Seq(1L, 2L).toDF("doc_id"))
    assert(st.labeledDocs == 2L && st.newComponents == 0L)
    // fold a fresh pair: it lands as delta segments only
    LabelStore.fold(spark, dir, buckets, Seq((10L, 20L)).toDF("da", "db"))
    // compact used to throw 'Unable to infer schema' on the empty
    // base read — with explicit schemas it folds the delta into the
    // bucket layout
    LabelStore.compact(spark, dir, buckets)
    Seq("byRep", "byDoc", "pairs").foreach(t =>
      assert(!Files.exists(Paths.get(dir, t, "_delta")),
        s"$t delta must be compacted away"))
    assert(LabelStore.labels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
      == Map(10L -> 10L, 20L -> 10L))
    assert(LabelStore.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      == Set((10L, 20L, 10L)))
  }

  test("forget: bridge split, rep re-election, erasure; untouched byte-identical (r13)") {
    import spark.implicits._
    val buckets = 4
    // {1,2,3,4,5} rep 1 via (1,2),(2,3),(1,4),(3,5) — doc 2 BRIDGES
    // {1,4} and {3,5}; {8,12} rep 8 lives in byRep bucket 0, never
    // touched by the first forget
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (8L, 8L), (12L, 8L)).toDF("doc_id", "rep")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 4L), (3L, 5L), (8L, 12L))
      .toDF("da", "db")
    val dir = freshDir()
    LabelStore.publish(labels, pairs, dir, buckets)

    def snapshot(table: String, b: Long): Seq[(String, Long)] = {
      val p = Paths.get(dir, table, s"_cb=$b")
      if (!Files.exists(p)) Seq.empty
      else {
        val st = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(Files.isRegularFile(_))
            .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
            .toSeq.sortBy(_._1)
        } finally st.close()
      }
    }
    val before0 = snapshot("byRep", 0L)
    assert(before0.nonEmpty)

    // forgetting a doc with no label row is a label-store no-op
    val nop = LabelStore.forget(spark, dir, buckets,
      Seq(999L).toDF("doc_id"))
    assert(nop == LabelStore.ForgetStats(1L, 0L, 0L, 0L, 0L))

    // forget the bridge: the component must SPLIT into {1,4} and
    // {3,5}, each re-electing its min-id rep
    val st = LabelStore.forget(spark, dir, buckets,
      Seq(2L).toDF("doc_id"))
    assert(st.labeledDocs == 1L && st.touchedReps == 1L &&
      st.newComponents == 2L, s"unexpected $st")
    val got = LabelStore.labels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 4L -> 1L, 3L -> 3L, 5L -> 3L,
      8L -> 8L, 12L -> 8L), s"split labels wrong: $got")
    assert(got == LabelStore.labelsByDoc(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap,
      "doc-keyed twin drifted")
    val pr = LabelStore.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pr == Set((1L, 4L, 1L), (3L, 5L, 3L), (8L, 12L, 8L)),
      s"pairs wrong after split: $pr")
    assert(snapshot("byRep", 0L) == before0,
      "the untouched component's byRep bucket was rewritten")

    // whole-component erasure: both members forgotten together
    val st2 = LabelStore.forget(spark, dir, buckets,
      Seq(8L, 12L).toDF("doc_id"))
    assert(st2.labeledDocs == 2L && st2.newComponents == 0L)
    val got2 = LabelStore.labels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 4L -> 1L, 3L -> 3L, 5L -> 3L))
    assert(!Files.exists(Paths.get(dir, "byRep", "_cb=0")),
      "the erased component's base bucket must be removed")
    assert(LabelStore.pairs(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
      Set((1L, 4L, 1L), (3L, 5L, 3L)))
  }

  test("concurrent re-publish mid-fold: loud abort before any mutation, " +
      "superseded generation untouched, retry succeeds (r18)") {
    import spark.implicits._
    val buckets = 4
    val dir = freshDir()
    LabelStore.publish(Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "rep"),
      Seq((1L, 2L)).toDF("da", "db"), dir, buckets)

    // full on-disk snapshot of the base generation's three tables —
    // the abort contract is that NOTHING under them changes
    def snapshot(): Seq[(String, Long, Long)] = {
      val root = Paths.get(dir)
      Seq("byRep", "byDoc", "pairs").flatMap { t =>
        val p = root.resolve(t)
        val st = Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala.filter(Files.isRegularFile(_))
            .map(f => (root.relativize(f).toString, Files.size(f),
              Files.getLastModifiedTime(f).toMillis)).toSeq
        } finally st.close()
      }.sortBy(_._1)
    }
    val before = snapshot()
    assert(before.nonEmpty)

    // the race, injected deterministically at the worst instant: a
    // RE-publish claims generation v1 immediately before the fold's
    // first directory mutation (the scan-snapshot witness window the
    // VectorStore.retrain enforcement closes on its side)
    LabelStore.beforeMutate = () =>
      LabelStore.publish(
        Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "rep"),
        Seq((1L, 2L), (2L, 3L)).toDF("da", "db"), dir, buckets)
    val err =
      try intercept[IllegalStateException] {
        LabelStore.fold(spark, dir, buckets,
          Seq((2L, 50L)).toDF("da", "db"))
      } finally LabelStore.beforeMutate = () => ()
    assert(err.getMessage.contains("concurrent re-publish"),
      s"race must abort with the generation message: ${err.getMessage}")

    // the superseded generation is byte-untouched — the fold's delta
    // was NOT stranded into it
    assert(snapshot() === before,
      "aborted fold must leave the superseded generation untouched")
    // readers resolve the publisher's new generation
    assert(LabelStore.labels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))

    // the documented recovery: retry the fold against the new
    // generation — it lands normally
    val st = LabelStore.fold(spark, dir, buckets,
      Seq((3L, 50L)).toDF("da", "db"))
    assert(st.newPairs === 1L)
    assert(LabelStore.labels(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 50L -> 1L))
  }
}
