package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField,
  StructType}

import graft.etl.{Commit, DimOps, MergeOps, SilverStore}
import graft.streaming.{AttributionStream, BatchDirSink,
  BucketedStateStore, StreamingNearDup}
import graft.text.{Artifacts, Bm25Store, LabelStore}
import graft.similarity.VectorStore

/** The crash-point spec of [[Commit]]: every store publish path is run
  * once to count its module steps, then, for each step k, re-run from
  * the same before state and stopped at step k by a throw from the
  * module's fault seam. After the store's recovery, every commit unit
  * (one file, one dir, one bucket) must read as exactly its before or
  * its after state (row-multiset hash), no SilverStore surrogate id may
  * be reused, and the next call must succeed. Cross-unit atomicity
  * (a bucketed merge, a LabelStore fold) is out of scope. */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  /** The injected crash: an Error, so neither the module's IOException
    * handlers nor a store's Exception handlers take it. */
  private final class Crash extends Error("injected crash")

  /** One publish path. `setup` builds the before state under a fresh
    * root, `run` is the publish, `recover` the store's own recovery,
    * `units` maps each commit unit to its content hash (absent unit =
    * no key), `kinds` are the module step kinds the run takes, `ids`
    * lists a Silver table's (key, surrogate id). */
  private case class PathCase(name: String,
      setup: Path => Unit,
      run: Path => Unit,
      recover: Path => Unit,
      units: Path => Map[String, String],
      kinds: Set[String],
      ids: Path => Seq[(String, Int)] = _ => Nil)

  private val swapKinds = Set("swap.aside", "swap.in", "swap.drop")

  // ── content hashing ──────────────────────────────────────────────

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def isParquet(f: Path): Boolean = Files.size(f) >= 4 && {
    val in = Files.newInputStream(f)
    try new String(in.readNBytes(4), "US-ASCII") == "PAR1"
    finally in.close()
  }

  /** Wall-clock columns differ between two runs of the same publish. */
  private val volatileCols = Set("date_created", "date_updated")

  private def parquetRows(f: Path): Seq[String] = {
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport
    val reader = ParquetReader.builder(new GroupReadSupport(),
      new org.apache.hadoop.fs.Path(f.toUri)).build()
    try Iterator.continually(reader.read()).takeWhile(_ != null).map { g =>
      val t = g.getType
      (0 until t.getFieldCount)
        .filterNot(i => volatileCols(t.getFieldName(i)))
        .map(i => t.getFieldName(i) + "=" +
          (0 until g.getFieldRepetitionCount(i)).map(j =>
            if (t.getType(i).isPrimitive) g.getValueToString(i, j)
            else g.getGroup(i, j).toString.replace('\n', ' '))
            .mkString("[", ",", "]"))
        .mkString(",")
    }.toList
    finally reader.close()
  }

  /** Row-multiset hash of the data under `p` (a file or a dir): parquet
    * rows and text lines of every visible file, each keyed by its dir
    * relative to `p`. Hidden (`.`) paths, `_`-files (Spark markers,
    * sidecars) and Spark's `_temporary` are not content. */
  private def content(p: Path): String = {
    val files =
      if (Files.isRegularFile(p)) Seq(p)
      else {
        val st = Files.walk(p)
        try st.iterator().asScala.filter(Files.isRegularFile(_)).toList
        finally st.close()
      }
    md5(files.filter { f =>
      val rel = p.relativize(f).asScala.map(_.toString).toSeq
      val name = f.getFileName.toString
      !rel.exists(c => c.startsWith(".") || c == "_temporary") &&
        !name.startsWith("_") && !name.endsWith(".crc")
    }.flatMap { f =>
      val dir = Option(p.relativize(f).getParent).fold("")(_.toString)
      (if (isParquet(f)) parquetRows(f)
       else Files.readAllLines(f).asScala.toSeq).map(dir + "|" + _)
    }.sorted.mkString("\n"))
  }

  /** A sidecar's content: its lines minus `#` comments (Properties
    * stamps a date), order-free. */
  private def sidecar(f: Path): Map[String, String] =
    if (!Files.isRegularFile(f)) Map.empty
    else {
      val bytes = Files.readAllBytes(f)
      val text = new String(bytes, "UTF-8")
      Map(f.getFileName.toString ->
        (if (text.getBytes("UTF-8").sameElements(bytes))
           md5(text.linesIterator.filterNot(_.startsWith("#")).toSeq
             .sorted.mkString("\n"))
         else md5(bytes.map("%02x".format(_)).mkString)))
    }

  /** One unit: `p` itself. */
  private def unit(p: Path, key: String): Map[String, String] =
    if (Files.exists(p)) Map(key -> content(p)) else Map.empty

  /** One unit per child of `dir` whose name starts with `prefix`. */
  private def kids(dir: Path, prefix: String): Map[String, String] =
    Commit.list(dir).filter(_.getFileName.toString.startsWith(prefix))
      .map(c => s"${dir.getFileName}/${c.getFileName}" -> content(c)).toMap

  /** One unit per data file under `dir`, keyed by relative path. */
  private def fileKids(dir: Path): Map[String, String] =
    if (!Files.isDirectory(dir)) Map.empty
    else {
      val st = Files.walk(dir)
      try st.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          !dir.relativize(f).asScala.exists(c =>
            c.toString.startsWith(".") || c.toString.startsWith("_SUCCESS")))
        .map(f => s"${dir.getFileName}/${dir.relativize(f)}" -> content(f))
        .toMap
      finally st.close()
    }

  /** One unit per data file of a segment dir whose file names are
    * random: keyed by content (a file is either there or not). */
  private def segments(dir: Path): Map[String, String] =
    fileKids(dir).values.map(h => s"${dir.getParent.getFileName}/" +
      s"${dir.getFileName}#$h" -> "present").toMap

  // ── the harness ──────────────────────────────────────────────────

  private def fresh(): Path = Files.createTempDirectory("graft-commit")

  private def copyTree(from: Path): Path = {
    val to = fresh()
    val st = Files.walk(from)
    try st.forEach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t)
    } finally st.close()
    to
  }

  private def steps(c: PathCase, root: Path): Seq[String] = {
    val seen = ArrayBuffer.empty[String]
    Commit.beforeStep = s => seen += s
    try c.run(root) finally Commit.beforeStep = _ => ()
    seen.toSeq
  }

  private def crashAt(c: PathCase, root: Path, k: Int): Unit = {
    var i = 0
    Commit.beforeStep = _ => {
      if (i == k) throw new Crash
      i += 1
    }
    try intercept[Crash](c.run(root)) finally Commit.beforeStep = _ => ()
  }

  private def checkIds(c: PathCase, root: Path, ids0: Seq[(String, Int)],
                       where: String): Unit = {
    val ids = c.ids(root)
    assert(ids.map(_._2).distinct.size === ids.size,
      s"$where: surrogate id reused: ${ids.sortBy(_._2)}")
    val now = ids.toMap
    ids0.foreach { case (k, id) =>
      now.get(k).foreach(n => assert(n === id, s"$where: id of $k moved"))
    }
  }

  private def check(c: PathCase): Int = {
    val base = fresh()
    c.setup(base)
    val before = c.units(base)
    val ids0 = c.ids(base)
    val done = copyTree(base)
    val ss = steps(c, done)
    val after = c.units(done)
    assert(ss.toSet === c.kinds, s"${c.name}: steps ${ss.mkString(" ")}")
    assert(after != before, s"${c.name}: the path changed no unit")
    ss.indices.foreach { k =>
      val where = s"${c.name}, crash before step $k (${ss(k)})"
      val r = copyTree(base)
      crashAt(c, r, k)
      c.recover(r)
      val now = c.units(r)
      (before.keySet ++ after.keySet ++ now.keySet).foreach { u =>
        assert(now.get(u) == before.get(u) || now.get(u) == after.get(u),
          s"$where: unit $u is neither its before nor its after state")
      }
      checkIds(c, r, ids0, where)
      c.run(r) // the next call succeeds
      checkIds(c, r, ids0, s"$where, next call")
      Commit.deleteRecursively(r)
    }
    Seq(base, done).foreach(Commit.deleteRecursively)
    ss.size
  }

  // ── the stores' publish paths ────────────────────────────────────

  private def silver(r: Path) = new SilverStore(spark, r.toString)
  private val kv = StructType(Seq(StructField("id", IntegerType),
    StructField("k", StringType), StructField("v", StringType)))
  private def silverIds(r: Path, table: String): Seq[(String, Int)] =
    if (!Files.exists(r.resolve(table))) Nil
    else silver(r).read(table).select("k", "id").collect()
      .map(x => x.getString(0) -> x.getInt(1)).toSeq
  private def merge(r: Path, rows: (String, String)*): Unit =
    MergeOps.mergeBucketed(silver(r), "t", kv, rows.toDF("k", "v"),
      Seq("k"), "id", Seq("v"), nBuckets = 4)
  private def silverUnits(r: Path) =
    kids(r.resolve("t"), "_bucket=") ++
      sidecar(r.resolve("t").resolve(".graft_meta"))

  private def sync(r: Path, keys: String*): Unit =
    DimOps.sync(silver(r), "dim", "id", Seq("k"), keys.toDF("k"))

  private def labels(r: Path) = r.resolve("labels").toString
  private def labelBase(r: Path): Unit =
    LabelStore.publish(
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L), (6L, 5L))
        .toDF("doc_id", "rep"),
      Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("da", "db"), labels(r), 2)
  private def fold(r: Path, pairs: (Long, Long)*): Unit =
    LabelStore.fold(spark, labels(r), 2, pairs.toDF("da", "db"))
  private val labelTables = Seq("byRep" -> "_cb=", "byDoc" -> "_db=",
    "pairs" -> "_cb=")
  /** Bucket dirs + each table's `_delta/`: as one unit when the path
    * re-segments it, else one unit per segment file. */
  private def labelUnits(resegment: Boolean)(r: Path) =
    labelTables.map { case (t, prefix) =>
      val table = java.nio.file.Paths.get(labels(r), t)
      kids(table, prefix) ++
        (if (resegment) unit(table.resolve("_delta"), s"$t/_delta")
         else segments(table.resolve("_delta")))
    }.reduce(_ ++ _)

  private def bm25(r: Path) = r.resolve("bm25").toString
  private def docs(ids: Int*) = ids.map(i =>
    (i.toLong, s"doc$i shared word$i term${i % 3}")).toDF("doc_id", "text")
  private def bm25Units(r: Path) =
    fileKids(r.resolve("bm25").resolve("postings")) ++
      fileKids(r.resolve("bm25").resolve("doclens"))
  private def bm25Buckets(r: Path) =
    kids(r.resolve("bm25").resolve("postings"), "_tb=") ++
      kids(r.resolve("bm25").resolve("doclens"), "_db=")

  private def vectors(r: Path) = r.resolve("vectors").toString
  private def vecs(ids: Range) = ids.map(i => (i.toLong,
    Seq(1f + i % 4, 2f * (i % 3), i.toFloat, 1f))).toDF("vec_id", "embedding")

  private def state(r: Path) = r.resolve("state").toString
  private def stateFold(r: Path, id: Long, keys: Int*): Unit =
    BucketedStateStore.foldBatch(keys.map(k => (k, 1L)).toDF("k", "n"), id,
      state(r), Seq("k"), 4,
      init = _.groupBy("k").agg(sum("n").as("n")),
      fold = (slice, b) => slice.unionByName(b)
        .groupBy("k").agg(sum("n").as("n")))
  private def stateUnits(r: Path) = kids(r.resolve("state"), "v")

  private def markov(r: Path, id: Long, users: Int*): Unit =
    AttributionStream.foldMarkovBatch(users.flatMap(u => Seq(
        (u.toLong, 10L * id + 1, "click", 1L), (u.toLong, 10L * id + 2, "view", 2L),
        (u.toLong, 10L * id + 3, "purchase", 3L)))
      .toDF("user", "ts", "channel", "tie"), id, Seq("click", "view"),
      "purchase", r.resolve("frontier").toString, r.resolve("cells").toString,
      buckets = 4)

  private def sentence(i: Int) =
    s"alpha$i bravo$i charlie$i delta$i echo$i foxtrot$i golf$i hotel$i"
  private def dedup(r: Path, id: Long, docIds: Int*): Unit =
    StreamingNearDup.dedupBatch(
      docIds.map(i => i.toLong -> sentence(i % 5)).toDF("doc_id", "text"),
      id, r.resolve("nd").toString, r.resolve("kept").toString)

  private def sink(r: Path) = r.resolve("sink")
  private def sinkBatch(r: Path, id: Int): Unit =
    Seq(id * 10, id * 10 + 1).toDF("x").write
      .parquet(sink(r).resolve(s"batch=$id").toString)

  private def ring(r: Path): Unit = graft.analytics.EdgeFold.fold(
    (0 until 6).flatMap(i => Seq((i.toLong, ((i + 1) % 6).toLong),
      (((i + 1) % 6).toLong, i.toLong))).toDF("src", "dst"),
    1L, state(r), 4)
  private def history(r: Path): Unit = graft.analytics.RankHistory
    .publish(spark, state(r), r.resolve("hist").toString)

  private val cases: Seq[PathCase] = Seq(
    PathCase("SilverStore.overwrite via DimOps.sync",
      setup = r => sync(r, "a", "b", "c"),
      run = r => sync(r, "c", "d"),
      recover = r => silver(r).recover("dim"),
      units = r => unit(r.resolve("dim"), "dim"),
      kinds = swapKinds,
      ids = r => silverIds(r, "dim")),
    PathCase("SilverStore.commitBuckets + writeMeta via MergeOps.mergeBucketed",
      setup = r => merge(r, (1 to 8).map(i => s"k$i" -> s"v$i"): _*),
      run = r => merge(r, "k1" -> "v1x", "k9" -> "v9"),
      recover = r => silver(r).recover("t"),
      units = silverUnits,
      kinds = swapKinds + "replace",
      ids = r => silverIds(r, "t")),
    PathCase("SilverStore.commitBuckets emptying a bucket via deleteBucketed",
      setup = r => merge(r, (1 to 8).map(i => s"k$i" -> s"v$i"): _*),
      run = r => {
        val st = silver(r)
        val b = st.readBucketed("t", kv).filter(col("k") === "k2")
          .select("_bucket").head.getInt(0)
        MergeOps.deleteBucketed(st, "t", kv, st.readBucketed("t", kv)
          .filter(col("_bucket") === b || col("k") === "k1")
          .select("k"), Seq("k"))
      },
      recover = r => silver(r).recover("t"),
      units = silverUnits,
      kinds = Set("swap.aside", "swap.drop"),
      ids = r => silverIds(r, "t")),
    PathCase("Commit.publish (versioned publication)",
      setup = r => Commit.publish(Seq(1, 2).toDF("x"), r.resolve("pub").toString),
      run = r => Commit.publish(Seq(3).toDF("x"), r.resolve("pub").toString),
      recover = r => Commit.recover(r.resolve("pub")),
      units = r => kids(r.resolve("pub"), "v"),
      kinds = Set("claim")),
    PathCase("Artifacts.materialize",
      setup = r => Files.createDirectories(r.resolve("key")),
      run = r => Artifacts.materialize(r.resolve("key").resolve("art")) { t =>
        Seq(1, 2, 3).toDF("x").write.parquet(t.toString) },
      recover = r => Commit.recover(r.resolve("key")),
      units = r => unit(r.resolve("key").resolve("art"), "art"),
      kinds = Set("claim")),
    PathCase("LabelStore.publish (re-publish claims a generation)",
      setup = labelBase,
      run = r => LabelStore.publish(Seq((7L, 7L), (8L, 7L)).toDF("doc_id", "rep"),
        Seq((7L, 8L)).toDF("da", "db"), labels(r), 2),
      recover = r => LabelStore.recover(labels(r)),
      units = r => kids(r.resolve("labels"), "v") ++
        labelTables.map(t => unit(r.resolve("labels").resolve(t._1), t._1))
          .reduce(_ ++ _),
      kinds = Set("replace", "claim")),
    PathCase("LabelStore.fold, merge-free (delta segments land)",
      setup = labelBase,
      run = r => fold(r, 2L -> 50L),
      recover = r => LabelStore.recover(labels(r)),
      units = labelUnits(resegment = false),
      kinds = Set("swap.in")),
    PathCase("LabelStore.fold, merging (bucket swaps + delta re-segment)",
      setup = r => { labelBase(r); fold(r, 2L -> 50L) },
      run = r => fold(r, 2L -> 3L),
      recover = r => LabelStore.recover(labels(r)),
      units = labelUnits(resegment = true),
      kinds = swapKinds),
    PathCase("LabelStore.forget",
      setup = r => { labelBase(r); fold(r, 2L -> 50L) },
      run = r => LabelStore.forget(spark, labels(r), 2,
        Seq(2L, 5L).toDF("doc_id")),
      recover = r => LabelStore.recover(labels(r)),
      units = labelUnits(resegment = true),
      kinds = swapKinds),
    PathCase("LabelStore.compact",
      setup = r => { labelBase(r); fold(r, 2L -> 50L) },
      run = r => LabelStore.compact(spark, labels(r), 2),
      recover = r => LabelStore.recover(labels(r)),
      units = r => labelTables.map(t =>
        unit(r.resolve("labels").resolve(t._1), t._1)).reduce(_ ++ _),
      kinds = swapKinds),
    PathCase("Bm25Store.foldBatch",
      setup = r => Bm25Store.init(spark, docs(1, 2, 3, 4), bm25(r), 2),
      run = r => Bm25Store.foldBatch(spark, bm25(r), docs(5, 6), 7L),
      recover = r => Bm25Store.recover(bm25(r)),
      units = bm25Units,
      kinds = Set("swap.in")),
    PathCase("Bm25Store.forget",
      setup = r => Bm25Store.init(spark, docs(1, 2, 3, 4), bm25(r), 2),
      run = r => Bm25Store.forget(spark, bm25(r), Seq(2L).toDF("doc_id")),
      recover = r => Bm25Store.recover(bm25(r)),
      units = bm25Buckets,
      kinds = swapKinds),
    PathCase("VectorStore.foldBatch",
      setup = r => VectorStore.init(spark, vecs(0 until 20), vectors(r)),
      run = r => VectorStore.foldBatch(spark, vectors(r), vecs(20 until 22), 3L),
      recover = r => VectorStore.recover(vectors(r)),
      units = r => fileKids(r.resolve("vectors").resolve("lists")),
      kinds = Set("swap.in")),
    PathCase("VectorStore.forget",
      setup = r => VectorStore.init(spark, vecs(0 until 20), vectors(r)),
      run = r => VectorStore.forget(spark, vectors(r), Seq(17L).toDF("vec_id")),
      recover = r => VectorStore.recover(vectors(r)),
      units = r => kids(r.resolve("vectors").resolve("lists"), "_c="),
      kinds = swapKinds),
    PathCase("VectorStore.retrain",
      setup = r => VectorStore.init(spark, vecs(0 until 20), vectors(r)),
      run = r => VectorStore.retrain(spark, vectors(r), vecs(4 until 24)),
      recover = r => VectorStore.recover(vectors(r)),
      units = r => kids(r.resolve("vectors"), "v"),
      kinds = Set("replace", "claim")),
    PathCase("BucketedStateStore.foldBatch",
      setup = r => stateFold(r, 1L, 1, 2, 3),
      run = r => stateFold(r, 2L, 3, 4),
      recover = r => Commit.recover(r.resolve("state")),
      units = stateUnits,
      kinds = Set("swap.in")),
    PathCase("BucketedStateStore.foldBatch replay",
      setup = r => { stateFold(r, 1L, 1, 2, 3); stateFold(r, 2L, 1) },
      run = r => stateFold(r, 2L, 3, 4),
      recover = r => Commit.recover(r.resolve("state")),
      units = stateUnits,
      kinds = swapKinds),
    PathCase("BucketedStateStore.compact + prune",
      setup = r => (1 to 3).foreach(i => stateFold(r, i.toLong, i, i + 1)),
      run = r => {
        BucketedStateStore.compact(spark, state(r), Seq("k"))
        BucketedStateStore.prune(state(r), keep = 1)
      },
      recover = r => Commit.recover(r.resolve("state")),
      units = stateUnits,
      kinds = Set("swap.in", "drop")),
    PathCase("AttributionStream Markov fold (sidecar + user store)",
      setup = r => markov(r, 1L, 1, 2),
      run = r => markov(r, 2L, 2, 3),
      recover = r => Seq("frontier", "cells")
        .foreach(d => Commit.recover(r.resolve(d))),
      units = r => kids(r.resolve("frontier"), "v") ++
        kids(r.resolve("cells"), "v"),
      kinds = Set("swap.in")),
    PathCase("StreamingNearDup.dedupBatch (manifest + bloom sidecars)",
      setup = r => { dedup(r, 0L, 1, 2); dedup(r, 1L, 3, 6) },
      run = r => dedup(r, 2L, 4, 7),
      recover = r => StreamingNearDup.recover(r.resolve("nd").toString),
      units = r => sidecar(r.resolve("nd").resolve("_sb_manifest")) ++
        sidecar(r.resolve("nd").resolve("_bloom")),
      kinds = Set("replace")),
    PathCase("StreamingNearDup.compactState (whole-dir swap)",
      setup = r => (0 until 3).foreach(b => dedup(r, b.toLong, 2 * b, 2 * b + 1)),
      run = r => StreamingNearDup.compactState(spark, r.resolve("nd").toString),
      recover = r => StreamingNearDup.recover(r.resolve("nd").toString),
      units = r => unit(r.resolve("nd"), "nd"),
      kinds = swapKinds + "replace"),
    PathCase("StreamingNearDup layout migration",
      setup = r => Seq((0, 11L, 12L), (1, 13L, 14L)).toDF("band", "ha", "hb")
        .write.parquet(r.resolve("nd").resolve("_batch=0").toString),
      run = r => StreamingNearDup.migrateStateLayout(spark,
        r.resolve("nd").toString),
      recover = r => StreamingNearDup.recover(r.resolve("nd").toString),
      units = r => kids(r.resolve("nd"), "_batch="),
      kinds = swapKinds + "replace"),
    PathCase("BatchDirSink.compact",
      setup = r => (0 to 2).foreach(sinkBatch(r, _)),
      run = r => BatchDirSink.compact(spark, sink(r).toString),
      recover = r => Seq(sink(r), sink(r).resolve("_compacted"))
        .foreach(Commit.recover),
      units = r => kids(sink(r), "batch=") ++
        kids(sink(r).resolve("_compacted"), "v"),
      kinds = Set("claim", "drop")),
    PathCase("RankHistory.publish (GraphIndex history)",
      setup = r => { ring(r); history(r); history(r) },
      run = history,
      recover = r => Commit.recover(r.resolve("hist")),
      units = r => kids(r.resolve("hist"), "v"),
      kinds = Set("claim", "drop"))
  )

  cases.foreach { c =>
    test(s"crash at every module step: ${c.name}") {
      assert(check(c) > 0)
    }
  }

  test("the paths cover every step kind of the module") {
    assert(cases.flatMap(_.kinds).toSet === swapKinds ++
      Set("replace", "claim", "drop"))
  }

}
