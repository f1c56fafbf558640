package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-batch cost of the INCREMENTAL dedup fold (q119 probe + q165
  * fold) as the corpus index grows — the measurement behind the
  * "per-batch cost independent of corpus size" claim, which through
  * round 11 was spec-proven for correctness but never timed.
  *
  *   runMain graft.tools.IncrementalBench <sfDir> [multiples] [batchSizes]
  *   (defaults: /root/testdata/sf0.1  1,10,100,1000  100,1000)
  *
  * Method: the operator's inputs are the ARTIFACTS (band rows, pair
  * set, labels), never the documents, so corpus growth is simulated
  * by replicating the artifacts M× with shifted doc ids and
  * golden-ratio-perturbed band signatures (replica 0 keeps the real
  * signatures; perturbed replicas model DISTINCT content, so the
  * batch's true-duplicate hit set stays the base corpus's — the same
  * reason ScaleUp salts document text). Each (M, B) cell times, over
  * `reps` repetitions taking the min:
  *
  *   - `sketch+probe`: batch minhash sketch + [[graft.text.IncrementalDedup
  *     .newPairs]] against the M-scaled band store (batch bands
  *     broadcast into one shuffle-free index scan + batch-internal
  *     expansion), to the pair count;
  *   - `fold`: [[graft.text.IncrementalDedup.updatedLabels]] over the
  *     M-scaled pair/label artifacts (affected components only), to
  *     the label count;
  *   - `foldw` (r13): the PUBLISH fold — [[graft.text.LabelStore
  *     .fold]] rewriting only the touched partitions of the
  *     hash-partitioned label/pair store, with `wr` the bytes it
  *     wrote and `store` the full store size a naive whole-table
  *     rewrite (what the in-memory union fold implies at publication
  *     time) would have written instead. The fold mutates the store,
  *     so each repetition runs against a fresh file-copy (untimed).
  *
  * The artifact scaling writes are OUTSIDE the timed region — they
  * model corpus state that production already has on disk. */
object IncrementalBench {
  def main(a: Array[String]): Unit = {
    val d = a.headOption.getOrElse("/root/testdata/sf0.1")
    val multiples = (if (a.length > 1) a(1) else "1,10,100,1000")
      .split(",").map(_.toInt).toSeq
    val batchSizes = (if (a.length > 2) a(2) else "100,1000")
      .split(",").map(_.toInt).toSeq
    val reps = 3
    val s = graft.GraftSession.create()
    s.sparkContext.setLogLevel("WARN")
    import graft.text._

    DedupIndexes.buildAll(s, d) // warm base artifacts, untimed
    val baseBands = BandIndex.load(s, d)
    val basePairs = PairIndex.load(s, d)
    val baseLabels = ClusterIndex.load(s, d)

    val K = 1000000000L    // per-replica doc-id shift
    // batch doc-id offset — PROVABLY disjoint from every replica range
    // (the r12 advisor's catch: a fixed 900·K offset collided exactly
    // with replica 900's shifted ids at M=1000, violating newPairs/
    // updatedLabels' disjoint-id precondition and corrupting the fold
    // measurement at the very scale the flat-cost claim rests on).
    // Replica i occupies [i·K, i·K + maxBaseDocId]; one replica past
    // the largest multiple clears them all.
    val OFF = (multiples.max.toLong + 1) * K
    val maxBaseDocId = graft.analytics.Tables.documents(s, d)
      .agg(coalesce(max(col("doc_id")), lit(0L))).head.getLong(0)
    require(maxBaseDocId < K,
      s"base doc ids must fit one replica stride: $maxBaseDocId >= $K")
    require(OFF > (multiples.max.toLong - 1) * K + maxBaseDocId,
      s"batch offset $OFF overlaps replica ${multiples.max - 1}")
    val GOLD = 2654435761L  // signature perturbation per replica
    val tmp = java.nio.file.Files.createTempDirectory("graft-incr")

    /** Replicate with shifted ids; hash columns drift by i·GOLD for
      * i > 0 so replicas model distinct content (no cross-replica or
      * batch-vs-replica collisions beyond the base). One cross join
      * with the replica range — an M-way union's plan would dwarf the
      * work at M=1000. */
    def scale(df: DataFrame, m: Int, idCols: Seq[String],
              hashCols: Seq[String], name: String): DataFrame = {
      val out = tmp.resolve(s"${name}_x$m").toString
      var r = df.crossJoin(
        s.range(m).select(col("id").cast("long").as("_i")))
      idCols.foreach(c => r = r.withColumn(c, col(c) + col("_i") * K))
      hashCols.foreach(c => r = r.withColumn(c, col(c) + col("_i") * GOLD))
      r.drop("_i").write.mode("overwrite").parquet(out)
      s.read.parquet(out)
    }

    def timeMin(f: => Long): (Double, Long) = {
      var best = Double.MaxValue; var v = 0L
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        v = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, v)
    }

    def copyDir(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
      val st = java.nio.file.Files.walk(src)
      try st.forEach { p =>
        val t = dst.resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally st.close()
    }

    val buckets = 4096
    for (m <- multiples) {
      val bandsM = scale(baseBands, m, Seq("doc_id"), Seq("ha", "hb"), "bands")
      val pairsM = scale(basePairs, m, Seq("da", "db"), Nil, "pairs")
      val labelsM = scale(baseLabels, m, Seq("doc_id", "rep"), Nil, "labels")
      // the hash-partitioned twin of the scaled store (untimed build,
      // repartitioned by bucket so the write emits `buckets` files,
      // not tasks × buckets)
      val bandsMP = {
        val out = tmp.resolve(s"bandsp_x$m").toString
        bandsM.withColumn("_bb", pmod(col("ha"), lit(buckets.toLong)))
          .repartition(col("_bb"))
          .write.partitionBy("_bb").parquet(out)
        s.read.parquet(out)
      }
      val nBands = bandsM.count()
      // the hash-partitioned label/pair store (untimed build): the
      // publish-half state production already has on disk. Buckets
      // SCALE with the store (the LabelStore layout rule: a partition
      // is ~one IO unit — here ~128 labels) so a touched-bucket
      // rewrite costs the same at every corpus size; a fixed count
      // would make per-bucket size, and therefore the fold's write,
      // grow linearly with the corpus.
      val nStoreLabels = labelsM.count()
      val storeBuckets = {
        var p = 256
        while (p < nStoreLabels / 128 && p < 4096) p *= 2
        p
      }
      val store0 = tmp.resolve(s"store_x$m")
      LabelStore.publish(labelsM, pairsM, store0.toString, storeBuckets)
      val storeKb = LabelStore.dirBytes(store0) / 1024
      for (b <- batchSizes) {
        val batch = graft.analytics.Tables.documents(s, d)
          .filter(col("text").isNotNull)
          .orderBy("doc_id").limit(b)
          .select((col("doc_id") + OFF).as("doc_id"), col("text"))
        val mh = batch.select(col("doc_id"),
            TextFunctions.minhash_signature(col("text"), 3).as("sig"))
          .filter(col("sig").isNotNull)
        val (tProbe, nPairs) = timeMin {
          IncrementalDedup.newPairs(bandsM, TextQueries.explodeBands(mh))
            .count()
        }
        val (tPruned, nPairsP) = timeMin {
          IncrementalDedup.newPairsPruned(bandsMP,
            TextQueries.explodeBands(mh), buckets).count()
        }
        require(nPairsP == nPairs,
          s"pruned probe drift: $nPairsP != $nPairs")
        // the fold consumes the (pair-scale) new pairs — persisted, as
        // a production fold would, so the probe isn't re-paid per branch
        val np = IncrementalDedup
          .newPairs(bandsM, TextQueries.explodeBands(mh)).persist()
        np.count()
        val (tFold, nLabels) = timeMin {
          IncrementalDedup.updatedLabels(s, pairsM, labelsM, np)(_.count())
        }
        // the PUBLISH fold against a fresh store copy per repetition
        // (LabelStore.fold mutates; the copy is outside the timing)
        var tFoldW = Double.MaxValue
        var stats: LabelStore.FoldStats = null
        for (_ <- 1 to reps) {
          val run = tmp.resolve("store_run")
          graft.etl.Commit.deleteRecursively(run)
          copyDir(store0, run)
          val t0 = System.nanoTime()
          stats = LabelStore.fold(s, run.toString, storeBuckets, np)
          tFoldW = math.min(tFoldW, (System.nanoTime() - t0) / 1e9)
        }
        require(stats.newPairs == nPairs,
          s"store fold saw ${stats.newPairs} pairs, probe saw $nPairs")
        np.unpersist()
        println(f"[incr] M=$m%-5d B=$b%-5d bands=$nBands%-9d " +
          f"probe=$tProbe%6.2fs pruned=$tPruned%6.2fs fold=$tFold%6.2fs " +
          f"foldw=$tFoldW%6.2fs wr=${stats.bytesWritten / 1024}%-7dKB " +
          f"store=$storeKb%-8dKB(p$storeBuckets%d) " +
          f"touched=${stats.touchedReps}%-5d " +
          f"new_pairs=$nPairs%-6d labels=$nLabels%d")
      }
      // ── forget cost (r13): erase 50 base-corpus clustered docs ──
      // `forget` is the label/pair half ([[LabelStore.forget]] on a
      // fresh store copy per rep — expected FLAT: IO ∝ the docs'
      // component sizes); `bscan` is the band half's locate scan
      // (shuffle-free but corpus-LINEAR by design — the band store is
      // laid out for the probe direction; the honest floor, printed
      // not hidden).
      val dForget = baseLabels.select(col("doc_id")).orderBy("doc_id")
        .limit(50)
      var tForget = Double.MaxValue
      var fstats: LabelStore.ForgetStats = null
      for (_ <- 1 to reps) {
        val run = tmp.resolve("store_run")
        graft.etl.Commit.deleteRecursively(run)
        copyDir(store0, run)
        val t0 = System.nanoTime()
        fstats = LabelStore.forget(s, run.toString, storeBuckets, dForget)
        tForget = math.min(tForget, (System.nanoTime() - t0) / 1e9)
      }
      val (tScan, nHitB) = timeMin {
        bandsMP.join(broadcast(dForget), Seq("doc_id"), "left_semi")
          .select(col("_bb")).distinct().count()
      }
      println(f"[incr-forget] M=$m%-5d forget=$tForget%6.2fs " +
        f"fwr=${fstats.bytesWritten / 1024}%-6dKB " +
        f"touched=${fstats.touchedReps}%-4d comps=${fstats.newComponents}%-4d " +
        f"bscan=$tScan%6.2fs hit_bb=$nHitB%d")
    }
    s.stop()
    graft.etl.Commit.deleteRecursively(tmp)
  }
}
