package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Scale measurement for [[graft.etl.TableDiff]] — the evidence behind
  * "the row-level pass is churn-scale, not corpus-scale".
  *
  *   runMain graft.tools.DiffBench <sfDir> [multiples] [churn]
  *   (defaults: /root/testdata/sf0.1  1,10,100  200)
  *
  * Method: `orders` replicated M× with shifted keys models a table
  * that grew; `v2` = `v1` with a FIXED number of churned keys
  * (key-hash-sampled so they spread across buckets — the
  * least-prunable churn layout) plus a handful of adds/removes. Both
  * versions are PUBLISHED as `_db=`-partitioned parquet (untimed —
  * the snapshots production already has; bucket count scales with the
  * table, the LabelStore/BandIndex layout rule). Each M cell times,
  * min over reps:
  *
  *   - `diff`: [[graft.etl.TableDiff.diffPartitionedDirs]] end to end
  *     — fingerprint scans (corpus-linear, shuffle-free: the
  *     irreducible "read both versions once" floor), driver compare,
  *     and the row-level join PRUNED to differing buckets (pruning at
  *     the FileIndex — untouched bucket dirs are never read);
  *   - `naive`: the full-outer-join diff of the same two versions
  *     (what the operator replaces) — BOTH versions shuffle.
  *
  * The claim to read off is in the SHUFFLE columns, not wall time:
  * local[32] moves shuffle blocks through memory, so a corpus-scale
  * shuffle costs almost nothing here — on a 1000-executor cluster it
  * is cross-network. `shf` (shuffle-write bytes, task-metrics
  * listener) shows `diff` shuffling ≤ 2·buckets fingerprint rows +
  * the differing buckets' rows (churn-scale) while `naive` shuffles
  * BOTH full versions (corpus-linear); `differing/buckets` ≈ churn/B. */
object DiffBench {

  /** Sums task-level shuffle-write bytes between [[reset]] and
    * [[settle]] (the listener bus is async — settle spins until the
    * counter stops moving). */
  private final class ShuffleMeter extends SparkListener {
    private val w = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) w.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    def reset(): Unit = w.set(0)
    def settle(): Long = {
      var prev = -1L; var cur = w.get; var spins = 0
      while (cur != prev && spins < 50) {
        Thread.sleep(100); prev = cur; cur = w.get; spins += 1
      }
      cur
    }
  }

  def main(a: Array[String]): Unit = {
    val d = a.headOption.getOrElse("/root/testdata/sf0.1")
    val multiples = (if (a.length > 1) a(1) else "1,10,100")
      .split(",").map(_.toInt).toSeq
    val churn = if (a.length > 2) a(2).toInt else 200
    val reps = 3
    val s = graft.GraftSession.create()
    s.sparkContext.setLogLevel("WARN")

    val base = graft.analytics.Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val nBase = base.count()
    val K = 1000000000L
    val tmp = java.nio.file.Files.createTempDirectory("graft-diffbench")

    val meter = new ShuffleMeter
    s.sparkContext.addSparkListener(meter)

    // min wall over reps; shuffle bytes from the last rep (the byte
    // count is deterministic across reps — only wall time jitters)
    def timeMin[T](f: => T): (Double, T, Long) = {
      var best = Double.MaxValue; var v: T = null.asInstanceOf[T]
      var bytes = 0L
      for (_ <- 1 to reps) {
        meter.reset()
        val t0 = System.nanoTime()
        v = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
        bytes = meter.settle()
      }
      (best, v, bytes)
    }

    for (m <- multiples) {
      val rows = nBase * m
      val buckets = {
        var p = 256
        while (p < rows / 4096 && p < 4096) p *= 2
        p
      }
      // vM: m replicas with shifted keys (replica content distinct)
      val reps_ = s.range(m).select(col("id").as("_r"))
      val v1 = base.crossJoin(reps_)
        .select((col("o_orderkey") + col("_r") * K).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"))
      // churn: ~`churn` keys selected by key hash (bucket-spread),
      // plus adds/removes at 1/10 that rate
      val step = math.max(rows / churn, 1L)
      val hk = pmod(xxhash64(col("o_orderkey")), lit(step))
      val v2 = v1.filter(pmod(xxhash64(col("o_orderkey") + 7), lit(step * 10)) =!= 0)
        .withColumn("o_totalprice",
          when(hk === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(v1.filter(
            pmod(xxhash64(col("o_orderkey") + 13), lit(step * 10)) === 0)
          .withColumn("o_orderkey",
            col("o_orderkey") + lit(2000000000000L)))
      // publish both versions bucketed (untimed)
      def publish(df: org.apache.spark.sql.DataFrame, name: String) = {
        val out = tmp.resolve(s"${name}_x$m").toString
        df.withColumn("_db",
            pmod(xxhash64(col("o_orderkey")), lit(buckets.toLong)))
          .repartition(col("_db"))
          .write.mode("overwrite").partitionBy("_db").parquet(out)
        out
      }
      val p1 = publish(v1, "v1")
      val p2 = publish(v2, "v2")

      val (tDiff, stats, bDiff) = timeMin {
        graft.etl.TableDiff.diffPartitionedDirs(s, p1, p2, "_db",
          Seq("o_orderkey"), buckets)._2
      }
      val (tNaive, nNaive, bNaive) = timeMin {
        val a1 = s.read.parquet(p1).drop("_db")
        val a2 = s.read.parquet(p2).drop("_db")
          .withColumnRenamed("o_custkey", "ck2")
          .withColumnRenamed("o_totalprice", "tp2")
        a1.join(a2, Seq("o_orderkey"), "full_outer")
          .filter(col("o_custkey").isNull || col("ck2").isNull ||
            col("o_totalprice") =!= col("tp2"))
          .count()
      }
      val nDiff = stats.added + stats.removed + stats.changed
      require(nDiff == nNaive, s"diff saw $nDiff rows, naive $nNaive")
      println(f"[diff] M=$m%-4d rows=$rows%-10d buckets=$buckets%-5d " +
        f"diff=$tDiff%6.2fs naive=$tNaive%6.2fs " +
        f"shf=${bDiff / 1024}%-8dKB naive_shf=${bNaive / 1024}%-8dKB " +
        f"differing=${stats.differing.size}%-5d " +
        f"changed=${stats.changed}%-5d added=${stats.added}%-4d " +
        f"removed=${stats.removed}%d")
    }
    graft.etl.Commit.deleteRecursively(tmp)
    s.stop()
  }
}
