package graft.tools

import org.apache.spark.sql.functions._

/** Serve-cost-∝-affected-neighborhood evidence for the q210 rank
  * delta-serve (the r18 directive's FoldBench-style cell, applied to
  * the SERVE half): the delta path reads each hop's frontier BUCKETS
  * from the composed bucketed state (partition-pruned — the r20 fix;
  * the r19 implementation streamed the full cached |E| through every
  * hop join and lost to the full serve at every scale, 0.2–0.5×
  * measured) and recomputes O(neighborhood) contributions plus O(|V|)
  * overlay rows, where the full serve pays O(|E|) per iteration.
  *
  *   runMain graft.tools.DeltaServeBench [cliqueCounts] [cliqueSize]
  *   (defaults: 100,1000,10000  64)
  *
  * Method: C disjoint K-cliques (both directions emitted per pair →
  * symmetric weights, the EdgeFold contract): |V| = C·K grows with C,
  * |E| = C·K·(K−1) grows with C, but a sliver inside clique 0 has a
  * ≤3-hop neighborhood of exactly K nodes at EVERY C. Buckets are
  * sized ∝ |E| (rows-per-bucket ≈ constant — the LabelStore sizing
  * rule the delta-serve's scale contract names), so the K-node
  * neighborhood spans ≤ K buckets and hop IO stays ~flat in C while
  * the full serve grows with |E|. Per C: fold the graph (untimed),
  * publish the rank history (untimed — it is the previous full
  * serve), fold a one-pair sliver, then time (min of 3) the DELTA
  * serve vs the FULL maintained serve, both forced by count().
  * `mode` must read "delta" — the hybrid staying under its saturation
  * bar is part of the evidence. Expect the delta column ~flat in C
  * while the full column grows with |E|; the dense-bipartite TPC-H
  * fixture (neighborhood saturates by hop ≤ 3) instead bails to the
  * full serve via the upper-bound pre-check — q210's shared bench
  * cell ≈ q208's, measured and documented rather than hidden. */
object DeltaServeBench {

  def main(a: Array[String]): Unit = {
    val cs = (if (a.length > 0) a(0) else "100,1000,10000")
      .split(",").map(_.toLong).toSeq
    val k = if (a.length > 1) a(1).toInt else 64
    val reps = 3
    val s = graft.GraftSession.create()
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-deltaservebench")

    println(f"${"cliques"}%8s ${"|V|"}%9s ${"|E|"}%10s ${"bkts"}%5s " +
      f"${"delta"}%8s ${"full"}%8s ${"full/delta"}%10s ${"mode"}%6s")
    cs.foreach { c =>
      val store = tmp.resolve(s"state-$c").toString
      val hist = tmp.resolve(s"hist-$c").toString
      val edges = c * k * (k - 1)
      // the delta-serve sizing rule: buckets ∝ |E| (rows-per-bucket
      // ≈ 30k) — with too few buckets a K-node neighborhood spans most
      // of them and pruning reads the whole table; the clamp floor
      // keeps pruning meaningful at the smallest scales
      val buckets = math.min(4096, math.max(256,
        Integer.highestOneBit((edges / 30000L).toInt max 1) * 2))
      // C disjoint K-cliques: node n edges to every clique-mate; each
      // direction arrives from its own source row — symmetric by
      // construction, generated distributed (no driver materialization)
      val graph = s.range(c * k)
        .withColumn("j", explode(sequence(lit(0), lit(k - 1))))
        .filter(col("j") =!= col("id") % k)
        .select(col("id").as("src"),
          ((col("id") - col("id") % k) + col("j")).as("dst"))
      graft.analytics.EdgeFold.fold(graph, 1L, store, buckets)
      graft.analytics.RankHistory.publish(s, store, hist)
      val sliver = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
      graft.analytics.EdgeFold.fold(sliver, 2L, store, buckets)
      val changed = sliver.select(col("src")).distinct()

      def timeMin(f: => Long): Double = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      }.min

      val tDelta = timeMin(
        graft.analytics.RankHistory.withDeltaServedRanks(
          s, store, hist, changed)(_.count()))
      val mode = graft.analytics.RankHistory.lastServeMode
      val tFull = timeMin(
        graft.analytics.ExtendedQueries.withMaintainedPagerankRanks(
          s, store)(_.count()))
      println(f"$c%8d ${c * k}%9d $edges%10d $buckets%5d " +
        f"$tDelta%7.2fs $tFull%7.2fs ${tFull / tDelta}%9.1fx $mode%6s")
    }
    graft.etl.Commit.deleteRecursively(tmp)
    s.stop()
  }
}
