package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{AttributionStream, BucketedStateStore,
  FunnelStream, RollupStream, Scd2Stream}

/** Per-batch cost of the versioned FOLD-STATE stores as the STORED
  * STATE grows — the [[IncrementalBench]] method applied to the four
  * streaming fold stores (attribution, funnel, SCD2, rollup), closing
  * the r16 measurement gap: q197's bench fixture folds corpus-THIRDS
  * (each fold is ~a full-scale replay by construction), so its 100×
  * cell said nothing about the production regime where a micro-batch
  * is a sliver of the user population. This measures exactly that
  * regime: SLIVER batches (100 / 1000 users) folded into state scaled
  * ×1 / ×10 / ×100 / ×1000, expecting per-fold wall time and bytes
  * written to track the BATCH (flat in state size), not the store.
  *
  *   runMain graft.tools.FoldBench [multiples] [batchSizes] [baseUsers]
  *   (defaults: 1,10,100,1000  100,1000  10000)
  *
  * Method: state is GENERATED directly at each scale (one stored row
  * per user with valid fold invariants — frontier, prefix counts,
  * floors, open intervals), published as `v0` of a
  * [[BucketedStateStore]] (untimed — production already has it on
  * disk), then each (M, B) cell times `foldBatch(id = 1)` over `reps`
  * repetitions taking the min. Replay idempotence makes repetition
  * free: every rep re-reads `v0` and overwrites its own `v1` — no
  * store copy needed. Bucket count scales with the store (the
  * LabelStore layout rule, ~2k users per bucket, clamped [64, 4096])
  * so per-bucket IO stays constant as the store grows; `wr` is the
  * publication's staged bytes ([[BucketedStateStore.FoldStats]]),
  * `store` the full `v0` size a whole-state rewrite (the r16 layout)
  * would have paid instead — the wr≪store gap IS the r17 fix's
  * measured value. */
object FoldBench {

  private val T0 = 1700000000000000L // µs
  private val T1 = T0 + 10000000L    // strictly after every frontier

  def main(a: Array[String]): Unit = {
    val multiples = (if (a.length > 0) a(0) else "1,10,100,1000")
      .split(",").map(_.toInt).toSeq
    val batchSizes = (if (a.length > 1) a(1) else "100,1000")
      .split(",").map(_.toInt).toSeq
    val baseUsers = if (a.length > 2) a(2).toLong else 10000L
    val reps = 3
    val s = graft.GraftSession.create()
    s.sparkContext.setLogLevel("WARN")
    val tmp = java.nio.file.Files.createTempDirectory("graft-foldbench")

    def bucketsFor(n: Long): Int = {
      var p = 64
      while (p < n / 2048 && p < 4096) p *= 2
      p
    }

    def timeMin(f: => BucketedStateStore.FoldStats)
        : (Double, BucketedStateStore.FoldStats) = {
      var best = Double.MaxValue
      var stats: BucketedStateStore.FoldStats = null
      for (_ <- 1 to reps) {
        val t0 = System.nanoTime()
        stats = f
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (best, stats)
    }

    def dirKb(p: java.nio.file.Path): Long = {
      val st = java.nio.file.Files.walk(p)
      try st.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum() / 1024
      finally st.close()
    }

    /** Publish `state` as the store's complete v0 (every bucket
      * owned), returning (storeDir, buckets, storeKb). */
    def seed(name: String, m: Int, state: DataFrame, n: Long,
             keyCols: Seq[String]): (String, Int, Long) = {
      val buckets = bucketsFor(n)
      val dir = tmp.resolve(s"${name}_x$m")
      BucketedStateStore.publish(state, dir, 0L, None,
        0 until buckets, keyCols, buckets)
      (dir.toString, buckets, dirKb(dir))
    }

    // sliver users spread evenly across the id range (and therefore
    // across buckets — the worst case for touched-bucket count)
    def sliverIds(n: Long, b: Int): DataFrame =
      s.range(b).select((col("id") * (n / b)).as("user"))

    for (m <- multiples) {
      val n = baseUsers * m

      // ── attribution: one annotated touch row per user ──
      val attrState = s.range(n).select(
        col("id").as("user"),
        (lit(T0) + col("id") % 1000).as("ts"),
        lit("click").as("channel"),
        col("id").as("tie"),
        lit(1L).as("idx"),
        lit(1L).as("cum_click"),
        lit(0L).as("cum_view"))
      val (attrDir, aB, aKb) = seed("attr", m, attrState, n, Seq("user"))

      // ── funnel: signup floor + frontier per user ──
      val funnelState = s.range(n).select(
        col("id").as("user"),
        (lit(T0) + col("id") % 1000).as("f_signup"),
        lit(null).cast("long").as("f_click"),
        lit(null).cast("long").as("f_purchase"),
        (lit(T0) + col("id") % 1000).as("frontier"),
        array(lit("signup")).as("frontier_steps"))
      val (funDir, fB, fKb) = seed("funnel", m, funnelState, n, Seq("user"))

      // ── scd2: one open current version per key ──
      val scdState = s.range(n).select(
        col("id").as("k"),
        lit("2020-01-01").as("vf"),
        lit(0L).as("ck"),
        lit("A").as("st"),
        lit(null).cast("string").as("valid_to_seq"),
        lit(1).as("is_current"))
      val (scdDir, sB, sKb) = seed("scd2", m, scdState, n, Seq("k"))

      // ── rollup: one finest-grain group row per key ──
      val rollState = s.range(n).select(
        col("id").as("g"), lit(100L).as("sc"),
        lit(5L).as("cnt"), lit(50L).as("mx"))
      val (rolDir, rB, rKb) = seed("rollup", m, rollState, n, Seq("g"))

      /** Bounded sidecar seeded as raw-id `v0` (the tiny half of the
        * markov/decay two-store folds — full rewrite per batch IS
        * batch-proportional there). */
      def seedSidecar(name: String, df: DataFrame): String = {
        val dir = tmp.resolve(s"${name}_x$m")
        java.nio.file.Files.createDirectories(dir)
        df.coalesce(1).write.mode("overwrite")
          .parquet(dir.resolve("v0").toString)
        dir.toString
      }

      // ── markov: one chain frontier row per user + cell counts ──
      val mkFrontier = s.range(n).select(
        col("id").as("user"),
        (lit(T0) + col("id") % 1000).as("ts"),
        col("id").as("tie"),
        lit("click").as("st"))
      val (mkDir, mB, mKb) = seed("markov", m, mkFrontier, n, Seq("user"))
      import s.implicits._
      val mkCells = seedSidecar("mkcells",
        Seq(("S", "click", n), ("click", "NULL", n))
          .toDF("from_st", "to_st", "n"))

      // ── decay: one horizon touch row per user + channel totals ──
      val dcHorizon = s.range(n).select(
        col("id").as("user"),
        (lit(T0) + col("id") % 1000).as("ts"),
        lit("click").as("channel"),
        col("id").as("tie"))
      val (dcDir, dB, dKb) = seed("decay", m, dcHorizon, n, Seq("user"))
      val dcTotals = seedSidecar("dctotals",
        Seq(("click", 65536L * n, n), ("view", 0L, 0L))
          .toDF("channel", "decay_w", "n_weighted"))

      // ── graph: one weighted edge row per node (the r18 EdgeFold
      // state — src-keyed, so the sliver batch's sources pick the
      // touched buckets exactly like the user-keyed stores) ──
      val egState = s.range(n).select(
        col("id").as("src"), ((col("id") + 1) % n).as("dst"),
        lit(3L).as("w"))
      val (egDir, eB, eKb) = seed("edges", m, egState, n, Seq("src"))

      for (b <- batchSizes.map(_ min n.toInt)) {
        val ids = sliverIds(n, b)

        val attrBatch = ids
          .select(col("user"), lit(T1).as("ts"),
            lit("view").as("channel"), (col("user") + 1L).as("tie"))
          .unionByName(ids.select(col("user"),
            lit(T1 + 1).as("ts"), lit("purchase").as("channel"),
            (col("user") + 2L).as("tie")))
        val credits = tmp.resolve(s"credits_x${m}_$b").toString
        val (tA, stA) = timeMin {
          AttributionStream.foldBatch(attrBatch, 1L,
            Seq("click", "view"), "purchase", 86400000000L,
            attrDir, credits, aB)
        }

        val funBatch = ids.select(col("user"),
          lit(T1).as("ts"), lit("click").as("step"))
        val (tF, stF) = timeMin {
          FunnelStream.foldBatch(funBatch, 1L,
            Seq("signup", "click", "purchase"), 365L * 86400000000L,
            funDir, fB)
        }

        val scdBatch = ids.select(col("user").as("k"),
          lit("2021-01-01").as("vf"), lit(1L).as("ck"),
          lit("B").as("st"))
        val (tS, stS) = timeMin {
          Scd2Stream.foldBatch(scdBatch, 1L, Seq("k"),
            Seq("vf", "ck"), Seq("st"), scdDir, compress = true, sB)
        }

        val rolBatch = ids.select(col("user").as("g"),
          lit(7L).as("cents"))
        import graft.operators.CascadedRollup.{sum_, count_, max_}
        val (tR, stR) = timeMin {
          RollupStream.foldBatch(rolBatch, 1L, Seq("g"),
            Seq(sum_("cents", "sc"), count_("cnt"), max_("cents", "mx")),
            rolDir, rB)
        }

        // markov/decay fold the SAME raw-event batch their stream
        // twins receive (touches + conversions per user)
        val (tM, stM) = timeMin {
          AttributionStream.foldMarkovBatch(attrBatch, 1L,
            Seq("click", "view"), "purchase", mkDir, mkCells, mB)
        }
        val (tD, stD) = timeMin {
          AttributionStream.foldDecayBatch(attrBatch, 1L,
            Seq("click", "view"), "purchase", 86400000000L,
            dcDir, dcTotals, dB)
        }

        // new parallel edges on the sliver's sources (weight folds)
        val edgeBatch = ids.select(col("user").as("src"),
          ((col("user") + 1) % n).as("dst"))
        val (tE, stE) = timeMin {
          graft.analytics.EdgeFold.fold(edgeBatch, 1L, egDir, eB)
        }

        println(f"[foldw] M=$m%-5d B=$b%-5d users=$n%-9d " +
          f"attr=$tA%6.2fs wr=${stA.bytesWritten / 1024}%-6dKB " +
          f"tb=${stA.touched}%-5d(of $aB%d, store=${aKb}KB) " +
          f"funnel=$tF%6.2fs wr=${stF.bytesWritten / 1024}%-6dKB " +
          f"tb=${stF.touched}%-5d(of $fB%d, store=${fKb}KB)")
        println(f"[foldw]                              " +
          f"scd2=$tS%6.2fs wr=${stS.bytesWritten / 1024}%-6dKB " +
          f"tb=${stS.touched}%-5d(of $sB%d, store=${sKb}KB) " +
          f"rollup=$tR%6.2fs wr=${stR.bytesWritten / 1024}%-6dKB " +
          f"tb=${stR.touched}%-5d(of $rB%d, store=${rKb}KB)")
        println(f"[foldw]                              " +
          f"markov=$tM%6.2fs wr=${stM.bytesWritten / 1024}%-6dKB " +
          f"tb=${stM.touched}%-5d(of $mB%d, store=${mKb}KB) " +
          f"decay=$tD%6.2fs wr=${stD.bytesWritten / 1024}%-6dKB " +
          f"tb=${stD.touched}%-5d(of $dB%d, store=${dKb}KB)")
        println(f"[foldw]                              " +
          f"edges=$tE%6.2fs wr=${stE.bytesWritten / 1024}%-6dKB " +
          f"tb=${stE.touched}%-5d(of $eB%d, store=${eKb}KB)")
      }
    }
    s.stop()
    graft.etl.Commit.deleteRecursively(tmp)
  }
}
