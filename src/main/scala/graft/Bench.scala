package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Headline queries only (QuerySpec.bench) — one representative per
    // operator family; correctness of the full surface is Verify's job.
    // SPARK_GRAFT_BENCH_ONLY (comma list of names/prefixes) narrows the
    // timed set for iterating on specific queries WITH the full
    // methodology (warmup, min-of-N passes, calibration stamps) — the
    // driver never sets it, so the default run is unchanged.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val headline = SparkEntry.specs.filter(_._2.bench).keySet
      .filter(n => only.forall(_.exists(n.startsWith)))
    // Deterministic name order (a hash-ordered Map reshuffles neighbors
    // every time a query is added, confounding round-over-round
    // comparisons), with the GC-heavy output-scale queries (q180's 83 s
    // of GC at 100× measurably inflated its shared-pass neighbors:
    // q48 3.2×, q112 2.8× — SURVEY §8 r15) segregated into a TRAILING
    // phase so their heap shadow lands after every other sample.
    val gcHeavy = Set("q180_edit_sim_join")
    val timed = SparkEntry.queries.filter { case (n, _) => headline(n) }
      .toSeq.sortBy { case (n, _) => (gcHeavy(n), n) }
    // Timed action (r21): the NOOP SINK — evaluates every column of
    // every row and discards it (guide §1.4). The previous count()
    // action let the optimizer prune subtrees: a left-join zero-fill
    // whose right side is keyed by its own aggregate is join-ELIMINATED
    // under count(1), so q198/q206 were timing plan overhead, not the
    // query (measured r21: q198's count() optimized plan is literally
    // `Aggregate [count(1)] +- LocalRelation`). This is the
    // measurement-bug fix the r20 verdict pre-authorized; the record
    // carries "action" so cross-round normalization can see the
    // methodology edge (one same-session bridge record with both
    // actions is committed under plans/r21/).
    val action: org.apache.spark.sql.DataFrame => Unit =
      df => df.write.format("noop").mode("overwrite").save()
    val actionName = "noop"
    // Warmup: run every timed query shape once at the smallest SF so
    // codegen compilation + JIT happen outside the timed region (plan
    // shape, and therefore generated code, is SF-independent). Without
    // this the first timed query absorbs multi-second JVM warmup.
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory)
      timed.foreach { case (_, fn) =>
        try action(fn(spark, warmDir)) catch { case _: Throwable => () }
      }
    // `runs` full round-robin passes over the query set (not N
    // back-to-back runs per query): a load spike on the machine then
    // distorts one PASS, not one query's whole sample. Per query the
    // headline number is the MIN across passes — the closest to the
    // machine-noise-free cost — and the median rides along so a
    // round-over-round delta can be attributed to code vs environment.
    // Release everything a query pinned in the shared JVM before the
    // next one is timed: cached DataFrames (q98's mask table) and
    // persisted/localCheckpoint RDD blocks (q82's pointer-doubling
    // rounds). Without this, memory pressure from earlier queries
    // bleeds into later ones — r6 measured q73 1.33× slower in the
    // shared bench while an isolated run matched r5. Runs OUTSIDE the
    // timed region, so each sample is the query's own cost.
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    // Concurrent-load context (the r11 lesson: two same-day sessions
    // disagreed by a uniform 13% — min-of-3 alone cannot separate
    // machine noise from plan regressions). The record carries the
    // 1-min loadavg at the start and end of the timed region plus the
    // JVM GC time spent inside it, so a round-over-round delta can be
    // attributed: uniform drift + elevated load/GC → environment;
    // isolated drift at flat load → the plan changed.
    import scala.jdk.CollectionConverters._
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    def gcMs: Long = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Calibration stamp (the r17 lesson): the r17 driver run was a
    // UNIFORM 1.2–1.4× the builder's same-binary same-morning run and
    // neither load nor gc_ms flagged it — min-of-3 cannot subtract a
    // sustained background load. This times a FIXED, data-independent,
    // IO-free workload (64M-row hash+sum across all cores — the same
    // resource the queries contend for) at the start and end of the
    // timed region; cross-round per-query deltas divide by the
    // calibration ratio before being read as plan changes, and a
    // calibration drift >15% between rounds means re-run, not
    // regression. Min-of-3 keeps the stamp itself noise-resistant.
    def calibrate(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1L << 26)
        .selectExpr("sum(xxhash64(id, id + 1, id * 3)) s").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    // JIT-warm the calibration shape untimed (min-of-3 absorbs the
    // codegen compile but not C2 compilation of the generated class —
    // the first measured stamp otherwise reads ~4× the warm cost and
    // start/end become a JVM-warmup meter instead of a machine-load one)
    for (_ <- 1 to 5)
      spark.range(1L << 26)
        .selectExpr("sum(xxhash64(id, id + 1, id * 3)) s").collect()
    val calibStart = calibrate()
    val loadStart = loadAvg
    val gcStart = gcMs
    val samples = collection.mutable.Map[String, List[Double]]()
      .withDefaultValue(Nil)
    // Load-robust structural counters per query (r20 verdict #2):
    // the number of jobs/tasks a query schedules and its summed
    // executor task time are properties of the PLAN, so noise-vs-real
    // is machine-decidable from the record itself (54 of r20's raw
    // "regressions" needed a calibration narrative; task_ms would have
    // settled them in one field). Counters are attributed to a query
    // by snapshot around its timed action; the action blocks until its
    // jobs complete, so only listener-bus dispatch lag (ms) can leak
    // an event into a neighbor. All three take the MIN across passes,
    // the wall's convention: only sf0.001 is warmed, so a query's
    // first sf0.1 pass also builds its artifacts, and a max would
    // report that build instead of the query (the price: a pass that
    // leaked a trailing event can read a few tasks low). File record
    // only (stdout budget).
    val jobsCtr = new java.util.concurrent.atomic.AtomicLong
    val tasksCtr = new java.util.concurrent.atomic.AtomicLong
    val taskMsCtr = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobsCtr.incrementAndGet()
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasksCtr.incrementAndGet()
          Option(t.taskMetrics).foreach(m =>
            taskMsCtr.addAndGet(m.executorRunTime))
        }
      })
    val jobsMin = collection.mutable.Map[String, Long]()
      .withDefaultValue(Long.MaxValue)
    val tasksMin = collection.mutable.Map[String, Long]()
      .withDefaultValue(Long.MaxValue)
    val taskMsMin = collection.mutable.Map[String, Long]()
      .withDefaultValue(Long.MaxValue)
    def timePass(qs: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)]): Unit = qs.foreach {
      case (name, fn) =>
        release()
        val (j0, k0, m0) = (jobsCtr.get, tasksCtr.get, taskMsCtr.get)
        val t0 = System.nanoTime()
        val ok = try { action(fn(spark, sfDir)); true }
                 catch { case _: Throwable => false }
        // failures are reported as -1, never as a (fast) success
        val t = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        samples(name) = t :: samples(name)
        jobsMin(name) = jobsMin(name) min (jobsCtr.get - j0)
        tasksMin(name) = tasksMin(name) min (tasksCtr.get - k0)
        taskMsMin(name) = taskMsMin(name) min (taskMsCtr.get - m0)
    }
    val (heavy, normal) = timed.partition { case (n, _) => gcHeavy(n) }
    // ALL normal passes complete before the first heavy sample — a
    // per-pass "heavy last" would still put pass N's GC debt under
    // pass N+1's first queries
    for (_ <- 1 to runs) timePass(normal)
    release()
    // mid-phase stamp: machine speed AFTER the normal phase and BEFORE
    // the trailing heavy phase — quantifies the heavy phase's heap/GC
    // shadow on the end stamp (r19: the 100× end stamp drifted
    // 0.097→0.072 in-run and polluted the normalization)
    val calibMid = calibrate()
    System.gc() // settle: the heavy phase owns its own debt
    for (_ <- 1 to runs) timePass(heavy)
    release()
    def agg(f: List[Double] => Double) = samples.toSeq.sortBy(_._1).map {
      case (k, ts) => k -> (if (ts.contains(-1.0)) -1.0 else f(ts))
    }
    val mins = agg(_.min)
    // true median: average the two middle samples when runs is even,
    // else an outlier pass becomes the "median" at exactly runs=2
    val medians = agg { ts =>
      val s = ts.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // Two-channel record (the r8/r10/r12 lesson, THRICE-learned): the
    // driver captures a BOUNDED tail of stdout (~2000 chars), so only
    // the END of what we print is guaranteed to survive — r12 put the
    // total + load/GC stamps at the HEAD of the final line and they
    // were the part the capture lost. Therefore:
    //   1. target/bench_latest.json gets the FULL record (full query
    //      names, min + median per query, totals, runs, sf) — the
    //      machine-readable artifact that is sufficient on its own;
    //      round close copies it to a committed BENCH_DETAIL_r<N>.json
    //      so the durable history never depends on stdout capture;
    //   2. stdout ends with ONE canonical line ordered so the fields
    //      that matter most sit LAST (per-query map first, then sf,
    //      load/GC context, total_median, and finally value): any
    //      tail truncation eats query entries, never the totals. The
    //      per-query map uses short "qNNN" ids (~14 chars/entry), and
    //      if the line ever outgrows ~1900 chars the queries map is
    //      dropped for the file pointer, never truncated mid-JSON.
    //      Medians live in the file only — a second stdout line was
    //      what pushed r12's capture over its budget.
    def r3(v: Double) = if (v == -1.0) "-1" else f"$v%.3f"
    def js(xs: Seq[(String, Double)]) = xs.map { case (k, v) =>
      s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val total = mins.map(_._2).sum
    val totalMed = medians.map(_._2).sum
    // the total WITHOUT the trailing heavy phase (q180 was 1050 s of
    // the r19 100× total of 1459 s — the other queries' scale story
    // must be machine-readable without hand subtraction; r19 verdict #6)
    val totalExHeavy = mins.filterNot { case (k, _) => gcHeavy(k) }
      .map(_._2).sum
    // the end stamp must never cost the run its record: the r20 100×
    // run completed all six passes and then died in THIS call (a
    // post-q180 heartbeat storm stopped the context), losing ~70 min
    // of samples. A failed stamp reports -1 and the record still
    // lands; the normalizer ignores non-positive stamps.
    val calibEnd = try calibrate() catch { case e: Throwable =>
      System.err.println(s"bench: end calibration failed: $e"); -1.0 }
    val ctx = s""""load":[${r3(loadStart)},${r3(loadAvg)}],""" +
      s""""gc_ms":${gcMs - gcStart},"cpus":$cpus,""" +
      s""""calib":[${r3(calibStart)},${r3(calibMid)},${r3(calibEnd)}]"""
    // Calibration-NORMALIZED round-over-round deltas (r18 directive):
    // when SPARK_GRAFT_BENCH_PREV points at a previous bench record
    // (BENCH_DETAIL_r<N>.json / bench_latest.json — must carry "calib"
    // and "queries"), each shared query's min-ratio divides by the
    // calib ratio (machine speed now / machine speed then), turning
    // "is this drift or a regression" from a narrated argument into one
    // computed column: normalized ≈ 1.0 → pure environment;
    // normalized ≫ 1.0 → the plan/code changed.
    //
    // Each side's speed is the MIN of its run's stamps, NOT the mean
    // (r19 verdict #3): the stamps drift IN-RUN when a trailing phase
    // leaves heap/GC shadow (r18's 100× end stamp carried q180's; the
    // mean then under/overstates the machine and the whole column reads
    // as a uniform bogus regression band). Min is the same convention
    // as the per-query min-of-3 — the least-loaded observation of the
    // same machine. An in-run stamp spread >15% on either side is
    // additionally flagged "calib_unstable" — read the column with that
    // caveat. File-record only (stdout budget).
    val normField = sys.env.get("SPARK_GRAFT_BENCH_PREV").flatMap { p =>
      try {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = om.readTree(new java.io.File(p))
        val pc = root.get("calib")
        val prevStamps = (0 until pc.size).map(pc.get(_).asDouble)
          .filter(_ > 0)
        val ourStamps = Seq(calibStart, calibMid, calibEnd)
          .filter(_ > 0)
        val calibRatio = ourStamps.min / prevStamps.min
        val drift = Seq(ourStamps, prevStamps)
          .map(st => st.max / st.min - 1).max
        val pq = root.get("queries")
        val norms = mins.flatMap { case (k, v) =>
          Option(pq.get(k)).map(_.asDouble)
            .filter(pv => pv > 0 && v > 0)
            .map(pv => k -> (v / pv) / calibRatio)
        }
        // a methodology edge (count() vs noop action) must be visible
        // next to the normalized column — deltas across it are not
        // plan changes (a prev record without "action" used count())
        val prevAction = Option(root.get("action")).map(_.asText)
          .getOrElse("count")
        Some(s""""calib_ratio_vs_prev":${f"$calibRatio%.3f"},""" +
          (if (drift > 0.15)
            s""""calib_unstable":${f"$drift%.3f"},""" else "") +
          (if (prevAction != actionName)
            s""""action_changed":"$prevAction->$actionName",""" else "") +
          s""""normalized_delta":${js(norms)},""")
      } catch { case e: Throwable =>
        System.err.println(s"bench: could not normalize vs $p: $e")
        None
      }
    }.getOrElse("")
    // which path the last q210 serve took ("delta"/"full" saturation
    // fallback) — the 100× cell must say WHICH operator it measured
    // (r19 verdict #1); empty when q210 is not in the timed set
    val modeField = {
      val m = graft.analytics.RankHistory.lastServeMode
      if (m.nonEmpty && samples.contains("q210_pagerank_delta_serve"))
        s""""q210_serve_mode":"$m",""" else ""
    }
    // structural counters, aligned with the queries map order
    def jsL(xs: Seq[(String, Long)]) = xs.map { case (k, v) =>
      s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val names = mins.map(_._1)
    def minOf(m: collection.Map[String, Long]) = jsL(names.map(k =>
      k -> (if (m(k) == Long.MaxValue) -1L else m(k))))
    val structField =
      s""""queries_jobs":${minOf(jobsMin)},""" +
      s""""queries_tasks":${minOf(tasksMin)},""" +
      s""""queries_task_ms":${minOf(taskMsMin)},"""
    val full =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$runs,""" +
      s""""sf":"$sfDir","action":"$actionName","total_median":${r3(totalMed)},""" +
      s""""total_ex_q180":${r3(totalExHeavy)},$ctx,$normField$modeField""" +
      s"""$structField""" +
      s""""queries":${js(mins)},"queries_median":${js(medians)}}"""
    val outFile = java.nio.file.Paths.get("target", "bench_latest.json")
    java.nio.file.Files.createDirectories(outFile.getParent)
    java.nio.file.Files.write(outFile,
      (full + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // short ids: the leading qNNN token of each query name; falls back
    // to the full name if a name has no qNNN prefix or ids collide
    val shortId = {
      val ids = mins.map { case (k, _) => k -> "^q\\d+".r.findFirstIn(k).getOrElse(k) }
      val counts = ids.groupBy(_._2).view.mapValues(_.size).toMap
      ids.map { case (k, id) => k -> (if (counts(id) == 1) id else k) }.toMap
    }
    def shorten(xs: Seq[(String, Double)]) =
      xs.map { case (k, v) => shortId(k) -> v }.sortBy(_._1)
    // tail-survivable field order: queries first, totals LAST
    def tailLine(queriesField: String) =
      s"""{"metric":"total","unit":"sec","runs":$runs,$queriesField""" +
      s""""sf":"$sfDir",$ctx,"total_median":${r3(totalMed)},""" +
      s""""value":${r3(total)}}"""
    val minLine = tailLine(s""""queries":${js(shorten(mins))},""")
    println(s"""{"metric":"bench_file","path":"${outFile.toString}"}""")
    if (minLine.length <= 1900) println(minLine)
    else println(tailLine(s""""queries_file":"${outFile.toString}","""))
    spark.stop()
  }
}
