package perfbench

/** Per-layer metrics from a traced run. Every workload prints every
  * name in [[all]]; a layer the workload never calls reads 0. */
object Layers {
  val queries: Seq[String] = ServeMix.queries

  val all: Seq[(String, String)] = Seq(
    "driver.s_per_op" -> "s",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.task_ms_per_op" -> "ms",
    "spark.cpu_ms_per_op" -> "ms", "spark.gc_ms_per_op" -> "ms",
    "spark.shuffle_write_bytes_per_op" -> "bytes",
    "spark.spill_bytes_per_op" -> "bytes",
    "spark.result_bytes_per_op" -> "bytes",
    "trace.overhead_s_per_op" -> "s", "jvm.live_heap_bytes" -> "bytes",
    "etl.empresa_s" -> "s", "etl.conductor_s" -> "s", "etl.vehiculo_s" -> "s",
    "etl.store_bytes_written_per_file" -> "bytes", "etl.rejects" -> "count",
    "etl.silver_read_s" -> "s", "etl.bytes_stored_per_input_byte" -> "ratio",
    "similarity.search_s" -> "s", "similarity.init_s" -> "s",
    "text.bm25_scored_s" -> "s", "text.bm25_init_s" -> "s",
  ) ++ queries.flatMap { q =>
    Seq(s"analytics.${q}_s" -> "s", s"analytics.${q}_cold_s" -> "s",
      s"analytics.${q}_jobs" -> "count",
      s"analytics.${q}_tasks" -> "count", s"analytics.${q}_task_ms" -> "ms")
  }

  /** Fill every name in [[all]], 0 where `m` has none. */
  def complete(m: Map[String, Double]): Map[String, Metric] = {
    val unknown = m.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    all.map { case (k, u) => k -> Metric(m.getOrElse(k, 0.0), u) }.toMap
  }

  /** Median wall seconds of the spans named `name`. */
  def spanS(spans: Seq[Span], name: String): Double =
    Timing.median(spans.filter(_.name == name).map(s => (s.endMs - s.startMs) / 1e3))

  /** Sum of counters over `span` and all spans nested in it. */
  private def subtree(spans: Seq[Span], l: SpanListener, root: Int): Counters = {
    val kids = spans.groupBy(_.parent)
    val c = new Counters
    def walk(id: Int): Unit = {
      l.bySpan.get(id).foreach(c += _)
      kids.getOrElse(id, Nil).foreach(s => walk(s.id))
    }
    walk(root)
    c
  }

  /** Per-call means of jobs/tasks/task time over the spans named `name`. */
  def callCounters(spans: Seq[Span], l: SpanListener, name: String): Map[String, Double] = {
    val calls = spans.filter(_.name == name)
    val cs = calls.map(s => subtree(spans, l, s.id))
    val n = math.max(1, calls.length).toDouble
    Map("jobs" -> cs.map(_.jobs).sum / n, "tasks" -> cs.map(_.tasks).sum / n,
      "task_ms" -> cs.map(_.taskMs).sum / n)
  }

  /** The driver and Spark layers, per timed operation. Driver time is
    * the part of an operation's wall during which no Spark job ran. */
  def perOp(spans: Seq[Span], l: SpanListener): Map[String, Double] = {
    val ops = spans.filter(_.layer == "op")
    val n = math.max(1, ops.length).toDouble
    val c = new Counters
    ops.foreach(o => c += subtree(spans, l, o.id))
    val jobs = l.jobIntervals.map { case (_, a, b) => (a, b) }.sortBy(_._1)
    val driverS = ops.map { o =>
      var busy = 0L
      var covered = o.startMs
      jobs.foreach { case (a, b) =>
        val s = math.max(a, covered)
        val e = math.min(b, o.endMs)
        if (e > s) { busy += e - s; covered = e }
      }
      (o.endMs - o.startMs - busy) / 1e3
    }.sum
    Map(
      "driver.s_per_op" -> driverS / n,
      "spark.jobs_per_op" -> c.jobs / n, "spark.stages_per_op" -> c.stages / n,
      "spark.tasks_per_op" -> c.tasks / n, "spark.task_ms_per_op" -> c.taskMs / n,
      "spark.cpu_ms_per_op" -> c.cpuMs / n, "spark.gc_ms_per_op" -> c.gcMs / n,
      "spark.shuffle_write_bytes_per_op" -> c.shuffleWriteBytes / n,
      "spark.spill_bytes_per_op" -> c.spillBytes / n,
      "spark.result_bytes_per_op" -> c.resultBytes / n)
  }

  /** Heap still in use after a full collection: what the run keeps
    * live (caches, registries, broadcast state) once its work is done. */
  def liveHeapBytes: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
  }

  /** Bytes under `dir` (files only). */
  def bytesUnder(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
