package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory for the engine.
  *
  * Config stance (scale-aware, see SURVEY.md §4):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join
  *    handling is the 100 TB safety net; locally it trims empty tasks.
  *  - `ansi=false`: the reference's JS semantics are "garbage -> null",
  *    never "garbage -> error" (`utils/parser.ts`, `utils/date.ts`);
  *    library code still uses `try_cast`/`try_to_date` explicitly so it
  *    stays correct under either setting.
  *  - UTC session TZ: all reference timestamps are UTC
  *    (`model.sql:18-19` `now() AT TIME ZONE 'UTC'`), and the DuckDB
  *    oracle compares in UTC.
  *  - shuffle partitions default to cores locally; a real cluster
  *    deployment overrides via `--conf` (AQE re-coalesces anyway).
  */
object GraftSession {
  def builder(master: String = s"local[${Runtime.getRuntime.availableProcessors}]",
              shufflePartitions: Int = Runtime.getRuntime.availableProcessors)
      : SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      // older harness events.parquet carried TIMESTAMP(NANOS), which
      // parquet-mr maps to no Spark type; read those as Long (ns since
      // epoch). Harmless for µs-typed files (Tables.tsUs handles both).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // dirty-heap containment (r17): bound every single Tungsten
      // allocation (pages; sorter pointer arrays via forced spill at
      // 16 M elements) to ~128 MB so output-quadratic operators (q180)
      // survive a long-lived, fragmented JVM heap — three full Bench
      // passes used to make q180's 1 GiB single allocations fail even
      // with free memory.
      .config("spark.buffer.pageSize", "16m")
      .config("spark.shuffle.spill.numElementsForceSpillThreshold",
        (16 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")

  def create(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(spark)
    // ad-hoc runtime conf for the measurement tools (QueryBench & co):
    // SPARK_GRAFT_CONF="k=v;k2=v2" — e.g. disabling auto-broadcast to
    // price a plan in its past-the-ceiling regime
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';')
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    spark
  }

  /** Apply graft defaults to an externally-created session. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.functions.GraftFunctions.register(spark)
    spark
  }
}
