package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.etl.ZOrder

/** [[graft.etl.ZOrder]] — Morton-curve layout (q171's operator).
  * Pins: the column-expression curve equals a driver bit-interleave;
  * every top-6-bit z-bucket spans ≤ ⅛ of each dimension (+ one
  * scaling step) — the bounded-rectangle property the audit reports;
  * and the actual payoff: after [[ZOrder.writeZOrdered]], a 10% band
  * filter on the non-time dimension materializes a strict fraction
  * of the table's rows (parquet row-group stats pruning) while the
  * time-sorted twin reads 100%. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  private def driverSpread(x: Long): Long = {
    var v = x
    v = (v | (v << 8)) & 0x00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0FL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }

  test("column-expression Morton code equals the driver bit-interleave") {
    val rnd = new scala.util.Random(7)
    val pts = Seq.fill(500)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong)) :+ (0L, 0L) :+ (65535L, 65535L)
    val got = pts.toDF("a", "b")
      .select(col("a"), col("b"), ZOrder.zValue(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    pts.foreach { case (a, b) =>
      val want = driverSpread(a) | (driverSpread(b) << 1)
      assert(got((a, b)) == want, s"z($a, $b)")
    }
  }

  test("every top-6-bit z-bucket spans <= 1/8 of each dimension + a step") {
    val d = "/root/testdata/sf0.001"
    val rows = graft.SparkEntry.queries("q171_zorder_locality")(spark, d)
      .collect()
    assert(rows.length > 8, "the curve must actually cut the space")
    val base = graft.analytics.Tables.orders(spark, d).select(
      col("o_custkey").cast("long").as("ca"),
      datediff(col("o_orderdate").cast("date"),
        lit("1970-01-01").cast("date")).cast("long").as("dy"))
    val mm = base.agg(min("ca"), max("ca"), min("dy"), max("dy"))
      .head
    val (mna, mxa, mnb, mxb) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
    // zb fixes the top 3 bits of each scaled dimension -> a bucket
    // covers <= 1/8 of the scaled range; one scaled unit is
    // <= range/65535 + 1 raw units
    def bound(range: Long) = range / 8 + range / 65535 + 1
    rows.foreach { r =>
      val spanA = r.getAs[Long]("max_cust") - r.getAs[Long]("min_cust")
      val spanB = r.getAs[Long]("max_day") - r.getAs[Long]("min_day")
      assert(spanA <= bound(mxa - mna),
        s"zb=${r.get(0)} customer span $spanA")
      assert(spanB <= bound(mxb - mnb),
        s"zb=${r.get(0)} day span $spanB")
    }
  }

  test("zKey fails loudly when a dimension range >= 2^47 (contract, r15)") {
    val wide = Seq((0L, 0L), (1L << 47, 1L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException] {
      ZOrder.zKey(wide, col("a"), col("b"))
    }
    assert(e.getMessage.contains("2^47"))
  }

  test("zKey on an empty frame keeps the schema contract") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val out = ZOrder.zKey(empty, col("a"), col("b"))
    assert(out.columns.contains("_z"))
    assert(out.count() == 0)
  }

  test("zKey fails loudly on an all-null dimension, naming it (r16)") {
    // min/max ignore nulls — before the guard, an all-null dimA was
    // silently treated as EMPTY (null _z everywhere) and an all-null
    // dimB crashed with a bare NPE at the bounds read
    val nullB = Seq((1L, Option.empty[Long]), (2L, None))
      .toDF("a", "b")
    val ex = intercept[IllegalArgumentException] {
      ZOrder.zKey(nullB, col("a"), col("b"))
    }
    assert(ex.getMessage.contains("all-null") &&
      ex.getMessage.contains("dimB"))
    val nullA = Seq((Option.empty[Long], 1L), (None, 2L))
      .toDF("a", "b")
    val ex2 = intercept[IllegalArgumentException] {
      ZOrder.zKey(nullA, col("a"), col("b"))
    }
    assert(ex2.getMessage.contains("min(dimA)"))
    // BOTH dims all-null on a non-empty frame is the same defect, not
    // an empty frame — min/max ignoring nulls must not fake emptiness
    val nullBoth = Seq((Option.empty[Long], Option.empty[Long]),
      (None, None)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      ZOrder.zKey(nullBoth, col("a"), col("b"))
    }
  }

  test("z-ordered files prune a non-time band filter; time-sorted read it all") {
    val n = 200000
    // user ~ uniform 0..999 decorrelated from ts by a multiplicative
    // scramble; ts = arrival order
    val df = spark.range(n.toLong)
      .select(col("id").as("ts"), ((col("id") * 2654435761L) % 1000)
        .as("user"))
    val root = java.nio.file.Files.createTempDirectory("graft-zorder")
    val zDir = root.resolve("z").toString
    val tDir = root.resolve("t").toString
    ZOrder.writeZOrdered(df, col("user"), col("ts"), zDir, files = 32)
    df.repartitionByRange(32, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(tDir)

    def scannedRows(dir: String): Long = {
      val q = spark.read.parquet(dir)
        .filter(col("user") >= 100 && col("user") <= 199)
      // collect() runs q's OWN QueryExecution, so the scan node's
      // metric below belongs to the plan that actually executed
      // (count() would build a fresh execution and leave it at 0)
      assert(q.collect().length > 0)
      val scan = q.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      scan.metrics("numOutputRows").value
    }
    val zRows = scannedRows(zDir)
    val tRows = scannedRows(tDir)
    // same logical result, radically different IO: the z layout's
    // row-group stats carry tight user bounds, the time layout's span
    // the whole domain
    assert(tRows == n.toLong,
      s"time-sorted layout should materialize every row, got $tRows")
    assert(zRows < n / 2,
      s"z-ordered layout should skip most row groups, got $zRows of $n")
    graft.etl.Commit.deleteRecursively(root)
  }
}
