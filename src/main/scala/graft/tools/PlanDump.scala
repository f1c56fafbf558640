package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

/** Dump `.explain("formatted")` output for declared queries to files —
  * the optimization-round evidence artifact (plans/r<N>/<q>_before.txt
  * / _after.txt; the judge reads these instead of running Spark).
  *
  * `runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1[,q2,…]|bench]`
  *
  * Each query's OWN plan is executed first, rows discarded
  * ([[finalPlan]]), so AQE finalizes and the formatted text is the plan
  * that actually ran (`isFinalPlan=true`: final shuffle reads,
  * runtime-chosen join strategies); it is written as
  * `<outDir>/<query>_<suffix>.txt`. A comma list selects by exact name
  * or prefix ([[QueryBench.select]]); `bench` selects the
  * bench-flagged headline set. */
object PlanDump {

  /** Execute `df`'s own QueryExecution (an action such as count()
    * would plan and run a different one, leaving this plan's AQE
    * unfinalized) and return its formatted explain. */
  def finalPlan(df: DataFrame): String = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("plandump")) {
      qe.toRdd.foreach(_ => ())
    }
    qe.explainString(ExplainMode.fromString("formatted"))
  }

  def main(a: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    val d = a(0)
    val out = Paths.get(a(1))
    Files.createDirectories(out)
    val suffix = a(2)
    val names: Seq[String] =
      if (a.length < 4 || a(3) == "bench")
        graft.SparkEntry.specs.filter(_._2.bench).keys.toSeq.sorted
      else QueryBench.select(a(3))
    for (q <- names.distinct) {
      val t0 = System.nanoTime()
      val txt = finalPlan(graft.SparkEntry.queries(q)(spark, d))
      val secs = (System.nanoTime() - t0) / 1e9
      val f = out.resolve(s"${q}_$suffix.txt")
      Files.write(f, txt.getBytes(StandardCharsets.UTF_8))
      println(f"[plandump] $q -> $f (${txt.length} chars, $secs%.2f s)")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
