package graft.tools

/** Query timing harness for scale experiments:
  * `runMain graft.tools.QueryBench <q1[,q2,…]> <sfDir> [runs]`.
  * Run 1 is cold (file listing + page cache), later runs warm —
  * both numbers matter when reading a scale ratio. Times the noop
  * sink — the SAME action Bench times, so numbers from the two tools
  * are comparable (every column of every row is evaluated, then
  * discarded; count() would let the optimizer prune subtrees). A comma
  * list shares one JVM/session across queries (each still cold/warm
  * per-query); a query whose name is a prefix selects all matches. */
object QueryBench {
  def main(a: Array[String]): Unit = {
    val spark = graft.GraftSession.create()
    val d = a(1)
    val runs = if (a.length > 2) a(2).toInt else 2
    for (q <- select(a(0)); i <- 1 to runs) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, d)
        .write.format("noop").mode("overwrite").save()
      println(f"[querybench] $q run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }

  /** The queries a comma list names: each element by exact name, else
    * every query it prefixes (sorted). */
  def select(list: String): Seq[String] = list.split(",").toSeq.flatMap { q =>
    // empty elements would prefix-match EVERY query; a typo must
    // fail loudly, not silently run nothing
    require(q.nonEmpty, s"empty query name in '$list'")
    val ks = graft.SparkEntry.queries.keySet
    val matched =
      if (ks(q)) Seq(q) else ks.filter(_.startsWith(q)).toSeq.sorted
    require(matched.nonEmpty, s"no query matches '$q'")
    matched
  }
}
