package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.Bm25Store

/** Scale probe for [[Bm25Store]]'s two 100 TB claims: the FOLD is
  * corpus-independent (append-only — it never reads existing data, so
  * this measures the constant), and the SEARCH read tracks the query
  * terms' posting mass, not the corpus (bucket-pruned, then
  * term-matched — posting lists grow with the corpus, so this one is
  * expected linear-in-matches, and the probe prices the constant).
  *
  *   runMain graft.tools.Bm25StoreBench <sfDir> <factors e.g. 1,10,100>
  *
  * The corpus scales like ScaleUp's documents rule: every token gets a
  * replica prefix (clones share NO terms across replicas — df and
  * posting lengths stay realistic, the batch's term collisions stay
  * the base corpus's). The timed fold is the SAME fixed batch at every
  * M — production's shape: a day's docs against a growing store. */
object Bm25StoreBench {
  def main(args: Array[String]): Unit = {
    val Array(src, factorsS) = args
    val factors = factorsS.split(",").map(_.toInt)
    val spark = graft.GraftSession.create()

    val base = graft.analytics.Tables.documents(spark, src)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"))
    val batch = base.filter(col("doc_id") % 64 === 0)
      .withColumn("doc_id", col("doc_id") + lit(900000000L))
      .withColumn("text", concat(lit("bb"),
        regexp_replace(col("text"), " ", " bb")))
    val qterms = base.filter(col("doc_id") <= 5)
      .select(col("doc_id").as("qid"),
        explode(graft.text.TextFunctions.tokens(col("text"))).as("t"))
      .distinct().limit(48).persist()
    qterms.count()

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    println("[bm25bench] M | init_s | fold_s | folded_postings | search_s | hits")
    for (m <- factors) {
      val corpus = (0 until m).map { i =>
        base.withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
          .withColumn("text", concat(lit(s"r$i"),
            regexp_replace(col("text"), " ", s" r$i")))
      }.reduce(_ unionByName _)
      val dir = java.nio.file.Files
        .createTempDirectory(s"bm25bench-x$m").toString
      val (_, tInit) = timed(Bm25Store.init(spark, corpus, dir))
      val (st, tFold) = timed(Bm25Store.fold(spark, dir, batch))
      // query terms are r0-prefixed in replica 0 only — probe with the
      // replica-0 vocabulary so matches exist at every M
      val q0 = qterms.withColumn("t", concat(lit("r0"), col("t")))
      val (hits, tSearch) = timed(
        Bm25Store.scored(spark, dir, q0).count())
      println(f"[bm25bench] $m%3d | $tInit%7.2f | $tFold%6.2f | " +
        f"${st.postingsAdded}%15d | $tSearch%8.2f | $hits%d")
      graft.etl.Commit.deleteRecursively(java.nio.file.Paths.get(dir))
    }
    spark.stop()
  }
}
