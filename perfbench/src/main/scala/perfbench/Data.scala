package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the engine's analytics-surface tables that the
  * retrieval stores and the analytics queries of [[ServeMix]] read:
  * TPC-H-ish `orders` and `lineitem`, `documents` and `embeddings`, with
  * the column names, types and value domains the queries and their
  * DuckDB oracles expect. Every table is one parquet file
  * `<dir>/<name>.parquet` (one row group), the layout the engine's
  * `Tables` loaders read. Same seed, same bytes of content.
  */
object Data {

  val vocab: Array[String] = Array("a", "the", "data", "table", "row",
    "column", "scan", "join", "merge", "sort", "group", "agg", "window",
    "filter", "query", "key", "value", "hash", "part", "line", "order",
    "customer", "batch", "stream", "spark", "vector", "fast", "slow",
    "big", "small")
  val langs: Array[String] = Array("en", "en", "en", "zh", "de", "fr", "es")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private val DayUs = 86400L * 1000000L
  private val Y1995Us = 788918400L * 1000000L // 1995-01-01T00:00:00

  private def ntz(us: Long): java.time.LocalDateTime =
    java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
      (Math.floorMod(us, 1000000L) * 1000).toInt, java.time.ZoneOffset.UTC)

  private def money(r: Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** `n` words drawn from [[vocab]]. */
  def text(r: Random, n: Int): String =
    Seq.fill(n)(vocab(r.nextInt(vocab.length))).mkString(" ")

  /** A near-duplicate of `t`: a few words replaced. */
  def nearDup(r: Random, t: String): String = {
    val w = t.split(' ')
    (0 until math.max(1, w.length / 25)).foreach { _ =>
      w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length))
    }
    w.mkString(" ")
  }

  /** Document rows (doc_id, text, lang, source, n_chars) with ids
    * `firstId until firstId + n`; about one in five is a near-duplicate
    * of an earlier document of the same slice, so dedup has clusters
    * to find. */
  def documentRows(r: Random, firstId: Long, n: Int): Seq[Row] = {
    val texts = new scala.collection.mutable.ArrayBuffer[String](n)
    (0 until n).map { i =>
      val t =
        if (i > 0 && r.nextInt(5) == 0) nearDup(r, texts(r.nextInt(i)))
        else text(r, 20 + r.nextInt(60))
      texts += t
      val id = firstId + i
      Row(id, t, langs(r.nextInt(langs.length)), s"src${id % 20}", t.length.toLong)
    }
  }

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val embeddingsSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  /** A unit-scale 64-dim vector around one of ten label centres. */
  def vector(r: Random, centre: Array[Float]): Array[Float] =
    centre.map(c => (c + r.nextGaussian() * 0.08).toFloat)

  def centres(r: Random): Array[Array[Float]] =
    Array.fill(10)(Array.fill(64)((r.nextGaussian() * 0.15).toFloat))

  def embeddingRows(r: Random, n: Int): Seq[Row] = {
    val cs = centres(r)
    (0 until n).map { i =>
      val label = r.nextInt(10)
      Row(i.toLong, vector(r, cs(label)).toSeq, label)
    }
  }

  /** Write `rows` as the single-file table `<dir>/<name>.parquet`. */
  def writeTable(spark: SparkSession, dir: Path, name: String,
                 schema: StructType, rows: Seq[Row]): Unit = {
    val tmp = dir.resolve(s"_tmp_$name")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(p =>
      p.getFileName.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, dir.resolve(s"$name.parquet"))
    Files.walk(tmp).sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p))
  }

  private def f(n: String, t: DataType) = StructField(n, t)

  /** The tables the retrieval stores and the analytics queries read,
    * under `dir`: `orders`, `lineitem`, `documents` and `embeddings`.
    * `documents` and `embeddings` get the row counts given; `orders` and
    * `lineitem` scale with `scale`, and their keys range over
    * `scale` × 1,500 customers, 100 suppliers and 2,000 parts. */
  def tables(spark: SparkSession, dir: Path, seed: Long, scale: Double,
             docs: Int, vectors: Int): Unit = {
    Files.createDirectories(dir)
    val r = new Random(seed)
    def n(base: Int) = math.max(10, (base * scale).toInt)
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000)
    val nOrd = n(15000); val nLine = n(60000)

    val orderDays = 365 * 6 + 212
    writeTable(spark, dir, "orders",
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        Seq("F", "O", "P")(r.nextInt(3)), money(r, 1000, 500000),
        ntz(Y1995Us + r.nextInt(orderDays) * DayUs),
        priorities(r.nextInt(priorities.length)))))
    writeTable(spark, dir, "lineitem",
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
      (0 until nLine).map { _ =>
        val q = (1 + r.nextInt(50)).toDouble
        Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), q,
          math.round(q * (900 + r.nextInt(2000)) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          ntz(Y1995Us + (1 + r.nextInt(orderDays + 90)) * DayUs))
      })
    writeTable(spark, dir, "documents", documentsSchema,
      documentRows(r, 0L, docs))
    writeTable(spark, dir, "embeddings", embeddingsSchema,
      embeddingRows(r, vectors))
  }
}
