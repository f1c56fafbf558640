package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The SERIAL + RETURNING replacement, the one surrogate-id rule of
  * every Silver table: new rows take `base + row_number` over a total
  * order of the new rows, where `base` is the table's current max id —
  * deterministic for a given batch. The window is global (it plans as a
  * single-partition sort), so it is applied to a batch delta only, never
  * to a whole table. Single writer per table, as in the reference's
  * one-event-per-invocation serialization (SURVEY §7 risk 1). */
object SurrogateId {

  /** The largest `idCol` in `df`, 0 when `df` is empty (one job). */
  def maxOf(df: DataFrame, idCol: String): Int =
    df.agg(coalesce(max(col(idCol)), lit(0))).collect()(0).getInt(0)

  /** `rows` with `idCol` set to `base + row_number` over `order`; an
    * existing `idCol` is replaced in place. */
  def assign(rows: DataFrame, idCol: String, base: Int,
             order: Seq[Column]): DataFrame =
    rows.withColumn(idCol,
      (row_number().over(Window.orderBy(order: _*)) + lit(base))
        .cast(IntegerType))
}
