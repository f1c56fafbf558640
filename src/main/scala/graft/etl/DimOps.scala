package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Get-or-create for "simple catalog" dimensions (SURVEY §2 D1/D2) —
  * the set-oriented re-expression of the reference's generic
  * `getOrCreateCatalogo` (`etl-gcs-cloudsql/src/utils/sql.ts:6-27`) and
  * its composite variant for `vehiculo_modelo`
  * (`services/vehiculo.ts:161-176`).
  *
  * Per batch (not per row, unlike the reference): distinct new key
  * tuples -> anti-join against the existing dim -> surrogate ids in key
  * order ([[SurrogateId]]) -> union. The id window runs on the new
  * distinct values only — dimension deltas are tiny by definition (the
  * fact table never passes through this path).
  */
object DimOps {

  /** Dimension schema: `<idCol> INT, <keys...>, audit` — matches the
    * reference's simple catalogs (`model.sql:14-20` etc.). */
  def dimSchema(idCol: String, keyFields: Seq[StructField]): StructType =
    StructType(
      (StructField(idCol, IntegerType, nullable = false) +: keyFields) ++ Seq(
        StructField("date_created", TimestampType, nullable = true),
        StructField("date_updated", TimestampType, nullable = true)))

  /** String-keyed convenience (most catalogs are single TEXT columns). */
  def dimSchema(idCol: String, keyCols: Seq[String])(implicit d: DummyImplicit): StructType =
    dimSchema(idCol, keyCols.map(StructField(_, StringType, nullable = true)))

  /** Returns the updated dimension snapshot (does not write). */
  def getOrCreate(existing: DataFrame, newValues: DataFrame,
                  idCol: String, keyCols: Seq[String]): DataFrame = {
    val keyColumns: Seq[Column] = keyCols.map(col)
    val distinctNew = newValues
      .select(keyColumns: _*)
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .distinct()
      .join(existing.select(keyColumns: _*), keyCols, "left_anti")

    val now = current_timestamp()
    val created = SurrogateId.assign(distinctNew, idCol,
        SurrogateId.maxOf(existing, idCol), keyColumns)
      .withColumn("date_created", now)
      .withColumn("date_updated", now)
      .select(existing.columns.map(col).toIndexedSeq: _*)

    existing.unionByName(created)
  }

  /** Get-or-create against the store and persist, returning the fresh
    * snapshot for lookup joins (always broadcast-sized). */
  def sync(store: SilverStore, table: String, idCol: String,
           keyCols: Seq[String], newValues: DataFrame,
           schema: StructType = null): DataFrame = {
    val sch = Option(schema).getOrElse(dimSchema(idCol, keyCols))
    store.recover(table) // ids continue from the settled table
    val existing = store.read(table, sch)
    val updated = getOrCreate(existing, newValues, idCol, keyCols)
    store.overwrite(table, updated)
    store.read(table, sch)
  }
}
