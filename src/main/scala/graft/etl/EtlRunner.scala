package graft.etl

import org.apache.spark.sql.SparkSession
import graft.etl.BronzeReader._

/** Top-level dispatch — the Spark equivalent of the reference's
  * event-triggered entry point + filename router
  * (`etl-gcs-cloudsql/src/index.ts:8-53`, SURVEY §2 A8, §3.2).
  * One call = one micro-batch (one landed file), exactly like one
  * `object.finalize` event invocation.
  *
  * Failure/atomicity contract (SURVEY §2 H6): each TABLE write is
  * atomic (snapshot swap / append), and writes are ordered
  * parents-before-children, so a crash mid-file leaves a prefix-
  * consistent state that a replay repairs: parent upserts are
  * idempotent and the re-run re-derives child rows from the same
  * batch. This matches the reference's per-row-transaction guarantee
  * at batch granularity (cross-TABLE atomicity, like the reference's
  * cross-ROW atomicity, is not promised).
  */
object EtlRunner {

  /** Process a single landed CSV; None = not routable (non-CSV or
    * unknown kind — the reference logs and skips, `index.ts:47-49`). */
  def processFile(store: SilverStore, path: String,
                  loadDate: Option[String] = None): Option[EtlResult] = {
    val fileName = path.split('/').last
    classify(fileName).map {
      case EmpresaFile =>
        EmpresaPipeline.run(store,
          read(store.spark, path, BronzeSchemas.empresa, loadDate))
      case ConductorFile =>
        ConductorPipeline.run(store,
          read(store.spark, path, BronzeSchemas.conductor, loadDate))
      case VehiculoFile =>
        VehiculoPipeline.run(store,
          read(store.spark, path, BronzeSchemas.vehiculo, loadDate))
    }
  }

  /** Landing order: empresa files first (FK dependency, SURVEY §7
    * build order), then conductor/vehiculo, then unroutable files, each
    * in file-name order — mirroring the reference's effective ordering
    * when files land in sequence. */
  def landingOrder(paths: Seq[String]): Seq[String] = paths.sortBy { p =>
    val name = p.split('/').last
    (classify(name) match {
      case Some(EmpresaFile) => 0
      case Some(_)           => 1
      case None              => 2
    }, name)
  }

  /** Batch-process a landing directory in [[landingOrder]]. */
  def processDirectory(store: SilverStore, dir: String,
                       loadDate: Option[String] = None): Map[String, EtlResult] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(store.spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isFile).map(_.getPath.toString).toSeq
    landingOrder(files).flatMap { p =>
      processFile(store, p, loadDate).map(r => p.split('/').last -> r)
    }.toMap
  }
}
