package graft.streaming

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.functions.col

import graft.etl.{EtlRunner, SilverStore}

/** The reference's event-driven ETL, end to end, as one streaming
  * query: GCS `object.finalize` → Cloud Function becomes file-source
  * micro-batches → per-file routing → the SAME batch pipelines
  * (`EtlRunner.processFile`) inside `foreachBatch`.
  *
  * Files are processed in [[EtlRunner.landingOrder]] inside a batch —
  * empresa before conductor/vehiculo, mirroring the FK dependency that
  * the reference satisfies operationally by uploading empresas first.
  * Checkpointing makes each file exactly-once; replay after a crash
  * re-runs only unacknowledged batches (upserts idempotent, historized
  * appends duplicate — faithful to the reference, SURVEY §2 I).
  */
object StreamingEtl {

  /** Watch `landingDir` and run every pending CSV through the Silver
    * pipelines; AvailableNow = drain-and-stop (swap for a continuous
    * trigger in production). */
  def start(store: SilverStore, landingDir: String, checkpointDir: String,
            maxFilesPerTrigger: Int = 100): StreamingQuery = {
    val spark = store.spark
    // binaryFile source: exactly ONE row per landed file, and since only
    // `path` is selected, column pruning keeps the file CONTENT unread —
    // discovery cost scales with file count, not data volume (a text
    // source would stream every line just to learn the name, and would
    // silently swallow zero-byte files: no rows -> never routed). Each
    // file is then re-read with its contract schema by the batch path.
    val names = spark.readStream
      .format("binaryFile")
      // streaming file sources require an explicit schema; this is
      // binaryFile's fixed one
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .load(landingDir)
      .select(col("path"))

    names.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val files = batch.select("path").distinct()
          .collect().map(_.getString(0)).toSeq
        EtlRunner.landingOrder(files).foreach { p =>
          EtlRunner.processFile(store, p).foreach { r =>
            // D3 per-file summary, like the reference's console lines
            System.err.println(
              s"[etl] ${p.split('/').last}: rows=${r.rowCount} " +
                s"ok=${r.processed} errors=${r.errors}")
          }
        }
      }
      .start()
  }
}
