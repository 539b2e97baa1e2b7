package graft.streaming

import graft.Checkpoints
import graft.plans.{Ingestion, WarehouseStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** The reference's full warehouse-ingestion main as a Structured
  * Streaming pipeline (SURVEY.md §2.8 + §3.2): drop directory of .xlsx
  * workbooks → one micro-batch per FILE ([[FileDrop]] semantics:
  * maxFilesPerTrigger=1 ≙ one transaction per file,
  * `import_files_to_postgre.py:136-237`) → the [[Ingestion]] plan against
  * the parquet-backed warehouse → stage-and-swap commit
  * ([[WarehouseStore]]) → archive or quarantine the file.
  *
  * One micro-batch = load the warehouse (declared schema, no inference
  * job), one [[Ingestion.ingestWorkbooks]] call (its few checkpoints:
  * the parsed sheets, one ranked id pass, the fact rows), one save. The
  * file list comes from [[FileDrop]], which already collected it. The
  * batch's checkpoints live in a [[Checkpoints.scope]] and are freed as
  * soon as its save returns (or the batch fails), so a live stream holds
  * no blocks for the files it has drained.
  *
  * Restart safety: the checkpoint skips committed batches; a batch that
  * half-ran before a crash re-runs and the J5 dedup gate makes the replay
  * a no-op for already-committed facts — same end state as the
  * reference's rollback, without needing one.
  */
object IngestStream {

  private val binaryFileSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** Drain `inputDir` (AvailableNow), ingesting each workbook into the
    * warehouse at `warehouseDir`. Returns (processed, errored) file
    * counts like the reference's main loop.
    */
  def runAvailableNow(spark: SparkSession, inputDir: String, warehouseDir: String,
                      processedDir: String, errorsDir: String,
                      checkpointDir: String): (Long, Long) = {
    val cfg = FileDrop.Config(
      inputDir = inputDir, format = "binaryFile", schema = binaryFileSchema,
      processedDir = processedDir, errorsDir = errorsDir,
      checkpointDir = checkpointDir, pathGlob = "*.xlsx")
    FileDrop.runAvailableNow(spark, cfg) { (_, _, files) =>
      files.foreach { file =>
        Checkpoints.scope {
          val wh = WarehouseStore.load(spark, warehouseDir)
          WarehouseStore.save(spark, Ingestion.ingestWorkbooks(spark, file, wh), warehouseDir)
        }
      }
    }
  }
}
