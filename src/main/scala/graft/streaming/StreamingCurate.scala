package graft.streaming

import org.apache.spark.sql.SparkSession

import graft.checkpoint.Resume
import graft.model.Turn
import graft.pipeline.{Curate, CurateCore}
import graft.rules.QualityRules

/** Structured-Streaming face of the curation engine. The reference is
  * strictly batch (SURVEY.md §2.12), and the batch path stays primary;
  * the per-turn pipeline is a pure stateless projection, so the SAME
  * Curate kernel runs unchanged on a stream, giving the
  * incremental-append use case (`main.py:578-691` add-data analog) a
  * streaming deployment option.
  *
  * `runAvailableNowToParquet` is the streaming twin of checkpoint/Resume:
  * its micro-batches commit as `Resume.run`'s partitions do, so a stream
  * and a `CurateJob` write the same table layout and manifests.
  */
object StreamingCurate {

  /** Schema of the transcripts table (input_hint). */
  val turnSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Turn].schema

  /** Production shape: each invocation curates only the files that
    * arrived since the last one and commits micro-batch `id` through
    * `Resume.commitCurated`, as a one-partition wave, as `part_id=<id>`
    * of `outDir`, manifest lineage `<inputDir>#batch=<id>`, by
    * [[MicroBatch.commitAvailableNow]], which skips a batch whose
    * manifest exists.
    */
  def runAvailableNowToParquet(
      spark: SparkSession,
      inputDir: String,
      outDir: String,
      checkpointDir: String
  ): Unit = {
    val models = Curate.defaultModels
    // one broadcast of the kernel for every batch of this run
    val core = spark.sparkContext.broadcast(
      new CurateCore(models.langId, models.lm, QualityRules.defaultConfig))
    try MicroBatch.commitAvailableNow(
        spark.readStream.schema(turnSchema).parquet(inputDir), outDir, checkpointDir) {
      (batch, p) => Resume.commitCurated(batch, core, outDir,
        Seq(p -> s"$inputDir#batch=$p"), Resume.defaultWritePartitions)
    } finally core.destroy()
  }
}
