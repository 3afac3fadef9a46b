package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, Trigger}

import graft.checkpoint.Resume
import graft.model.{CuratedTurn, Turn}
import graft.pipeline.{Curate, CurateCore}
import graft.rules.QualityRules
import graft.tableio.TableIO

/** Structured-Streaming face of the curation engine. The reference is
  * strictly batch (SURVEY.md §2.12), and the batch path stays primary;
  * this module exists because the per-turn pipeline is a pure
  * stateless projection, so the SAME Curate kernel runs unchanged on a
  * stream — `readStream` → curate → `writeStream` — giving the
  * incremental-append use case (`main.py:578-691` add-data analog) a
  * streaming deployment option:
  *
  *  - event-time = `ts` (the transcript turn timestamp);
  *  - windowed drop-reason metrics under a watermark;
  *  - per-conversation running state via mapGroupsWithState.
  *
  * `runAvailableNowToParquet` is the streaming twin of checkpoint/Resume:
  * its micro-batches commit as `Resume.run`'s partitions do, so a stream
  * and a `CurateJob` write the same table layout and manifests.
  */
object StreamingCurate {

  /** Schema of the transcripts table (input_hint). */
  val turnSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[Turn].schema

  /** Streaming read → curate. Stateless projection: every batch row
    * gets the identical decision the batch pipeline would produce.
    */
  def curateStream(
      spark: SparkSession,
      inputDir: String,
      cfg: QualityRules.Config = QualityRules.defaultConfig
  ): DataFrame =
    Curate.curateDf(
      spark,
      spark.readStream.schema(turnSchema).parquet(inputDir),
      cfg)

  /** Windowed quality metrics under a watermark: drop-reason counts
    * per 10-minute event-time window (append-mode safe).
    */
  def windowedMetrics(curated: DataFrame): DataFrame =
    curated
      .withWatermark("ts", "1 hour")
      .groupBy(
        F.window(F.col("ts"), "10 minutes"),
        F.coalesce(F.col("drop_reason"), F.lit("kept")).as("outcome"))
      .agg(F.count(F.lit(1)).as("n"))

  /** Streaming exact dedup (P9's streaming twin): drop turns whose
    * content hash was already seen within the watermark horizon —
    * the at-least-once-replay / duplicate-feed guard for an
    * incremental ingest. State is bounded by the watermark (Spark
    * evicts seen keys older than the horizon), so this survives an
    * unbounded stream — unlike a plain dropDuplicates, whose state
    * grows forever.
    */
  def dedupStream(
      turns: DataFrame,
      watermark: String = "1 hour"
  ): DataFrame =
    turns
      .withColumn("__content_hash", F.md5(F.col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  final case class ConvState(turns: Long, kept: Long, lastTurnIdx: Int)
  final case class ConvUpdate(conv_id: String, turns: Long, kept: Long,
      keep_rate: Double, last_turn_idx: Int)

  /** Per-conversation running keep-rate via mapGroupsWithState — the
    * custom-state operator the builder contract asks for
    * (KeyValueGroupedDataset path). ProcessingTimeTimeout-free: state
    * lives for the life of the query (bounded by conversation count).
    */
  def conversationState(
      spark: SparkSession,
      curated: Dataset[CuratedTurn]
  ): Dataset[ConvUpdate] = {
    import spark.implicits._
    curated
      .groupByKey(_.conv_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (convId: String, turns: Iterator[CuratedTurn], state: GroupState[ConvState]) =>
          val prev = state.getOption.getOrElse(ConvState(0L, 0L, -1))
          var n = prev.turns
          var kept = prev.kept
          var last = prev.lastTurnIdx
          turns.foreach { t =>
            n += 1
            if (t.keep) kept += 1
            if (t.turn_idx > last) last = t.turn_idx
          }
          state.update(ConvState(n, kept, last))
          ConvUpdate(convId, n, kept, if (n == 0) 0.0 else kept.toDouble / n, last)
      }
  }

  /** Production shape: each invocation curates only the files that
    * arrived since the last one and commits micro-batch `id` through
    * `Resume.commitCurated` as `part_id=<id>` of `outDir`, manifest
    * lineage `<inputDir>#batch=<id>`. A batch whose manifest exists is
    * skipped, as `Resume.run` skips a done partition, so a batch Spark
    * replays after a kill is committed once.
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
    def commitBatch(batch: DataFrame, batchId: Long): Unit = {
      val p = Math.toIntExact(batchId)
      if (!Files.exists(TableIO.manifestPath(outDir, p)))
        Resume.commitCurated(batch, core, outDir, p, s"$inputDir#batch=$batchId",
          Resume.defaultWritePartitions)
    }
    try spark.readStream.schema(turnSchema).parquet(inputDir)
      .writeStream
      .foreachBatch(commitBatch _)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    finally core.destroy()
  }
}
