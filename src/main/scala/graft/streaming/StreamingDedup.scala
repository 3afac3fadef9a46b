package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.dedup.Dedup
import graft.tableio.TableIO

/** Streaming twin of the MinHash+LSH near-dup family (Dedup.scala):
  * the batch `minhashClusters` bucket-min, re-expressed as watermarked
  * `flatMapGroupsWithState` keyed by LSH bucket, for continuous-ingest
  * dedup at 10^12-turn scale. The reference is strictly batch (its
  * incremental path re-runs the batch dedup per add, main.py add-data
  * flow); this gives the same semantics without re-touching history:
  *
  *  - state per (band, bucket-hash) is ONE long (the bucket's minimum
  *    id seen so far = its representative) — never member lists, so a
  *    hot boilerplate bucket of 10^7 duplicates costs 8 bytes of
  *    state, the streaming analog of the batch two-phase bucket min;
  *  - state is EVICTED by event-time timeout one watermark horizon
  *    after the bucket's last arrival, so an unbounded stream holds
  *    state only for the active horizon (the same bound
  *    `dropDuplicatesWithinWatermark` gives exact dedup);
  *  - emission is per arriving row: (band, bh, id, rep_id) where
  *    rep_id ≤ id means "this row collides with an earlier-or-equal
  *    representative in this bucket". A row is a near-dup CANDIDATE
  *    iff any of its bands maps to a foreign representative —
  *    [[repAssignments]] is that per-id fold (min over bands), run
  *    over the committed table, `TableIO.read`, or one batch's
  *    partition of it (chaining a second stateful aggregate behind
  *    flatMapGroupsWithState in one append query is where Spark's
  *    multi-stateful support is still restrictive);
  *  - [[runAvailableNowToParquet]] commits each micro-batch's rows
  *    through `TableIO`, as `part_id=<batch id>` with a row-count
  *    manifest, the commit `StreamingCurate` makes for curated turns.
  *
  * Prefix semantics: with everything in one micro-batch the per-id
  * assignment equals the batch bucket-min pass; across batches a
  * bucket's representative is the min id seen SO FAR (first-wins over
  * arrival order — exactly what incremental dedup wants: new rows
  * dedup against retained history, history is never rewritten).
  * Token-less rows produce no bands, hence no candidates (the batch
  * path makes them their own singleton representative; a streaming
  * consumer treats absence as "keep").
  */
object StreamingDedup {

  final case class BandHit(id: Long, ts: java.sql.Timestamp, band: Int, bh: Long)
  final case class BucketState(rep: Long, lastMs: Long)
  final case class BucketAssign(band: Int, bh: Long, id: Long, rep_id: Long)

  /** Sketch → banded bucket keys → watermarked stateful bucket-min.
    * `docs` is a STREAMING frame with a long id, a text column and an
    * event-time timestamp column.
    */
  def minhashBucketStream(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String,
      delayMs: Long = 3600 * 1000L,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16
  ): Dataset[BucketAssign] = {
    require(delayMs > 0)
    import spark.implicits._
    // the batch minhashClusters' single-evaluation shape: one UDF from
    // text to band hashes, empty for token-less rows
    val bandU = Dedup.minhashBandUdf[String](numHashes, bands)(Dedup.shingles(_, shingleSize))
    // fail fast on a non-integral id column (ADVICE r5): a silent
    // cast("long") of e.g. a string id yields nulls that only surface
    // later as a cryptic "null in non-nullable field" encoder error
    // mid-stream, long after the contract violation
    val idType = docs.schema(idCol).dataType
    require(
      idType == org.apache.spark.sql.types.LongType ||
        idType == org.apache.spark.sql.types.IntegerType ||
        idType == org.apache.spark.sql.types.ShortType ||
        idType == org.apache.spark.sql.types.ByteType,
      s"StreamingDedup id column '$idCol' must be an integral type, got $idType")
    // the watermarked event-time column must survive (under its tag)
    // all the way into the stateful operator — EventTimeTimeout is
    // rejected otherwise — so `ts` rides along untransformed
    val banded = docs
      .withWatermark(tsCol, s"$delayMs milliseconds")
      .select(F.col(idCol).cast("long").as("id"),
        F.col(tsCol).as("ts"),
        F.explode(bandU(F.col(textCol))).as("b"))
      .select(F.col("id"), F.col("ts"), F.col("b._1").as("band"), F.col("b._2").as("bh"))
      .as[BandHit]
    banded
      .groupByKey(h => (h.band, h.bh))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Int, Long), it: Iterator[BandHit], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var rep = state.getOption.map(_.rep).getOrElse(Long.MaxValue)
            var lastMs = state.getOption.map(_.lastMs).getOrElse(Long.MinValue)
            val batch = it.toArray
            var i = 0
            while (i < batch.length) {
              if (batch(i).id < rep) rep = batch(i).id
              val ms = batch(i).ts.getTime
              if (ms > lastMs) lastMs = ms
              i += 1
            }
            state.update(BucketState(rep, lastMs))
            // evict one horizon after the LAST arrival; the max with
            // the current watermark keeps the timestamp legal when a
            // row lands exactly on the watermark boundary
            state.setTimeoutTimestamp(
              math.max(lastMs, state.getCurrentWatermarkMs()) + delayMs)
            val r = rep
            batch.iterator.map(h => BucketAssign(key._1, key._2, h.id, r))
          }
        })
  }

  /** Per-id representative: min over the id's bucket representatives —
    * the batch `minhashClusters` fold. Run over one micro-batch's
    * partition or the whole committed table; ids with rep_id < id are
    * near-dup candidates of their representative.
    */
  def repAssignments(buckets: DataFrame): DataFrame =
    buckets.groupBy("id")
      .agg(F.min("rep_id").as("rep_id"))

  /** Production shape: continuous near-dup candidate feed with
    * recoverable state (the checkpoint carries both file offsets AND the
    * bucket-min state, so re-invocation dedups new files against
    * everything inside the horizon). Micro-batch `id` commits its
    * assignments as `part_id=<id>` of `outDir` with a row-count manifest
    * by [[MicroBatch.commitAvailableNow]], which skips a batch whose
    * manifest exists; a batch of no rows commits nothing.
    */
  def runAvailableNowToParquet(
      spark: SparkSession,
      assigns: Dataset[BucketAssign],
      outDir: String,
      checkpointDir: String
  ): Unit =
    MicroBatch.commitAvailableNow(assigns.toDF(), outDir, checkpointDir) { (batch, p) =>
      TableIO.commitPartitions(batch, outDir, Seq(p))(TableIO.rowCountManifest)
    }
}
