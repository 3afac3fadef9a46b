package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.streaming.Trigger

import graft.tableio.TableIO

/** The one micro-batch commit of every stream the engine writes. */
private[streaming] object MicroBatch {

  /** Run `stream` over the data available now, with its offsets and
    * state recovered from `checkpointDir`, and hand each micro-batch `id`
    * to `commit` as (its rows with `part_id = id`, `id`), so batch `id`
    * commits as partition `id` of `out` through [[TableIO]]. A batch
    * whose manifest exists is skipped, as `Resume.run` skips a done
    * partition, so a batch Spark replays after a kill commits once. A
    * skipped batch still runs, into Spark's `noop` sink, which writes
    * nothing: a stateful stream commits the batch's state only off a run
    * of all its partitions, and Spark fails the batch otherwise.
    */
  def commitAvailableNow(stream: DataFrame, out: String, checkpointDir: String)(
      commit: (DataFrame, Int) => Unit): Unit = {
    def commitBatch(batch: DataFrame, id: Long): Unit = {
      val p = Math.toIntExact(id)
      if (Files.exists(TableIO.manifestPath(out, p)))
        batch.write.format("noop").mode("overwrite").save()
      else commit(batch.withColumn(TableIO.PART_COL, F.lit(p)), p)
    }
    stream.writeStream
      .foreachBatch(commitBatch _)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }
}
