package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, functions => F}

import graft.checkpoint.Resume
import graft.model.CuratedTurn
import graft.pipeline.Curate
import graft.streaming.StreamingCurate
import graft.synth.Transcripts
import graft.tableio.TableIO

class StreamingSpec extends SparkTestBase with FixtureDirs {

  private val curatedCols = Encoders.product[CuratedTurn].schema.fieldNames.toSeq.map(F.col)

  /** Every committed row on every `CuratedTurn` column, by (conv_id, turn_idx). */
  private def committedRows(base: String): Seq[Row] =
    TableIO.read(spark, base).select(curatedCols: _*).collect().toSeq
      .sortBy(r => (r.getString(0), r.getInt(1)))

  private def manifests(base: String): Seq[Resume.Manifest] =
    TableIO.donePartitions(base).toSeq.sorted
      .map(p => Resume.Manifest.parse(TableIO.readManifest(base, p).get))

  /** `turns` written flat to `in` as two appends, each followed by a
    * stream pass, so the stream commits them as batches 0 and 1.
    */
  private def streamInTwoBatches(turns: DataFrame, in: String, out: String, ckpt: String): Unit = {
    val first = F.pmod(F.xxhash64(F.col("conv_id")), F.lit(2)) === 0
    turns.filter(first).write.mode("overwrite").parquet(in)
    StreamingCurate.runAvailableNowToParquet(spark, in, out, ckpt)
    turns.filter(!first).write.mode("append").parquet(in)
    StreamingCurate.runAvailableNowToParquet(spark, in, out, ckpt)
    assert(TableIO.donePartitions(out) == Set(0, 1))
  }

  /** The checkpoint's commit-log entry for batch `id`, with its checksum. */
  private def deleteCheckpointCommit(ckpt: String, id: Int): Unit =
    Seq(s"$id", s".$id.crc").foreach(f => Files.deleteIfExists(Paths.get(ckpt, "commits", f)))

  private def mtimes(dir: Path): Map[String, Long] =
    Files.list(dir).iterator().asScala
      .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toMap

  test("streaming curate over parquet == batch curate (same decisions), incl. incremental files") {
    val in = fixtureDir("/tmp/graft-stream-in")
    val out = fixtureDir("/tmp/graft-stream-out")
    val ckpt = fixtureDir("/tmp/graft-stream-ckpt")
    val batch1 = Transcripts.dataset(spark, 20L).toDF()
    batch1.write.mode("overwrite").parquet(in)
    StreamingCurate.runAvailableNowToParquet(spark, in, out, ckpt)
    def read(df: DataFrame) = df
      .select("conv_id", "turn_idx", "keep", "drop_reason")
      .collect().map(_.toSeq.map(String.valueOf)).sortBy(_.toString)
    def batchRef(df: DataFrame) = read(Curate.curateDf(spark, df))
    assert(read(TableIO.read(spark, out)).toSeq == batchRef(batch1).toSeq)
    val n1 = TableIO.read(spark, out).count()

    // append new conversations; AvailableNow must pick up ONLY new files
    val batch2 = {
      import spark.implicits._
      Transcripts.conversation(7L, 10001L).map(_._1).toDF()
    }
    batch2.write.mode("append").parquet(in)
    StreamingCurate.runAvailableNowToParquet(spark, in, out, ckpt)
    assert(TableIO.read(spark, out).count() == n1 + batch2.count()) // only the increment added
    assert(read(TableIO.read(spark, out)).toSeq == batchRef(spark.read.parquet(in)).toSeq)
    // each batch is a partition with its own manifest and lineage
    assert(manifests(out).map(m => (m.partId, m.input)) ==
      Seq(0 -> s"$in#batch=0", 1 -> s"$in#batch=1"))
    assert(manifests(out).map(_.turnsSeen) == Seq(n1, batch2.count()))
  }

  test("a stream and Resume.run over the same turns commit equal rows and equal summed manifests") {
    val flat = fixtureDir("/tmp/graft-stream-eq-flat")
    val bucketed = fixtureDir("/tmp/graft-stream-eq-bucketed")
    val streamOut = fixtureDir("/tmp/graft-stream-eq-stream")
    val jobOut = fixtureDir("/tmp/graft-stream-eq-job")
    val ckpt = fixtureDir("/tmp/graft-stream-eq-ckpt")
    val turns = Transcripts.dataset(spark, 40L).toDF()
    TableIO.writeBucketedInput(turns, bucketed, nBuckets = 3)
    Resume.run(spark, bucketed, jobOut)
    streamInTwoBatches(turns, flat, streamOut, ckpt)

    val rows = committedRows(streamOut)
    assert(rows.size == turns.count())
    assert(rows == committedRows(jobOut))
    def summed(ms: Seq[Resume.Manifest]) = {
      def sum(maps: Seq[Map[String, Long]]) =
        maps.flatten.groupMapReduce(_._1)(_._2)(_ + _)
      (ms.map(_.turnsSeen).sum, ms.map(_.turnsKept).sum, ms.map(_.turnsDropped).sum,
        sum(ms.map(_.droppedByRule)), sum(ms.map(_.scrubHitCounts)))
    }
    val s = summed(manifests(streamOut))
    assert(s == summed(manifests(jobOut)))
    assert(s._4.size >= 3, s"the fixture drops by several rules: ${s._4}")
  }

  test("a batch killed between its data and its manifest is replayed and committed once, " +
    "with a byte-equal manifest") {
    val in = fixtureDir("/tmp/graft-stream-kill-in")
    val out = fixtureDir("/tmp/graft-stream-kill-out")
    val ckpt = fixtureDir("/tmp/graft-stream-kill-ckpt")
    val turns = Transcripts.dataset(spark, 20L).toDF()
    streamInTwoBatches(turns, in, out, ckpt)
    val rows = committedRows(out)
    val manifest = Files.readAllBytes(TableIO.manifestPath(out, 1))
    val files = mtimes(TableIO.partitionDir(out, 1))
    Files.delete(TableIO.manifestPath(out, 1))
    deleteCheckpointCommit(ckpt, 1)

    StreamingCurate.runAvailableNowToParquet(spark, in, out, ckpt)
    assert(Files.exists(Paths.get(ckpt, "commits", "1")), "batch 1 was not replayed")
    assert(Files.readAllBytes(TableIO.manifestPath(out, 1)).sameElements(manifest))
    assert(mtimes(TableIO.partitionDir(out, 1)) != files, "batch 1 was not rewritten")
    assert(committedRows(out) == rows)
    assert(rows.size == turns.count())
  }

  test("a replayed batch whose manifest exists is skipped and its files keep their mtimes") {
    val in = fixtureDir("/tmp/graft-stream-replay-in")
    val out = fixtureDir("/tmp/graft-stream-replay-out")
    val ckpt = fixtureDir("/tmp/graft-stream-replay-ckpt")
    streamInTwoBatches(Transcripts.dataset(spark, 20L).toDF(), in, out, ckpt)
    val manifest = Files.readAllBytes(TableIO.manifestPath(out, 1))
    val files = mtimes(TableIO.partitionDir(out, 1))
    deleteCheckpointCommit(ckpt, 1)

    StreamingCurate.runAvailableNowToParquet(spark, in, out, ckpt)
    assert(Files.exists(Paths.get(ckpt, "commits", "1")), "batch 1 was not replayed")
    assert(mtimes(TableIO.partitionDir(out, 1)) == files)
    assert(Files.readAllBytes(TableIO.manifestPath(out, 1)).sameElements(manifest))
    assert(TableIO.donePartitions(out) == Set(0, 1))
  }
}
