package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}

import graft.dedup.Dedup
import graft.streaming.StreamingDedup
import graft.synth.Transcripts
import graft.tableio.TableIO

private[graft] final case class SDoc(id: Long, text: String, ts: Timestamp)

class StreamingDedupSpec extends SparkTestBase with FixtureDirs {

  /** Driver-side oracle: the exact (band, bh, id, rep) set the
    * bucket-min MUST produce over every doc seen so far (global min id
    * per bucket — equals the streaming prefix-min because later
    * arrivals carry larger ids in these fixtures).
    */
  private def expectedAssigns(docs: Seq[SDoc]): Set[(Int, Long, Long, Long)] = {
    val hits = docs.flatMap { d =>
      val sh = Dedup.shingles(d.text, 3)
      if (sh.isEmpty) Nil
      else Dedup.bandHashes(scala.collection.immutable.ArraySeq.unsafeWrapArray(
        Dedup.minhashSignature(sh, 64)), 16, 4).map { case (b, h) => (b, h, d.id) }
    }
    val bucketMin = hits.groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).min).toMap
    hits.map { case (b, h, id) => (b, h, id, bucketMin((b, h))) }.toSet
  }

  private def runPass(in: String, out: String, ckpt: String): Unit = {
    val stream = spark.readStream
      .schema("id LONG, text STRING, ts TIMESTAMP")
      .parquet(in)
    StreamingDedup.runAvailableNowToParquet(
      spark,
      StreamingDedup.minhashBucketStream(spark, stream, "id", "text", "ts",
        delayMs = 60 * 1000L),
      out, ckpt)
  }

  /** The committed bucket assignments, `part_id` dropped. */
  private def committed(out: String): DataFrame =
    TableIO.read(spark, out).drop(TableIO.PART_COL)

  private def sinkAssigns(out: String): Set[(Int, Long, Long, Long)] =
    committed(out).collect()
      .map(r => (r.getAs[Int]("band"), r.getAs[Long]("bh"),
        r.getAs[Long]("id"), r.getAs[Long]("rep_id"))).toSet

  private def reps(out: String): Map[Long, Long] =
    StreamingDedup.repAssignments(committed(out))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep_id")).toMap

  private val t0 = 1700000000000L
  private def doc(id: Long, text: String, ms: Long) = SDoc(id, text, new Timestamp(ms))
  private val dupText = "the quick brown fox jumps over the lazy dog near the quiet river bank"

  private def write(docs: Seq[SDoc], in: String, mode: String): Unit = {
    import spark.implicits._
    docs.toDF().write.mode(mode).parquet(in)
  }

  /** Two passes, each committing one batch of assignments. The first
    * advances the watermark, so Spark follows it with a batch of no rows
    * (which commits nothing); the second's row is older than the first's
    * newest, so the watermark stays and its batch is the checkpoint's last.
    */
  private def twoBatches(in: String, out: String, ckpt: String): Unit = {
    write(Seq(doc(0L, dupText, t0), doc(1L, dupText, t0 + 1000),
      doc(2L, "completely different content about spark shuffle partitioning", t0 + 2000)),
      in, "overwrite")
    runPass(in, out, ckpt)
    write(Seq(doc(3L, dupText, t0 + 1500)), in, "append")
    runPass(in, out, ckpt)
    assert(TableIO.donePartitions(out).size == 2)
    assert(TableIO.donePartitions(out).max == lastBatch(ckpt))
  }

  /** The id of the checkpoint's last planned micro-batch. */
  private def lastBatch(ckpt: String): Int =
    TableIO.entryNames(Paths.get(ckpt, "offsets")).filter(_.forall(_.isDigit)).map(_.toInt).max

  /** The checkpoint's commit-log entry for batch `id`, with its checksum. */
  private def deleteCheckpointCommit(ckpt: String, id: Int): Unit =
    Seq(s"$id", s".$id.crc").foreach(f => Files.deleteIfExists(Paths.get(ckpt, "commits", f)))

  private def mtimes(dir: Path): Map[String, Long] =
    Files.list(dir).iterator().asScala
      .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toMap

  private def sortedRows(out: String): Seq[Row] =
    TableIO.read(spark, out).orderBy("part_id", "band", "bh", "id").collect().toSeq

  test("watermarked MinHash bucket-min: single pass matches the exact oracle; " +
    "state survives checkpointed re-invocation; idle buckets evict on event time") {
    val in = fixtureDir("/tmp/graft-sdedup-in")
    val out = fixtureDir("/tmp/graft-sdedup-out")
    val ckpt = fixtureDir("/tmp/graft-sdedup-ck")
    val nearText = "the quick brown fox jumps over the lazy cat near the quiet river bank"
    val batch1 = Seq(
      doc(0L, dupText, t0),
      doc(1L, dupText, t0 + 1000), // exact dup of 0 → all 16 buckets shared
      doc(2L, nearText, t0 + 2000), // near dup → shares whatever bands the sketch says
      doc(3L, "completely different content about spark shuffle partitioning", t0 + 3000),
      doc(4L, "@@@ ###", t0 + 4000)) // token-less: no bands, no candidates

    // pass 1: everything in one micro-batch == the batch bucket-min
    write(batch1, in, "overwrite")
    runPass(in, out, ckpt)
    assert(sinkAssigns(out) == expectedAssigns(batch1))
    // the exact-dup pair shares a representative on every band
    val rep1 = reps(out)
    assert(rep1(0L) == 0L && rep1(1L) == 0L)
    assert(!rep1.contains(4L)) // token-less row produced no candidates

    // pass 2: a replayed duplicate (new id 100) dedups against the
    // RETAINED state — checkpoint carries the bucket minimums
    val batch2 = Seq(doc(100L, dupText, t0 + 10 * 1000))
    write(batch2, in, "append")
    runPass(in, out, ckpt)
    val assigns2 = sinkAssigns(out)
    assert(assigns2 == expectedAssigns(batch1 ++ batch2))
    val rep2 = reps(out)
    assert(rep2(100L) == 0L, "cross-batch near-dup must resolve to the retained rep")

    // pass 3: advance the watermark far past the horizon (unrelated
    // doc at t0+10min, delay 60s) — then pass 4 fires the timeouts
    // for every idle bucket (timeouts process on batches where the
    // key has no data), so the re-replayed duplicate (id 200) now
    // forms a FRESH bucket with itself as representative: eviction
    // genuinely bounded the state
    write(Seq(doc(150L, "unrelated watermark advancing content entirely new words",
      t0 + 600 * 1000)), in, "append")
    runPass(in, out, ckpt)
    write(Seq(doc(200L, dupText, t0 + 601 * 1000)), in, "append")
    runPass(in, out, ckpt)
    val rep4 = reps(out)
    assert(rep4(200L) == 200L,
      s"expected evicted state → self-rep, got ${rep4(200L)}")
    // history is immutable: earlier assignments unchanged
    assert(rep4(100L) == 0L && rep4(0L) == 0L)
  }

  test("a dedup batch whose manifest exists is skipped on replay and its files keep their mtimes") {
    val in = fixtureDir("/tmp/graft-sdedup-replay-in")
    val out = fixtureDir("/tmp/graft-sdedup-replay-out")
    val ckpt = fixtureDir("/tmp/graft-sdedup-replay-ck")
    twoBatches(in, out, ckpt)
    val b = lastBatch(ckpt)
    val rows = sortedRows(out)
    val manifest = Files.readAllBytes(TableIO.manifestPath(out, b))
    val files = mtimes(TableIO.partitionDir(out, b))
    deleteCheckpointCommit(ckpt, b)

    runPass(in, out, ckpt)
    assert(Files.exists(Paths.get(ckpt, "commits", s"$b")), s"batch $b was not replayed")
    assert(mtimes(TableIO.partitionDir(out, b)) == files)
    assert(Files.readAllBytes(TableIO.manifestPath(out, b)).sameElements(manifest))
    assert(sortedRows(out) == rows)
  }

  test("a dedup batch killed between its data and its manifest is replayed and committed once, " +
    "with equal rows") {
    val in = fixtureDir("/tmp/graft-sdedup-kill-in")
    val out = fixtureDir("/tmp/graft-sdedup-kill-out")
    val ckpt = fixtureDir("/tmp/graft-sdedup-kill-ck")
    twoBatches(in, out, ckpt)
    val b = lastBatch(ckpt)
    val rows = sortedRows(out)
    val manifest = Files.readAllBytes(TableIO.manifestPath(out, b))
    val files = mtimes(TableIO.partitionDir(out, b))
    Files.delete(TableIO.manifestPath(out, b))
    deleteCheckpointCommit(ckpt, b)

    runPass(in, out, ckpt)
    assert(Files.exists(Paths.get(ckpt, "commits", s"$b")), s"batch $b was not replayed")
    assert(mtimes(TableIO.partitionDir(out, b)) != files, s"batch $b was not rewritten")
    assert(Files.readAllBytes(TableIO.manifestPath(out, b)).sameElements(manifest))
    assert(sortedRows(out) == rows)
    // the replayed duplicate still resolves to the first batch's representative
    assert(reps(out)(3L) == 0L)
  }

  test("one micro-batch of all rows: repAssignments == Dedup.minhashClusters on every token-ful id") {
    import spark.implicits._
    val in = fixtureDir("/tmp/graft-sdedup-batch-in")
    val out = fixtureDir("/tmp/graft-sdedup-batch-out")
    val ckpt = fixtureDir("/tmp/graft-sdedup-batch-ck")
    val texts = (0L until 12L).flatMap(c => Transcripts.conversation(42L, c).map(_._1.text))
    // every text twice, the copy under a later id, so buckets hold several ids
    val docs = (texts ++ texts).zipWithIndex.map { case (t, i) => doc(i.toLong, t, t0 + i) }
    write(docs, in, "overwrite")
    runPass(in, out, ckpt)
    assert(TableIO.donePartitions(out) == Set(0), "all rows in one micro-batch")

    val stream = reps(out)
    val tokenful = docs.filter(d => Dedup.shingles(d.text, 3).nonEmpty).map(_.id).toSet
    assert(stream.keySet == tokenful)
    val batch = Dedup.minhashClusters(docs.toDF(), "id", "text", shingleSize = 3,
        numHashes = 64, bands = 16)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep_id")).toMap
      .filter { case (id, _) => tokenful(id) }
    assert(stream == batch)
    assert(stream.count { case (id, rep) => rep < id } >= texts.size / 2,
      "the fixture has near-dup candidates")
  }
}
