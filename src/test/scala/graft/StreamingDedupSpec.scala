package graft

import java.sql.Timestamp

import graft.dedup.Dedup
import graft.streaming.StreamingDedup

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

  private def sinkAssigns(out: String): Set[(Int, Long, Long, Long)] =
    spark.read.parquet(out).collect()
      .map(r => (r.getAs[Int]("band"), r.getAs[Long]("bh"),
        r.getAs[Long]("id"), r.getAs[Long]("rep_id"))).toSet

  test("watermarked MinHash bucket-min: single pass matches the exact oracle; " +
    "state survives checkpointed re-invocation; idle buckets evict on event time") {
    import spark.implicits._
    val in = fixtureDir("/tmp/graft-sdedup-in")
    val out = fixtureDir("/tmp/graft-sdedup-out")
    val ckpt = fixtureDir("/tmp/graft-sdedup-ck")
    val t0 = 1700000000000L
    def doc(id: Long, text: String, ms: Long) = SDoc(id, text, new Timestamp(ms))
    val dupText = "the quick brown fox jumps over the lazy dog near the quiet river bank"
    val nearText = "the quick brown fox jumps over the lazy cat near the quiet river bank"
    val batch1 = Seq(
      doc(0L, dupText, t0),
      doc(1L, dupText, t0 + 1000), // exact dup of 0 → all 16 buckets shared
      doc(2L, nearText, t0 + 2000), // near dup → shares whatever bands the sketch says
      doc(3L, "completely different content about spark shuffle partitioning", t0 + 3000),
      doc(4L, "@@@ ###", t0 + 4000)) // token-less: no bands, no candidates
    def write(docs: Seq[SDoc], mode: String): Unit =
      docs.toDF().write.mode(mode).parquet(in)

    // pass 1: everything in one micro-batch == the batch bucket-min
    write(batch1, "overwrite")
    runPass(in, out, ckpt)
    assert(sinkAssigns(out) == expectedAssigns(batch1))
    // the exact-dup pair shares a representative on every band
    val rep1 = StreamingDedup.repAssignments(spark.read.parquet(out))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep_id")).toMap
    assert(rep1(0L) == 0L && rep1(1L) == 0L)
    assert(!rep1.contains(4L)) // token-less row produced no candidates

    // pass 2: a replayed duplicate (new id 100) dedups against the
    // RETAINED state — checkpoint carries the bucket minimums
    val batch2 = Seq(doc(100L, dupText, t0 + 10 * 1000))
    write(batch2, "append")
    runPass(in, out, ckpt)
    val assigns2 = sinkAssigns(out)
    assert(assigns2 == expectedAssigns(batch1 ++ batch2))
    val rep2 = StreamingDedup.repAssignments(spark.read.parquet(out))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep_id")).toMap
    assert(rep2(100L) == 0L, "cross-batch near-dup must resolve to the retained rep")

    // pass 3: advance the watermark far past the horizon (unrelated
    // doc at t0+10min, delay 60s) — then pass 4 fires the timeouts
    // for every idle bucket (timeouts process on batches where the
    // key has no data), so the re-replayed duplicate (id 200) now
    // forms a FRESH bucket with itself as representative: eviction
    // genuinely bounded the state
    write(Seq(doc(150L, "unrelated watermark advancing content entirely new words", t0 + 600 * 1000)), "append")
    runPass(in, out, ckpt)
    write(Seq(doc(200L, dupText, t0 + 601 * 1000)), "append")
    runPass(in, out, ckpt)
    val rep4 = StreamingDedup.repAssignments(spark.read.parquet(out))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep_id")).toMap
    assert(rep4(200L) == 200L,
      s"expected evicted state → self-rep, got ${rep4(200L)}")
    // history is immutable: earlier assignments unchanged
    assert(rep4(100L) == 0L && rep4(0L) == 0L)
  }
}
