package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.tableio.{TableIO, VectorStore}

/** S8 store-mutation roundtrip (reference data_manager.py:296-390):
  * add / metadata-filter get / delete-by-filter / delete-by-ids /
  * reset / export — each mutation a copy-on-write rewrite of ONLY the
  * affected partitions.
  */
class VectorStoreSpec extends SparkTestBase with FixtureDirs {
  import spark.implicits._

  private def freshStore(name: String, nBuckets: Int = 4): (VectorStore, String) = {
    val base = fixtureDir(s"/tmp/graft-vstore-$name")
    (new VectorStore(spark, base, nBuckets), base)
  }

  private def rows(ids: Range, source: String) =
    ids.map(i => (s"doc-$i", s"chunk text $i", Array.fill(4)(i.toFloat), source))
      .toDF("id", "chunk", "embedding", "source")

  test("add/get roundtrip with metadata filter; second add appends") {
    val (vs, _) = freshStore("roundtrip")
    vs.add(rows(0 until 20, "web"))
    assert(vs.count() == 20)
    vs.add(rows(20 until 30, "pdf"))
    assert(vs.count() == 30)
    // metadata filter (collection.get where=)
    val pdf = vs.read().filter(col("source") === "pdf")
      .select("id").collect().map(_.getString(0)).toSet
    assert(pdf == (20 until 30).map(i => s"doc-$i").toSet)
  }

  test("a batch carrying the same id twice stores it once (within-batch dedup, ADVICE r3)") {
    val (vs, _) = freshStore("batchdup")
    val dup = rows(0 until 5, "web").unionByName(rows(0 until 5, "web"))
    vs.add(dup)
    assert(vs.count() == 5)
    assert(vs.read().groupBy("id").count().filter(col("count") > 1).count() == 0)
  }

  test("deleteWhere removes matches, returns count, rewrites only affected partitions") {
    val (vs, base) = freshStore("delete")
    vs.add(rows(0 until 40, "web"))
    // snapshot per-partition file mtimes before the delete
    val before = TableIO.donePartitions(base).map { p =>
      p -> java.nio.file.Files.getLastModifiedTime(TableIO.manifestPath(base, p)).toMillis
    }.toMap
    Thread.sleep(20)
    val deleted = vs.deleteWhere(col("id") === "doc-7" || col("id") === "doc-13")
    assert(deleted == 2L)
    assert(vs.count() == 38)
    assert(!vs.read().select("id").collect().map(_.getString(0)).toSet
      .exists(Set("doc-7", "doc-13")))
    // only the buckets holding doc-7 / doc-13 were rewritten
    val touched = TableIO.donePartitions(base).count { p =>
      java.nio.file.Files.getLastModifiedTime(TableIO.manifestPath(base, p)).toMillis !=
        before(p)
    }
    assert(touched >= 1 && touched <= 2, s"rewrote $touched partitions")
    // no-match delete rewrites nothing and returns 0
    assert(vs.deleteWhere(col("id") === "doc-does-not-exist") == 0L)
  }

  test("deleteByIds; emptying a partition drops it cleanly") {
    val (vs, _) = freshStore("byids")
    vs.add(rows(0 until 12, "web"))
    assert(vs.deleteByIds(Seq("doc-1", "doc-2", "doc-3")) == 3L)
    assert(vs.count() == 9)
    // delete everything → store reads as empty without schema errors
    assert(vs.deleteWhere(lit(true)) == 9L)
    assert(vs.isEmpty)
  }

  test("deleteWhere with a NULL-evaluating predicate keeps (and doesn't count) those rows") {
    // SQL three-valued logic: cast("abc") is NULL so cond is NULL —
    // a bare !cond would silently drop the row
    val (vs, _) = freshStore("nullpred")
    vs.add(Seq(("abc", "t", Array(0f), "web"), ("7", "t", Array(0f), "web"),
      ("14", "t", Array(0f), "web"), ("3", "t", Array(0f), "web"))
      .toDF("id", "chunk", "embedding", "source"))
    val deleted = vs.deleteWhere(expr("try_cast(id AS BIGINT)") % 7 === 0)
    assert(deleted == 2L) // "7" and "14"
    val left = vs.read().select("id").collect().map(_.getString(0)).toSet
    assert(left == Set("abc", "3"), s"got $left")
  }

  test("crash between partition move and manifest write: store stays consistent, delete re-run is a no-op") {
    val (vs, base) = freshStore("crash")
    vs.add(rows(0 until 16, "web"))
    // simulate the crash: rewrite one affected partition WITHOUT its
    // manifest update (TableIO's manifest write is the commit point)
    val full = TableIO.read(spark, base)
    val victim = full.filter(col("id") === "doc-5")
      .select(TableIO.PART_COL).head().getInt(0)
    val keep = TableIO.readPartitions(spark, base, Seq(victim)).drop(TableIO.PART_COL)
      .filter(col("id") =!= "doc-5")
    val staged = Paths.get(base, "_staging", "crash")
    keep.write.parquet(staged.toString)
    TableIO.deleteRecursive(TableIO.partitionDir(base, victim))
    // moved into place...
    Files.move(staged, TableIO.partitionDir(base, victim), StandardCopyOption.ATOMIC_MOVE)
    TableIO.deleteRecursive(staged.getParent)
    // ...crash here: manifest not rewritten. Partition is still listed
    // (old manifest), directory has the post-delete data → no dup, no
    // phantom row
    assert(vs.count() == 15)
    assert(!vs.read().select("id").collect().map(_.getString(0)).contains("doc-5"))
    // re-running the delete (the resume path) is a no-op
    assert(vs.deleteByIds(Seq("doc-5")) == 0L)
    assert(vs.count() == 15)
  }

  test("a partition dropped down to its directory (manifest gone first) reads as dropped; delete re-run and a later add converge") {
    val (vs, base) = freshStore("orphan")
    vs.add(rows(0 until 16, "web"))
    val byBucket = TableIO.read(spark, base).select(col("id"), col(TableIO.PART_COL))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    val bucket = byBucket.head._2
    val gone = byBucket.collect { case (id, b) if b == bucket => id }.toSet
    // the crash inside a delete that empties `bucket`: the drop removed
    // the manifest, and the directory still holds the deleted rows
    Files.delete(TableIO.manifestPath(base, bucket))
    assert(Files.isDirectory(TableIO.partitionDir(base, bucket)))
    def ids = vs.read().select("id").collect().map(_.getString(0)).toSet
    val expected = (0 until 16).map(i => s"doc-$i").toSet -- gone
    assert(ids == expected)
    // re-running the delete finds nothing left to delete
    assert(vs.deleteByIds(gone.toSeq) == 0L)
    assert(ids == expected)
    // an add into that bucket replaces the orphan directory
    val into = rows(16 until 200, "pdf")
      .filter(pmod(xxhash64(col("id")), lit(4)).cast("int") === bucket)
      .select("id").collect().map(_.getString(0)).take(3).toSet
    assert(into.nonEmpty)
    vs.add(rows(16 until 200, "pdf").filter(col("id").isin(into.toSeq: _*)))
    assert(ids == expected ++ into)
    assert(TableIO.readPartitions(spark, base, Seq(bucket)).select("id")
      .collect().map(_.getString(0)).toSet == into)
  }

  test("add resume is idempotent: re-applying a batch that already landed merges zero new rows (ADVICE r2)") {
    val (vs, _) = freshStore("addresume")
    vs.add(rows(0 until 10, "web"))
    vs.add(rows(10 until 14, "pdf"))
    // the crash window: the commit moved the merged data into place
    // but writeManifest never ran → the job reruns the SAME add.
    // With the id anti-join the redo unions zero new rows instead of
    // duplicating the batch.
    vs.add(rows(10 until 14, "pdf"))
    assert(vs.count() == 14)
    val ids = vs.read().select("id").collect().map(_.getString(0))
    assert(ids.length == ids.distinct.length, "duplicate ids after resumed add")
    // and genuinely new ids still append
    vs.add(rows(14 until 16, "pdf"))
    assert(vs.count() == 16)
  }

  test("exportJson streams via toLocalIterator across many partitions (no whole-store collect)") {
    val (vs, _) = freshStore("streamexport")
    vs.add(rows(0 until 200, "web")) // spread over all 4 buckets
    val out = vs.exportJson(fixtureDir("/tmp/graft-vstore-export") + "/stream.json", "big")
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), java.nio.charset.StandardCharsets.UTF_8)
    assert(json.contains("\"total_documents\": 200"))
    // every row present exactly once, valid array separators
    (0 until 200).foreach(i => assert(json.contains(s""""doc-$i"""")))
    assert(json.split("\n").count(_.nonEmpty) == 202) // header + 200 rows + closer
  }

  test("reset drops the collection; export writes the reference JSON shape") {
    val (vs, _) = freshStore("reset")
    vs.add(rows(0 until 5, "web"))
    val out = vs.exportJson(fixtureDir("/tmp/graft-vstore-export") + "/export.json", "curated")
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)), java.nio.charset.StandardCharsets.UTF_8)
    assert(json.contains("\"collection_name\": \"curated\""))
    assert(json.contains("\"total_documents\": 5"))
    assert(json.contains("doc-3"))
    vs.reset()
    assert(vs.isEmpty)
    assert(vs.count() == 0L)
  }

  test("exportJson escapes a collection name with a quote, a backslash and a newline") {
    val (vs, _) = freshStore("oddname")
    vs.add(rows(0 until 3, "web"))
    val name = "q\"u\\o\n"
    val out = vs.exportJson(fixtureDir("/tmp/graft-vstore-export") + "/odd.json", name)
    val j = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readAllBytes(Paths.get(out)))
    assert(j.get("collection_name").asText == name)
    assert(j.get("total_documents").asLong == 3L)
    assert(j.get("documents").size == 3)
  }

  /** Spark jobs `body` starts, counted in a job group of its own. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"vstore-jobs-${System.nanoTime()}"
    sc.setJobGroup(group, "VectorStore mutation")
    try body finally sc.clearJobGroup()
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  test("an add touching all 16 buckets runs no more Spark jobs than one touching 2") {
    val (vs, base) = freshStore("addjobs", nBuckets = 16)
    vs.add(rows(0 until 200, "web"))
    assert(TableIO.donePartitions(base).size == 16)
    // new ids, bucketed as the store buckets them
    val bucketed = rows(200 until 600, "pdf")
      .select(col("id"), pmod(xxhash64(col("id")), lit(16)).cast("int"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    val two = bucketed.map(_._2).distinct.sorted.take(2).toSet
    val intoTwo = bucketed.collect { case (id, b) if two(b) => id }.take(6).toSet
    val intoAll = bucketed.map(_._1).filterNot(intoTwo).take(200).toSet
    def buckets(ids: Set[String]) = bucketed.filter(r => ids(r._1)).map(_._2).toSet
    assert(buckets(intoTwo) == two && buckets(intoAll).size == 16)
    def batch(ids: Set[String]) = rows(200 until 600, "pdf").filter(col("id").isin(ids.toSeq: _*))
    val jobs2 = jobsOf(vs.add(batch(intoTwo)))
    val jobs16 = jobsOf(vs.add(batch(intoAll)))
    assert(jobs16 <= jobs2, s"16-bucket add ran $jobs16 jobs, 2-bucket add $jobs2")
    assert(vs.count() == 200 + intoTwo.size + intoAll.size)
  }

  test("a delete touching all 16 buckets runs no more Spark jobs than one touching 2") {
    val (vs, base) = freshStore("deletejobs", nBuckets = 16)
    vs.add(rows(0 until 200, "web"))
    assert(TableIO.donePartitions(base).size == 16)
    val bucketed = TableIO.read(spark, base).select(col("id"), col(TableIO.PART_COL))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
    val byBucket = bucketed.groupBy(_._2).map { case (b, rs) => b -> rs.map(_._1).sorted }
    val two = byBucket.keys.toSeq.sorted.take(2).toSet
    val fromTwo = two.flatMap(byBucket(_).take(2))
    val fromAll = byBucket.values.map(_.last).toSet
    def buckets(ids: Set[String]) = bucketed.filter(r => ids(r._1)).map(_._2).toSet
    assert(buckets(fromTwo) == two && buckets(fromAll).size == 16)
    var deleted2, deleted16 = 0L
    val jobs2 = jobsOf { deleted2 = vs.deleteByIds(fromTwo.toSeq) }
    val jobs16 = jobsOf { deleted16 = vs.deleteByIds(fromAll.toSeq) }
    assert(jobs16 <= jobs2, s"16-bucket delete ran $jobs16 jobs, 2-bucket delete $jobs2")
    assert(deleted2 == fromTwo.size && deleted16 == 16)
    assert(vs.read().select("id").collect().map(_.getString(0)).toSet ==
      bucketed.map(_._1).toSet -- fromTwo -- fromAll)
  }
}
