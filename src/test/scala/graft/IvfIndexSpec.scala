package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.knn.{IvfIndex, Similarity}
import graft.tableio.{TableIO, VectorStore}

/** Persisted IVF index: build-once/query-many lifecycle (r3 verdict
  * #3) — correctness vs brute force, genuine partition pruning on the
  * probe, load() round-trip, incremental add/delete consistency, and
  * the VectorStore wiring that keeps the index in sync on mutation.
  */
class IvfIndexSpec extends SparkTestBase with FixtureDirs {
  import spark.implicits._

  private val dim = 8

  private def vec(seed: Long): Array[Float] = {
    // deterministic unit-ish vectors with cluster structure:
    // 4 anchor directions + small per-id wiggle
    val anchor = (seed % 4).toInt
    Array.tabulate(dim) { d =>
      val base = if (d % 4 == anchor) 1.0f else 0.05f
      base + 0.01f * ((graft.util.Hash.mix(seed * dim + d) % 100) / 100.0f)
    }
  }

  private def corpus(n: Int) =
    (0 until n).map(i => (i.toLong, vec(i.toLong))).toDF("id", "emb")

  private def fresh(name: String): String = fixtureDir(s"/tmp/graft-ivfidx-$name")

  private def bruteTopK(df: org.apache.spark.sql.DataFrame, q: Array[Float], k: Int) =
    df.collect()
      .map(r => (r.getLong(0), Similarity.cosine(r.getSeq[Float](1).toArray, q)))
      .sortBy { case (id, s) => (-s, id) }
      .take(k).toSeq

  test("nprobe = nCells equals exact brute force (index partitions the corpus exactly)") {
    val base = fresh("exact")
    val data = corpus(80)
    val idx = IvfIndex.build(spark, data, "id", "emb", base, nCells = 8)
    for (qs <- Seq(3L, 17L, 42L)) {
      val q = vec(qs)
      val got = idx.query(q, k = 5, nprobe = 8).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = bruteTopK(data, q, 5)
      assert(got.map(_._1) == want.map(_._1), s"ids for query $qs")
      got.zip(want).foreach { case (g, w) => assert(math.abs(g._2 - w._2) < 1e-12) }
    }
  }

  test("pruned probe reads ONLY the probed cell directories (inputFiles) with recall ≥ 0.8") {
    val base = fresh("prune")
    val data = corpus(120)
    val idx = IvfIndex.build(spark, data, "id", "emb", base, nCells = 8)
    var recallSum = 0.0
    for (qs <- Seq(1L, 2L, 3L, 6L)) {
      val q = vec(qs)
      val probed = idx.probeCells(q, 2).toSet
      val res = idx.query(q, k = 5, nprobe = 2)
      val files = res.inputFiles
      assert(files.nonEmpty)
      files.foreach { f =>
        val cell = "part_id=(\\d+)".r.findFirstMatchIn(f).map(_.group(1).toInt)
        assert(cell.exists(probed.contains), s"scanned unprobed file $f (probed=$probed)")
      }
      val got = res.collect().map(_.getLong(0)).toSet
      val want = bruteTopK(data, q, 5).map(_._1).toSet
      recallSum += got.intersect(want).size.toDouble / want.size
    }
    assert(recallSum / 4 >= 0.8, s"mean recall ${recallSum / 4}")
  }

  test("load() round-trips centroids and serves identical results") {
    val base = fresh("load")
    val data = corpus(60)
    val built = IvfIndex.build(spark, data, "id", "emb", base, nCells = 4)
    val loaded = IvfIndex.load(spark, base)
    assert(loaded.nCells == built.nCells && loaded.idCol == "id" &&
      loaded.embCol == "emb" && loaded.nAssign == 1)
    built.centroids.zip(loaded.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq)
    }
    val q = vec(5L)
    assert(loaded.query(q, 5, 4).collect().toSeq ==
      built.query(q, 5, 4).collect().toSeq)
  }

  test("topK writes no index and returns build + query's rows (nAssign 1 and 2)") {
    val data = corpus(80)
    for (nAssign <- Seq(1, 2)) {
      val idx = IvfIndex.build(spark, data, "id", "emb", fresh(s"topk$nAssign"),
        nCells = 8, nAssign = nAssign)
      for (qs <- Seq(3L, 17L, 42L)) {
        val q = vec(qs)
        val oneShot = IvfIndex.topK(data, "id", "emb", q, k = 5, nCells = 8, nprobe = 3,
          nAssign = nAssign)
        assert(oneShot.inputFiles.isEmpty) // reads only the in-memory corpus
        assert(oneShot.collect().toSeq == idx.query(q, k = 5, nprobe = 3).collect().toSeq,
          s"nAssign $nAssign, query $qs")
      }
    }
  }

  test("incremental add/delete keeps the index equal to a fresh rebuild (fixed centroids)") {
    val base = fresh("incr")
    val first = corpus(50)
    val idx = IvfIndex.build(spark, first, "id", "emb", base, nCells = 4)
    val extra = (50 until 70).map(i => (i.toLong, vec(i.toLong))).toDF("id", "emb")
    idx.add(extra)
    // redo the same add — id-idempotent, nothing duplicates
    idx.add(extra)
    idx.deleteIdsDf(Seq(3L, 51L).toDF("id"))
    val q = vec(9L)
    val expectDf = corpus(70).filter(!col("id").isin(3L, 51L))
    val want = bruteTopK(expectDf, q, 6)
    val got = idx.query(q, k = 6, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.map(_._1) == want.map(_._1))
    // total row count across cells = corpus minus deletions
    val total = TableIO.read(spark, base).count()
    assert(total == 68, s"index holds $total rows")
  }

  test("VectorStore.attachIvf: add and deleteWhere keep the index consistent") {
    val storeBase = fresh("vstore")
    val vs = new VectorStore(spark, storeBase, nBuckets = 4)
    def rows(r: Range) = r.map(i =>
      (s"doc-$i", s"text $i", vec(i.toLong), if (i % 2 == 0) "web" else "pdf"))
      .toDF("id", "chunk", "embedding", "source")
    vs.add(rows(0 until 40))
    vs.attachIvf("embedding", nCells = 4)
    vs.add(rows(40 until 50)) // index picks up the new rows
    vs.add(rows(45 until 50)) // duplicate ids — index must not double-count
    val deleted = vs.deleteWhere(col("source") === "pdf" && col("id") === "doc-7")
    assert(deleted == 1)
    val idx = vs.ivf.get
    val indexed = TableIO.read(spark, s"$storeBase/_ivf")
      .select("id").collect().map(_.getString(0)).toSet
    val stored = vs.read().select("id").collect().map(_.getString(0)).toSet
    assert(indexed == stored, "index ids diverged from store ids")
    // a query through the synced index equals brute force over the store
    val q = vec(11L)
    val want = vs.read().select("id", "embedding").collect()
      .map(r => (r.getString(0), Similarity.cosine(r.getSeq[Float](1).toArray, q)))
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSeq
    val got = idx.query(q, k = 5, nprobe = 4).collect().map(_.getString(0)).toSeq
    assert(got == want)
  }

  test("deleteIds prunes by manifest id range: untouched cells' files survive byte-identical") {
    val base = fresh("delprune")
    // CONTIGUOUS id blocks per anchor direction (the interleaved
    // default corpus gives every cell a near-full id range — nothing
    // would ever prune): ids 0-39 anchor 0, 40-79 anchor 1, ...
    val data = (0 until 160).map { i =>
      val anchor = i / 40
      val v = Array.tabulate(dim) { d =>
        val b = if (d % 4 == anchor) 1.0f else 0.05f
        b + 0.01f * ((graft.util.Hash.mix(i.toLong * dim + d) % 100) / 100.0f)
      }
      (i.toLong, v)
    }.toDF("id", "emb")
    val idx = IvfIndex.build(spark, data, "id", "emb", base, nCells = 4)
    // pick victim ids from ONE cell; every other cell's range excludes them
    val cells = TableIO.donePartitions(base).toSeq.sorted
    def cellIds(c: Int) = TableIO.readPartitions(spark, base, Seq(c))
      .select("id").collect().map(_.getLong(0)).toSet
    val byCell = cells.map(c => c -> cellIds(c)).toMap
    // ids contiguous within exactly one cell's [min,max] whose hull lies
    // outside every other cell's range
    val victimCell = byCell.maxBy { case (_, ids) => ids.size }._1
    val others = cells.filterNot(_ == victimCell)
    val ranges = others.map(c => byCell(c).min -> byCell(c).max)
    val candidates = byCell(victimCell).filter(v =>
      ranges.forall { case (mn, mx) => v < mn || v > mx }).toSeq.sorted.take(2)
    assume(candidates.nonEmpty, "fixture produced no cell-exclusive ids")
    assume(ranges.forall { case (mn, mx) => candidates.max < mn || candidates.min > mx },
      "the victims' hull overlaps another cell's range")
    // strip the other cells' blooms: only their id range can skip them
    others.foreach { c =>
      val json = TableIO.readManifest(base, c).get
      TableIO.writeManifest(base, c, json.replaceAll(""","id_bloom":"[^"]*"""", ""))
    }
    def snapshot() = others.flatMap { c =>
      val dir = TableIO.partitionDir(base, c)
      java.nio.file.Files.list(dir).iterator().asScala.toSeq
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
    }.toMap
    val before = snapshot()
    idx.deleteIdsDf(candidates.toDF("id"))
    assert(snapshot() == before,
      "a delete confined to one cell's id range rewrote other cells")
    val survivors = TableIO.read(spark, base)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 160L).toSet -- candidates)
  }

  test("deleteIds prunes by manifest BLOOM when every cell's id range overlaps") {
    val base = fresh("bloomprune")
    // the interleaved default corpus gives every cell a near-full id
    // range — range pruning can never skip here; only the bloom can
    val data = corpus(160)
    val idx = IvfIndex.build(spark, data, "id", "emb", base, nCells = 4)
    val cells = TableIO.donePartitions(base).toSeq.sorted
    def cellIds(c: Int) = TableIO.readPartitions(spark, base, Seq(c))
      .select("id").collect().map(_.getLong(0)).toSet
    val byCell = cells.map(c => c -> cellIds(c)).toMap
    val victimCell = byCell.maxBy { case (_, ids) => ids.size }._1
    val others = cells.filterNot(_ == victimCell)
    // victims chosen strictly INSIDE every other cell's [min,max] so a
    // range-only pruner would rewrite everything
    val victims = byCell(victimCell).filter(v =>
      others.forall(c => v > byCell(c).min && v < byCell(c).max)).take(2).toSeq
    assume(victims.nonEmpty, "fixture produced no range-covered victim ids")
    def snapshot() = others.flatMap { c =>
      val dir = TableIO.partitionDir(base, c)
      java.nio.file.Files.list(dir).iterator().asScala.toSeq
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p))
    }.toMap
    val before = snapshot()
    idx.deleteIdsDf(victims.toDF("id"))
    assert(snapshot() == before,
      "a delete bloom-confined to one cell rewrote range-overlapping cells")
    val survivors = TableIO.read(spark, base)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 160L).toSet -- victims)

    // distributed variant: same pruning with the ids arriving as a
    // DataFrame (hull covers everything; the broadcast-bloom pass must
    // bring back only the hit cells)
    val victims2 = byCell(victimCell).filter(v =>
      !victims.contains(v) &&
        others.forall(c => v > byCell(c).min && v < byCell(c).max)).take(2).toSeq
    assume(victims2.nonEmpty, "fixture produced no second victim set")
    import spark.implicits._
    val before2 = snapshot()
    idx.deleteIdsDf(victims2.toDF("id"))
    assert(snapshot() == before2,
      "deleteIdsDf's bloom pass rewrote cells containing none of the ids")
    val survivors2 = TableIO.read(spark, base)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors2 == (0L until 160L).toSet -- victims -- victims2)
  }

  test("deleteIdsDf: bloom pass is one distributed job; rewrites only hit cells") {
    val base = fresh("deljobs")
    val idx = IvfIndex.build(spark, corpus(160), "id", "emb", base, nCells = 8)
    val cells = TableIO.donePartitions(base).toSeq.sorted
    assert(cells.size >= 4) // the 4-anchor corpus may leave some of the 8 cells empty
    // one victim from one cell, range-covered by every other cell
    val byCell = cells.map(c => c -> TableIO.readPartitions(spark, base, Seq(c))
      .select("id").collect().map(_.getLong(0)).toSet).toMap
    val victimCell = byCell.maxBy(_._2.size)._1
    val victim = byCell(victimCell).find(v =>
      cells.filterNot(_ == victimCell)
        .forall(c => v > byCell(c).min && v < byCell(c).max))
    assume(victim.nonEmpty, "no range-covered victim")
    import spark.implicits._
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      idx.deleteIdsDf(Seq(victim.get).toDF("id"))
      var last = -1; var stable = 0; var waited = 0
      while (stable < 4 && waited < 100) {
        Thread.sleep(100); waited += 1
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // cache fill + hull agg + ONE bloom-hit pass + the hit cells' one
    // staged rewrite (staged write + stats agg of the read-back) = 9 —
    // CONSTANT in cell count; the pre-bloom shape
    // rewrote EVERY range-overlapping cell at ~4 jobs each (≥ 24 at
    // the ≥ 6 cells this fixture builds)
    assert(jobs.get() <= 12, s"deleteIdsDf ran ${jobs.get()} jobs for a 1-cell delete")
    val survivors = TableIO.read(spark, base)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 160L).toSet - victim.get)
  }

  test("add commits all receiving cells with a job count independent of cell count") {
    val base = fresh("addjobs")
    val idx = IvfIndex.build(spark, corpus(80), "id", "emb", base, nCells = 8)
    val batch = (80 until 160).map(i => (i.toLong, vec(i.toLong))).toDF("id", "emb")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      idx.add(batch) // touches all 8 cells (anchored corpus spreads evenly)
      // listener bus is async — wait for the count to go quiescent
      var last = -1
      var stable = 0
      var waited = 0
      while (stable < 4 && waited < 100) {
        Thread.sleep(100); waited += 1
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    val touched = TableIO.donePartitions(base).size
    assert(touched == 8, s"expected all 8 cells committed, saw $touched")
    // cache-fill + cell-id distinct + existing read + staging write +
    // stats agg + parquet listing/schema jobs ≈ 9, CONSTANT in cell
    // count — the old per-cell commit shape ran ≥ 2 jobs PER CELL
    // (≥ 16 here); the bound sits between the two shapes
    assert(jobs.get() <= 12, s"add ran ${jobs.get()} jobs — per-cell commit shape is back")
    val total = TableIO.read(spark, base).count()
    assert(total == 160)
  }

  test("add stores an id its batch carries twice once, and query returns it once") {
    val base = fresh("batchdup")
    val idx = IvfIndex.build(spark, corpus(40), "id", "emb", base, nCells = 4)
    val twice = Seq((100L, vec(100L)), (100L, vec(100L))).toDF("id", "emb")
    idx.add(twice)
    val held = TableIO.read(spark, base).filter(col("id") === 100L).count()
    assert(held == 1, s"index holds id 100 $held times")
    val got = idx.query(vec(100L), k = 5, nprobe = 4).collect().map(_.getLong(0)).toSeq
    assert(got.count(_ == 100L) == 1, s"query returned $got")
    assert(TableIO.read(spark, base).count() == 41)
  }

  test("a cell manifest without id range or bloom gets the conservative rewrite") {
    val base = fresh("legacy")
    val idx = IvfIndex.build(spark, corpus(80), "id", "emb", base, nCells = 4)
    val cells = TableIO.donePartitions(base).toSeq.sorted
    assert(cells.size >= 2)
    // manifests with the row count only: nothing can prune these cells
    cells.foreach { c =>
      val rows = TableIO.readPartitions(spark, base, Seq(c)).count()
      TableIO.writeManifest(base, c, s"""{"part_id":$c,"rows":$rows}""")
    }
    def files(c: Int) = java.nio.file.Files.list(TableIO.partitionDir(base, c))
      .iterator().asScala.map(_.getFileName.toString).toSet
    val before = cells.map(c => c -> files(c)).toMap
    idx.deleteIdsDf(Seq(5L).toDF("id"))
    cells.foreach { c =>
      assert(files(c) != before(c), s"cell $c was not rewritten")
      assert(TableIO.readManifest(base, c).get.contains("\"id_bloom\":"),
        s"cell $c's rewritten manifest carries no bloom")
    }
    val survivors = TableIO.read(spark, base).select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 80L).toSet - 5L)
  }

  test("a deleteIdsDf rewriting every cell runs one staged write and drops the cell it empties") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val base = fresh("delwrites")
    val idx = IvfIndex.build(spark, corpus(80), "id", "emb", base, nCells = 4)
    val cells = TableIO.donePartitions(base).toSeq.sorted
    assert(cells.size >= 3)
    val byCell = cells.map(c => c -> TableIO.readPartitions(spark, base, Seq(c))
      .select("id").collect().map(_.getLong(0)).toSet).toMap
    // every id of the first cell, one id of each other cell
    val victims = byCell(cells.head) ++ cells.tail.map(byCell(_).min)
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand"))
          writes.incrementAndGet()
        else if (funcName == "count") marker.countDown()
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      idx.deleteIdsDf(victims.toSeq.toDF("id"))
      // the listener bus delivers in order: once this count is seen,
      // every execution of the delete has been
      spark.range(1).count()
      assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    assert(writes.get() == 1, s"${writes.get()} writes")
    assert(TableIO.donePartitions(base) == cells.tail.toSet)
    assert(!java.nio.file.Files.exists(TableIO.partitionDir(base, cells.head)))
    val survivors = TableIO.read(spark, base).select("id").collect().map(_.getLong(0)).toSet
    assert(survivors == (0L until 80L).toSet -- victims)
  }
}
