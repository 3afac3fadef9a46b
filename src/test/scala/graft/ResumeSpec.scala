package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.checkpoint.Resume
import graft.pipeline.Curate
import graft.rules.QualityRules
import graft.scrub.Scrubber
import graft.synth.Transcripts
import graft.tableio.TableIO

/** Kill-after-partition-k resume fixture (FIXTURES.md F5, SURVEY.md
  * §7.2 step 9): interrupted run + rerun must (a) not recompute
  * completed partitions and (b) produce output identical to an
  * uninterrupted run.
  */
class ResumeSpec extends SparkTestBase {

  private def freshDir(name: String): String = {
    val p = Paths.get(s"/tmp/graft-test-$name-${System.nanoTime()}")
    Files.createDirectories(p)
    p.toString
  }

  private def collectOutput(base: String): Seq[Seq[Any]] =
    TableIO.read(spark, base)
      .select("conv_id", "turn_idx", "keep", "drop_reason", "scrubbed_text", "part_id")
      .collect().map(_.toSeq).toSeq.sortBy(_.toString)

  /** Every committed file's rows in file order, keyed by its partition
    * and its `part-NNNNN` write-task index (the rest of a file name
    * differs between runs).
    */
  private def committedFiles(base: String): Map[(Int, String), Seq[Row]] = {
    val task = "^(part-\\d+)-.*".r
    TableIO.donePartitions(base).toSeq.flatMap { p =>
      TableIO.parquetFiles(TableIO.partitionDir(base, p)).map { f =>
        val task(idx) = f.getFileName.toString
        (p, idx) -> spark.read.parquet(f.toString).collect().toSeq
      }
    }.toMap
  }

  /** `body` under a `spark.sql.files.maxPartitionBytes` low enough that
    * `Resume.run`, at its default `writePartitions`, puts every partition
    * of `in` in a wave of its own: the wave budget is below the bytes of
    * any two of them.
    */
  private def oneWaveEach[A](in: String)(body: => A): A = {
    val bytes = Resume.listInputPartitions(in)
      .map(p => TableIO.parquetFiles(TableIO.partitionDir(in, p)).map(Files.size).sum)
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, math.max(1L, (bytes.sorted.take(2).sum - 1) / Resume.defaultWritePartitions))
    try body finally spark.conf.unset(key)
  }

  test("kill after k partitions → resume completes without recompute; output byte-identical") {
    val in = freshDir("in")
    val outA = freshDir("outA")
    val outB = freshDir("outB")
    try {
      val turns = Transcripts.dataset(spark, 60L).toDF()
      TableIO.writeBucketedInput(turns, in, nBuckets = 6)
      assert(Resume.listInputPartitions(in).toSet == (0 until 6).toSet)

      // uninterrupted reference run
      val full = Resume.run(spark, in, outB)
      assert(full.processed.size == 6)

      // interrupted run: only 3 partitions, then "killed"
      val r1 = Resume.run(spark, in, outA, maxPartitions = 3)
      assert(r1.processed.size == 3)
      assert(TableIO.donePartitions(outA).size == 3)

      // record bytes of completed partition files
      def fileBytes(base: String, parts: Seq[Int]): Map[String, Long] =
        parts.flatMap { p =>
          val d = TableIO.partitionDir(base, p)
          import scala.jdk.CollectionConverters._
          Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_))
            .map(f => f.toString -> Files.getLastModifiedTime(f).toMillis)
        }.toMap
      val before = fileBytes(outA, r1.processed)

      // resume
      val r2 = Resume.run(spark, in, outA)
      assert(r2.processed.size == 3)
      assert(r2.skipped.toSet == r1.processed.toSet)
      assert(TableIO.donePartitions(outA).size == 6)

      // completed partitions untouched (same files, same mtimes)
      val after = fileBytes(outA, r1.processed)
      assert(after == before, "completed partitions were recomputed")

      // final output identical to the uninterrupted run
      assert(collectOutput(outA) == collectOutput(outB))

      // manifests carry lineage + metrics
      val m = TableIO.readManifest(outA, r1.processed.head).get
      assert(m.contains("\"turns_seen\""))
      assert(m.contains("\"dropped_by_rule\""))
      assert(m.contains("\"scrub_hit_counts\""))
      assert(m.contains("\"input\""))
    } finally {
      Seq(in, outA, outB).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("crash between data commit and manifest → partition reprocessed, result still identical") {
    val in = freshDir("in2")
    val out = freshDir("out2")
    try {
      val turns = Transcripts.dataset(spark, 20L).toDF()
      TableIO.writeBucketedInput(turns, in, nBuckets = 3)
      Resume.run(spark, in, out, maxPartitions = 2)
      // simulate crash-after-commit-before-manifest on partition done last:
      val victim = TableIO.donePartitions(out).max
      Files.delete(TableIO.manifestPath(out, victim))
      assert(TableIO.donePartitions(out).size == 1)
      val r = Resume.run(spark, in, out) // one wave of the two left
      assert(r.processed.contains(victim))
      assert(TableIO.donePartitions(out).size == 3)
      val ref = freshDir("out2ref")
      try {
        // a wave per partition == one wave of the two left
        val (_, jobs) = jobsIn("one-wave-each")(oneWaveEach(in)(Resume.run(spark, in, ref)))
        assert(jobs == 6, s"three partitions in their own waves ran $jobs jobs")
        val files = committedFiles(out)
        assert(files.nonEmpty && files.values.forall(_.nonEmpty))
        val refFiles = committedFiles(ref)
        assert(files.keySet == refFiles.keySet)
        files.foreach { case (k, rows) => assert(rows == refFiles(k), s"file $k") }
        (0 until 3).foreach { p =>
          assert(TableIO.readManifest(out, p) == TableIO.readManifest(ref, p), s"manifest $p")
        }
      } finally TableIO.deleteRecursive(Paths.get(ref))
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("every partition's observed manifest == Curate.metrics over its committed files") {
    val in = freshDir("in3")
    val out = freshDir("out3")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 60L).toDF(), in, nBuckets = 3)
      Resume.run(spark, in, out)
      val parts = TableIO.donePartitions(out).toSeq.sorted
      assert(parts == Seq(0, 1, 2))
      val manifests = parts.map { p =>
        val json = TableIO.readManifest(out, p).get
        val m = Resume.Manifest.parse(json)
        assert(m.toJson == json, "manifest codec must round-trip the file bytes")
        // oracle 1: the read-back aggregate over the committed files
        // (Curate.metrics aggregates the same counter, Curate.partMetrics)
        val committed = spark.read.parquet(TableIO.partitionDir(out, p).toString)
        val r = Curate.metrics(committed, p).head()
        def counts(c: String) = r.getMap[String, Long](r.fieldIndex(c)).toMap
        assert(m == Resume.Manifest(p, s"$in/${TableIO.PART_COL}=$p",
          r.getAs[Long]("turns_seen"), r.getAs[Long]("turns_kept"),
          r.getAs[Long]("turns_dropped"), counts("dropped_by_rule"),
          counts("scrub_hit_counts")), s"partition $p")
        // oracle 2: a driver-side tally of the committed rows
        val rows = committed.select("keep", "drop_reason", "scrub_hits").collect()
        assert(m.turnsSeen == rows.length)
        assert(m.turnsKept == rows.count(_.getBoolean(0)))
        assert(m.turnsDropped == rows.count(!_.getBoolean(0)))
        assert(m.droppedByRule == rows.filter(!_.isNullAt(1))
          .groupBy(_.getString(1)).map { case (k, v) => k -> v.length.toLong })
        assert(m.scrubHitCounts == rows.flatMap(_.getMap[String, Int](2).toSeq)
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2.toLong).sum })
        m
      }
      // the fixture exercises several drop reasons and every scrub kind
      assert(manifests.flatMap(_.droppedByRule.keys).distinct.size >= 3)
      assert(manifests.flatMap(_.scrubHitCounts.keys).toSet ==
        Scrubber.patternSpecs.map(_._1).toSet)
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  /** Spark jobs `body` starts inside a fresh job group. */
  private def jobsIn[A](label: String)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"$label-${System.nanoTime()}"
    sc.setJobGroup(group, label)
    val a = try body finally sc.clearJobGroup()
    (a, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  test("a partition runs at most two Spark jobs: shuffle map, write") {
    val in = freshDir("in4")
    val out = freshDir("out4")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 20L).toDF(), in, nBuckets = 2)
      (0 until 2).foreach { _ =>
        val (r, jobs) = jobsIn("resume-partition")(Resume.run(spark, in, out, maxPartitions = 1))
        assert(r.processed.size == 1)
        assert(jobs <= 2, s"partition ${r.processed.head} ran $jobs jobs")
      }
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("a wave of two partitions runs exactly two Spark jobs in the caller's group") {
    val in = freshDir("in6")
    val out = freshDir("out6")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 20L).toDF(), in, nBuckets = 2)
      val (r, jobs) = jobsIn("resume-run")(Resume.run(spark, in, out))
      assert(r.processed == Seq(0, 1))
      // one wave, as their bytes are far below the wave budget: its
      // shuffle map stage and its write, both on the caller's thread
      assert(jobs == 2, s"two partitions ran $jobs jobs in the group")
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("64 small partitions commit in one wave: two Spark jobs and a file listing") {
    val in = freshDir("in11")
    val out = freshDir("out11")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 200L).toDF(), in, nBuckets = 64)
      val parts = Resume.listInputPartitions(in).sorted
      // a read of more directories than this lists them in a Spark job
      val listing = spark.sessionState.conf.parallelPartitionDiscoveryThreshold
      assert(parts.size > listing)
      val (r, jobs) = jobsIn("resume-64")(Resume.run(spark, in, out))
      assert(r.processed == parts)
      assert(jobs == 3, s"${parts.size} partitions ran $jobs jobs, not one wave's 2 + 1 listing")
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("waves: consecutive partitions within the byte budget, at least one each") {
    val parts = Seq(0 -> 5L, 1 -> 5L, 2 -> 1L, 3 -> 20L, 4 -> 3L, 5 -> 7L)
    assert(Resume.waves(parts, 10) == Seq(Seq(0, 1), Seq(2), Seq(3), Seq(4, 5)))
    assert(Resume.waves(parts, 0) == parts.map(p => Seq(p._1)))
    assert(Resume.waves(parts, Long.MaxValue / 2) == Seq(parts.map(_._1)))
    assert(Resume.waves(Nil, 10).isEmpty)
  }

  test("a wave's write plan runs the kernel above the salted shuffle") {
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.execution.{ProjectExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.util.QueryExecutionListener
    object Plans extends AdaptiveSparkPlanHelper
    val in = freshDir("in8")
    val out = freshDir("out8")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      // only writes into `out`: the listener bus may still deliver the
      // input table's write after the listener is registered
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val plan = qe.executedPlan.toString
        if (plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(out))
          writes.add(qe.executedPlan)
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 20L).toDF(), in, nBuckets = 2)
      spark.listenerManager.register(listener)
      Resume.run(spark, in, out)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (writes.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
      assert(writes.size == 1, s"${writes.size} writes")
      val plan = writes.peek()
      val kernel = Plans.find(plan) {
        case p: ProjectExec => p.projectList.exists(_.exists(_.isInstanceOf[ScalaUDF]))
        case _ => false
      }
      assert(kernel.isDefined, plan.toString)
      val isShuffle: SparkPlan => Boolean = _.isInstanceOf[ShuffleExchangeLike]
      assert(Plans.collect(plan) { case e if isShuffle(e) => e }.size == 1, plan.toString)
      assert(Plans.find(kernel.get)(isShuffle).isDefined, s"kernel below the shuffle: $plan")
    } finally {
      spark.listenerManager.unregister(listener)
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("an input partition of only a schema-only file commits an empty partition and a zero manifest") {
    val in = freshDir("in9")
    val alone = freshDir("out9a")
    val paired = freshDir("out9b")
    val scratch = freshDir("schema-only")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 20L).toDF(), in, nBuckets = 2)
      // bucket 1 keeps only a schema-only parquet file
      val bucket1 = TableIO.partitionDir(in, 1)
      val schemaOnly = Paths.get(scratch, "data")
      spark.read.parquet(bucket1.toString).limit(0).write.parquet(schemaOnly.toString)
      TableIO.deleteRecursive(bucket1)
      Files.move(schemaOnly, bucket1)
      val turns0 = spark.read.parquet(TableIO.partitionDir(in, 0).toString).count()
      // in a wave with the non-empty bucket 0, and in a wave of its own
      assert(Resume.run(spark, in, paired).processed == Seq(0, 1))
      assert(oneWaveEach(in)(Resume.run(spark, in, alone)).processed == Seq(0, 1))
      Seq(paired, alone).foreach { out =>
        val m = Resume.Manifest.parse(TableIO.readManifest(out, 1).get)
        assert(m == Resume.Manifest(1, s"$in/${TableIO.PART_COL}=1", 0, 0, 0, Map.empty, Map.empty))
        val dir1 = TableIO.partitionDir(out, 1)
        assert(TableIO.parquetFiles(dir1).size == 1)
        assert(spark.read.parquet(dir1.toString).schema ==
          spark.read.parquet(TableIO.partitionDir(out, 0).toString).schema)
        val committed = TableIO.read(spark, out)
        assert(committed.count() == turns0)
        assert(committed.filter(committed("part_id") === 1).count() == 0)
      }
      assert(TableIO.readManifest(paired, 0) == TableIO.readManifest(alone, 0))
    } finally {
      Seq(in, alone, paired, scratch).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("a curated commit writes text and scrubbed_text without a parquet dictionary") {
    val in = freshDir("in10")
    val out = freshDir("out10")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 20L).toDF(), in, nBuckets = 1)
      Resume.run(spark, in, out)
      val files = TableIO.parquetFiles(TableIO.partitionDir(out, 0))
      assert(files.nonEmpty)
      import scala.jdk.CollectionConverters._
      files.foreach { f =>
        val r = TableIO.openFooter(new org.apache.hadoop.fs.Path(f.toUri),
          spark.sparkContext.hadoopConfiguration)
        val chunks = try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).toSeq
          finally r.close()
        def dictionary(col: String) = chunks.filter(_.getPath.toDotString == col)
          .map(_.hasDictionaryPage).distinct
        assert(dictionary("text") == Seq(false), f.toString)
        assert(dictionary("scrubbed_text") == Seq(false), f.toString)
        assert(dictionary("role") == Seq(true), f.toString)
      }
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("Curate.metrics fails on a drop_reason outside QualityRules.ruleOrder") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (Some(true), null: String, Map("url" -> 1)),
      (Some(false), "too_short", Map.empty[String, Int]),
      (None, "ppl", Map.empty[String, Int]), // a NULL keep counts as dropped
      (Some(false), "not_a_rule", Map("email" -> 2))).toDF("keep", "drop_reason", "scrub_hits")
    assert(!QualityRules.ruleOrder.contains("not_a_rule"))
    val e = intercept[Exception](Curate.metrics(rows).collect())
    assert(e.getMessage.contains("ruleOrder"), e.getMessage)
    // without the stray reason the same rows aggregate
    val ok = Curate.metrics(rows.filter($"drop_reason".isNull || $"drop_reason" =!= "not_a_rule"))
      .head()
    assert(ok.getAs[Long]("turns_kept") == 1L)
    assert(ok.getAs[Long]("turns_dropped") == 2L)
    assert(ok.getMap[String, Long](ok.fieldIndex("dropped_by_rule")).toMap ==
      Map("too_short" -> 1L, "ppl" -> 1L))
    assert(ok.getMap[String, Long](ok.fieldIndex("scrub_hit_counts")).toMap == Map("url" -> 1L))
  }

  test("Curate.metrics over an empty curated frame is one row of zeros with empty maps") {
    val s = spark
    import s.implicits._
    val rows = Curate.metrics(s.emptyDataset[graft.model.CuratedTurn].toDF(), 3).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[Int]("part_id") == 3)
    assert(Seq("turns_seen", "turns_kept", "turns_dropped").map(r.getAs[Long](_)) ==
      Seq(0L, 0L, 0L))
    assert(r.getMap[String, Long](r.fieldIndex("dropped_by_rule")).isEmpty)
    assert(r.getMap[String, Long](r.fieldIndex("scrub_hit_counts")).isEmpty)
  }

  test("a manifest fails its check on a footer row mismatch or uncounted drops") {
    val m = Resume.Manifest(0, "in/part_id=0", turnsSeen = 5, turnsKept = 3,
      turnsDropped = 2, droppedByRule = Map("ppl" -> 1L, "too_short" -> 1L),
      scrubHitCounts = Map("url" -> 4L))
    assert(m.checked(5) == m)
    assert(intercept[IllegalArgumentException](m.checked(4)).getMessage.contains("footers"))
    val stray = m.copy(droppedByRule = Map("ppl" -> 1L))
    assert(intercept[IllegalArgumentException](stray.checked(5)).getMessage.contains("ruleOrder"))
    assert(Resume.Manifest.parse(m.toJson) == m)
    assert(m.toJson.startsWith("""{"part_id": 0, "input": "in/part_id=0", "turns_seen": 5, """))
    // control chars, a quote and a backslash in the lineage path
    val odd = m.copy(input = "in\tdir/\u0001x/\"q\"\\part_id=0")
    assert(odd.toJson.contains("in\\tdir/\\u0001x/\\\"q\\\"\\\\part_id=0"))
    assert(Resume.Manifest.parse(odd.toJson) == odd)
  }

  test("a failed wave stops the run: nothing commits after it throws") {
    val in = freshDir("in5")
    val out = freshDir("out5")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 40L).toDF(), in, nBuckets = 4)
      // bucket 0, the first wave of four, holds a corrupt parquet file
      import scala.jdk.CollectionConverters._
      val victim = Files.list(TableIO.partitionDir(in, 0)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString).head
      val original = Files.readAllBytes(victim)
      Files.write(victim, "not a parquet file".getBytes("US-ASCII"))
      intercept[Exception](oneWaveEach(in)(Resume.run(spark, in, out)))
      val committed = TableIO.donePartitions(out)
      assert(!committed.contains(0))
      // wait until no Spark job has run for 2 s: a partition still
      // running after run threw would commit in that time
      val sc = spark.sparkContext
      var quietSince = System.nanoTime()
      val deadline = quietSince + 60L * 1000000000L
      while (System.nanoTime() - quietSince < 2000000000L && System.nanoTime() < deadline) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) quietSince = System.nanoTime()
        Thread.sleep(50)
      }
      assert(TableIO.donePartitions(out) == committed, "partitions committed after run threw")
      // repaired, the resume redoes exactly the partitions with no manifest
      Files.write(victim, original)
      val r = oneWaveEach(in)(Resume.run(spark, in, out))
      assert(r.skipped.toSet == committed)
      assert(r.processed.toSet == (0 until 4).toSet -- committed)
      assert(TableIO.donePartitions(out) == (0 until 4).toSet)
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }

  test("Resume.run rejects maxPartitions < 0 and writePartitions < 1, naming the parameter") {
    val in = freshDir("in6")
    val out = freshDir("out6")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 4L).toDF(), in, nBuckets = 2)
      def failure(run: => Resume.RunResult) = intercept[IllegalArgumentException](run).getMessage
      assert(failure(Resume.run(spark, in, out, maxPartitions = -1))
        .contains("maxPartitions must be at least 0, got -1"))
      assert(failure(Resume.run(spark, in, out, writePartitions = 0))
        .contains("writePartitions must be at least 1, got 0"))
      assert(TableIO.donePartitions(out).isEmpty)
    } finally {
      Seq(in, out).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
    }
  }
}
