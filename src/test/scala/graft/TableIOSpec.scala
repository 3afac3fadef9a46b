package graft

import java.nio.file.{Files, Paths}

import graft.knn.IvfIndex
import graft.synth.Transcripts
import graft.tableio.{TableIO, VectorStore}

/** `TableIO.readPartitions` takes the schema from one parquet footer on
  * the driver: the schema must be the one Spark's own inference gives,
  * and no Spark job may run to get it.
  */
class TableIOSpec extends SparkTestBase {
  import spark.implicits._

  private def fresh(name: String): String = s"/tmp/graft-tableio-$name-${System.nanoTime()}"

  /** Partition `p`'s rows without `part_id`. */
  private def partition(base: String, p: Int) =
    TableIO.readPartitions(spark, base, Seq(p)).drop(TableIO.PART_COL)

  /** Spark jobs `body` starts, counted in a job group of its own. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tableio-read-${System.nanoTime()}"
    sc.setJobGroup(group, "TableIO read")
    val out = try body finally sc.clearJobGroup()
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** The partition's schema as read, after checking that reading it
    * started no Spark job; compared with `spark.read.parquet(dir)`.
    */
  private def assertInferredSchema(base: String, p: Int): Unit = {
    val (df, jobs) = jobsOf(partition(base, p))
    assert(jobs == 0, s"readPartitions($base, Seq($p)) ran $jobs Spark jobs")
    assert(df.schema == spark.read.parquet(TableIO.partitionDir(base, p).toString).schema)
  }

  test("a bucketed transcripts partition: Spark's inferred schema, no job, same rows") {
    val base = fresh("transcripts")
    try {
      TableIO.writeBucketedInput(Transcripts.dataset(spark, 20L).toDF(), base, nBuckets = 2)
      Seq(0, 1).foreach(p => assertInferredSchema(base, p))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(rows(partition(base, 1)) ==
        rows(spark.read.parquet(TableIO.partitionDir(base, 1).toString)))
    } finally TableIO.deleteRecursive(Paths.get(base))
  }

  test("a VectorStore partition and an IvfIndex cell: Spark's inferred schema, no job") {
    val store = fresh("vstore")
    val index = fresh("ivf")
    try {
      val docs = (0 until 40).map(i =>
        (s"doc-$i", s"chunk text $i", Array.tabulate(4)(d => ((i + d) % 7).toFloat), "web"))
        .toDF("id", "chunk", "embedding", "source")
      new VectorStore(spark, store, nBuckets = 2).add(docs)
      TableIO.donePartitions(store).foreach(p => assertInferredSchema(store, p))
      IvfIndex.build(spark, docs.select("id", "embedding"), "id", "embedding", index, nCells = 2)
      val cells = TableIO.donePartitions(index)
      assert(cells.nonEmpty)
      cells.foreach(c => assertInferredSchema(index, c))
    } finally Seq(store, index).foreach(d => TableIO.deleteRecursive(Paths.get(d)))
  }

  test("a partition directory without a parquet file fails naming the directory") {
    val base = fresh("empty")
    try {
      val dir = TableIO.partitionDir(base, 3)
      Files.createDirectories(dir)
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      val e = intercept[IllegalArgumentException](partition(base, 3))
      assert(e.getMessage.contains(dir.toString), e.getMessage)
    } finally TableIO.deleteRecursive(Paths.get(base))
  }

  test("TableIO.read of a 16-bucket store runs no Spark job, with Spark's inferred schema") {
    val store = fresh("read16")
    try {
      val docs = (0 until 200).map(i => (s"doc-$i", s"chunk text $i", Array.fill(4)(i.toFloat)))
        .toDF("id", "chunk", "embedding")
      new VectorStore(spark, store, nBuckets = 16).add(docs)
      assert(TableIO.donePartitions(store).size == 16)
      val (df, jobs) = jobsOf(TableIO.read(spark, store))
      assert(jobs == 0, s"TableIO.read ran $jobs Spark jobs")
      assert(df.schema == spark.read.parquet(store).schema)
      assert(df.count() == 200)
    } finally TableIO.deleteRecursive(Paths.get(store))
  }
}
