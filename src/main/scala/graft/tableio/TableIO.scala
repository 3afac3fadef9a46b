package graft.tableio

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.{fs => hfs}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Iceberg-shaped table seam (SURVEY.md §1.2): Hive-style partitioned
  * Parquet with the Iceberg semantics the engine needs — partition
  * columns, atomic snapshot-by-directory-swap commits, and a
  * per-partition manifest of lineage + metrics rows. No Iceberg
  * runtime jar ships in the offline image (/opt/spark/jars verified),
  * so a real Iceberg catalog is a drop-in behind this same interface.
  *
  * Layout:
  *   base/part_id=K/&lt;parquet files&gt;  committed partition data
  *   base/_staging/part_id=K/...       in-flight write (never read)
  *   base/_manifest/part-K.json     one JSON object per committed
  *                                  partition: lineage + metrics
  *
  * Commit protocol per partition: write to _staging → atomic directory
  * move into place → append manifest file. A crash between move and
  * manifest leaves the partition NOT in the manifest; the resume loop
  * simply reprocesses it. The output is deterministic: a redone
  * partition has the same rows, in the same files and order, and the
  * same manifest, but not the same bytes, because parquet-mr writes each
  * column chunk's `encodings` list in hash-set order.
  * [[commitPartitions]] runs the protocol for many partitions off one
  * staged write; [[commitOrDrop]] runs it for one partition that a
  * rewrite may have emptied.
  */
object TableIO {

  val PART_COL = "part_id"

  def partitionDir(base: String, partId: Int): Path =
    Paths.get(base, s"$PART_COL=$partId")
  def manifestPath(base: String, partId: Int): Path =
    Paths.get(base, "_manifest", s"part-$partId.json")

  /** Partitions already committed (manifest present). */
  def donePartitions(base: String): Set[Int] =
    entryNames(Paths.get(base, "_manifest"))
      .collect { case s if s.startsWith("part-") && s.endsWith(".json") =>
        s.stripPrefix("part-").stripSuffix(".json").toInt
      }
      .toSet

  /** Write one partition's rows atomically; returns the committed dir.
    * `df` must already be in the desired row order (caller applies
    * Curate.saltedForWrite).
    */
  def commitPartition(df: DataFrame, base: String, partId: Int): Path = {
    val staging = Paths.get(base, "_staging", s"$PART_COL=$partId")
    val target = partitionDir(base, partId)
    deleteRecursive(staging)
    df.write.mode("overwrite").parquet(staging.toString)
    deleteRecursive(target)
    Files.createDirectories(target.getParent)
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    target
  }

  /** Commit every partition of `df` (rows carrying `part_id`) off ONE
    * staged write: `df` lands partitionBy(part_id) under base/_staging,
    * one aggregate over the staged rows gives each partition's stats
    * row — its row count, then `stats` — and each staged partition is
    * moved into place and its manifest, `manifest(partId, stats row)`,
    * written last. The moves are metadata ops, so the job count does
    * not grow with the number of partitions. The staged rows are read
    * back from the `part_id=K` directories with `basePath` set to the
    * staging directory: Spark ignores a path whose name starts with `_`
    * (and says so in a warning) when it is the one path given.
    */
  def commitPartitions(df: DataFrame, base: String, stats: Column*)(
      manifest: (Int, Row) => String): Unit = {
    val staging = Paths.get(base, "_staging")
    deleteRecursive(staging)
    df.write.partitionBy(PART_COL).mode("overwrite").parquet(staging.toString)
    val staged = entryNames(staging).filter(_.startsWith(s"$PART_COL="))
      .map(staging.resolve(_).toString).sorted
    df.sparkSession.read.option("basePath", staging.toString).parquet(staged: _*)
      .groupBy(PART_COL).agg(F.struct(F.count(F.lit(1)) +: stats: _*))
      .collect().sortBy(_.getInt(0))
      .foreach { r =>
        val p = r.getInt(0)
        val target = partitionDir(base, p)
        deleteRecursive(target)
        Files.createDirectories(target.getParent)
        Files.move(partitionDir(staging.toString, p), target, StandardCopyOption.ATOMIC_MOVE)
        writeManifest(base, p, manifest(p, r.getStruct(1)))
      }
    deleteRecursive(staging)
  }

  /** Add `batch` (rows carrying `part_id`) to the partitions it
    * touches and commit them with [[commitPartitions]]. A row whose
    * (part_id, `key`) its partition already holds is skipped, so
    * re-applying a batch converges: a redo after a crash between a
    * partition's move and its manifest merges nothing new into that
    * partition. `batch` is read twice; callers cache it.
    */
  def appendPartitions(batch: DataFrame, base: String, key: String, stats: Column*)(
      manifest: (Int, Row) => String): Unit = {
    val parts = batch.select(PART_COL).distinct().collect().map(_.getInt(0))
    if (parts.isEmpty) return
    val done = donePartitions(base)
    val existing = parts.filter(done.contains).sorted
    val merged =
      if (existing.isEmpty) batch
      else {
        val old = readPartitions(batch.sparkSession, base, existing)
        old.unionByName(batch.join(old.select(PART_COL, key), Seq(PART_COL, key), "left_anti"))
      }
    commitPartitions(merged, base, stats: _*)(manifest)
  }

  /** Commit one partition's rows and then its manifest,
    * `manifest(partId, stats row)` with the row count first; a `df`
    * with no rows instead drops the partition's directory and manifest
    * (an empty parquet directory would break schema inference on later
    * reads).
    */
  def commitOrDrop(df: DataFrame, base: String, partId: Int, stats: Column*)(
      manifest: (Int, Row) => String): Unit = {
    val rows = df.cache()
    try {
      val st = rows.agg(F.count(F.lit(1)), stats: _*).head()
      if (st.getLong(0) == 0) {
        deleteRecursive(partitionDir(base, partId))
        Files.deleteIfExists(manifestPath(base, partId))
      } else {
        commitPartition(rows, base, partId)
        writeManifest(base, partId, manifest(partId, st))
      }
    } finally rows.unpersist()
  }

  /** Append the manifest entry LAST — this is the commit point. */
  def writeManifest(base: String, partId: Int, json: String): Unit = {
    val p = manifestPath(base, partId)
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def readManifest(base: String, partId: Int): Option[String] = {
    val p = manifestPath(base, partId)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    else None
  }

  /** Read the committed table (all partitions or a pruned subset —
    * `basePath` keeps the partition column in the schema, and a
    * partition filter prunes directories, never touching other files).
    */
  def read(spark: SparkSession, base: String): DataFrame = {
    val parts = donePartitions(base).toSeq.sorted
    require(parts.nonEmpty,
      s"no committed partitions under $base (manifest empty — run the job first)")
    readPartitions(spark, base, parts)
  }

  /** The rows of partitions `parts` (non-empty), `part_id` kept. */
  def readPartitions(spark: SparkSession, base: String, parts: Seq[Int]): DataFrame =
    spark.read.option("basePath", base)
      .parquet(parts.map(p => partitionDir(base, p).toString): _*)

  /** One partition's rows, read with the schema of its first parquet
    * file in name order. The footer is read and converted on the driver
    * by the conversion Spark's parquet inference applies to each footer
    * (`ParquetFileFormat.readSchemaFromFooter`: Spark's row metadata
    * first, then `ParquetToSparkSchemaConverter` under the session's
    * conf), so this is the schema `spark.read.parquet(dir)` infers with
    * `mergeSchema` off, without the Spark job that inference runs.
    */
  def readPartition(spark: SparkSession, base: String, partId: Int): DataFrame = {
    val dir = partitionDir(base, partId)
    val first = new hfs.Path(parquetFiles(dir).headOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet file in partition directory $dir")).toUri)
    val reader = openFooter(first, spark.sparkContext.hadoopConfiguration)
    val footer = try reader.getFooter finally reader.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(first, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(dir.toString)
  }

  /** A reader of parquet file `file` with read options built from
    * `conf`. `ParquetFileReader.open(inputFile)` alone builds its options
    * from a new Hadoop `Configuration`, parsing the default XML
    * resources again on every open.
    */
  private[graft] def openFooter(file: hfs.Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf).build())

  /** The parquet files directly in `dir`, in name order (none when `dir`
    * does not exist).
    */
  private[graft] def parquetFiles(dir: Path): Seq[Path] =
    entryNames(dir).filter(_.endsWith(".parquet")).sorted.map(dir.resolve)

  /** The names of the entries directly in `dir` (none when `dir` is not
    * a directory).
    */
  private[graft] def entryNames(dir: Path): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val entries = Files.list(dir)
      try entries.iterator().asScala.map(_.getFileName.toString).toSeq finally entries.close()
    }

  /** Materialize an input table Hive-partitioned by the conv_id hash
    * bucket — the Iceberg `bucket(N, conv_id)` partition-spec analog.
    * Downstream per-partition reads are genuine directory prunes.
    */
  def writeBucketedInput(df: DataFrame, base: String, nBuckets: Int): Unit =
    df.withColumn(PART_COL, F.pmod(F.xxhash64(F.col("conv_id")), F.lit(nBuckets)).cast("int"))
      .write.mode("overwrite").partitionBy(PART_COL).parquet(base)

  def deleteRecursive(p: Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
    }
  }
}
