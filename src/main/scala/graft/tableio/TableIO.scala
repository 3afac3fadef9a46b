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
import org.apache.spark.sql.types.{IntegerType, StructType}

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
  *
  * Every commit stages all of its partitions in ONE write. Table
  * mutations (adds, deletes, index builds) and streamed MinHash bucket
  * assignments go through [[commitPartitions]]: one aggregate over
  * the staged rows read back gives each partition's manifest, and a
  * partition the write left empty is dropped, its manifest first (a
  * crash then leaves an unlisted directory, which reads ignore and the
  * next commit of that partition replaces). Curated turns go through
  * [[commitStaged]], whose manifests come from the caller. Every read
  * is [[readPartitions]], with the schema of one parquet footer and no
  * inference job.
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

  /** Replace partitions `parts` with the rows of `df` (rows carrying
    * `part_id`, each of a partition in `parts`) off ONE staged write:
    * the staged rows are read back with `df`'s schema (no inference
    * job) and one aggregate gives each partition's stats row — its row
    * count, then `stats` — and the commit loop [[moveIntoPlace]] moves
    * each partition into place and writes its manifest,
    * `manifest(partId, stats row)`, last. A partition of `parts` that
    * `df` holds no row of is dropped: its manifest first, then its
    * directory. The staged rows are read back with `basePath` set to
    * the staging directory: Spark ignores a path whose name starts with
    * `_` (and says so in a warning) when it is the one path given.
    */
  def commitPartitions(df: DataFrame, base: String, parts: Seq[Int], stats: Column*)(
      manifest: (Int, Row) => String): Unit = {
    val staging = stage(df, base, Map.empty)
    val staged = entryNames(staging).collect {
      case s if s.startsWith(s"$PART_COL=") => s.stripPrefix(s"$PART_COL=").toInt
    }.sorted
    require(staged.forall(parts.contains), s"staged partitions $staged outside $parts")
    val manifests =
      if (staged.isEmpty) Seq.empty
      else df.sparkSession.read.schema(df.schema).option("basePath", staging.toString)
        .parquet(staged.map(p => partitionDir(staging.toString, p).toString): _*)
        .groupBy(PART_COL).agg(F.struct(F.count(F.lit(1)) +: stats: _*))
        .collect().sortBy(_.getInt(0)).toSeq
        .map(r => r.getInt(0) -> manifest(r.getInt(0), r.getStruct(1)))
    parts.filterNot(staged.contains).foreach { p =>
      Files.deleteIfExists(manifestPath(base, p))
      deleteRecursive(partitionDir(base, p))
    }
    moveIntoPlace(base, staging, manifests)
  }

  /** Commit partitions `parts` of `df` (rows carrying `part_id`) off ONE
    * staged write, with parquet writer `options`: each partition's
    * manifest is `manifest(partId, its staged directory)`, built for
    * every partition before the first move (so a manifest that throws
    * commits nothing), then each partition is moved into place and its
    * manifest written last, in `parts` order. A partition of `parts`
    * that `df` holds no row of commits one schema-only parquet file, as
    * a write of no rows does, so it still reads back.
    */
  def commitStaged(df: DataFrame, base: String, parts: Seq[Int], options: Map[String, String])(
      manifest: (Int, Path) => String): Unit = {
    val staging = stage(df, base, options)
    val dataSchema = StructType(df.schema.filterNot(_.name == PART_COL))
    parts.map(p => partitionDir(staging.toString, p)).filterNot(Files.isDirectory(_)).foreach { d =>
      df.sparkSession.createDataFrame(java.util.List.of[Row](), dataSchema)
        .write.options(options).parquet(d.toString)
    }
    moveIntoPlace(base, staging,
      parts.map(p => p -> manifest(p, partitionDir(staging.toString, p))))
  }

  /** Write `df` partitionBy(part_id) under base/_staging (one Spark job)
    * and return the staging directory.
    */
  private def stage(df: DataFrame, base: String, options: Map[String, String]): Path = {
    val staging = Paths.get(base, "_staging")
    deleteRecursive(staging)
    df.write.options(options).partitionBy(PART_COL).mode("overwrite").parquet(staging.toString)
    staging
  }

  /** The commit loop of every staged multi-partition commit: for each
    * (partition, manifest) in order, move the staged partition into
    * place, then write its manifest. The moves are metadata ops, so the
    * job count does not grow with the number of partitions.
    */
  private def moveIntoPlace(base: String, staging: Path, manifests: Seq[(Int, String)]): Unit = {
    manifests.foreach { case (p, json) =>
      val target = partitionDir(base, p)
      deleteRecursive(target)
      Files.createDirectories(target.getParent)
      Files.move(partitionDir(staging.toString, p), target, StandardCopyOption.ATOMIC_MOVE)
      writeManifest(base, p, json)
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
    val parts = batch.select(PART_COL).distinct().collect().toSeq.map(_.getInt(0))
    if (parts.isEmpty) return
    val done = donePartitions(base)
    val existing = parts.filter(done.contains).sorted
    val merged =
      if (existing.isEmpty) batch
      else {
        val old = readPartitions(batch.sparkSession, base, existing)
        old.unionByName(batch.join(old.select(PART_COL, key), Seq(PART_COL, key), "left_anti"))
      }
    commitPartitions(merged, base, parts, stats: _*)(manifest)
  }

  /** The manifest of a table whose partitions record only their row
    * count: a [[commitPartitions]] `manifest` over no extra stats.
    */
  private[graft] def rowCountManifest(partId: Int, stats: Row): String =
    s"""{"part_id":$partId,"rows":${stats.getLong(0)}}"""

  /** Append the manifest entry LAST — this is the commit point. */
  def writeManifest(base: String, partId: Int, json: String): Unit =
    writeAtomic(manifestPath(base, partId), json)

  /** Write a small UTF-8 file all at once: to a `.tmp` sibling first,
    * then renamed over `p` in one atomic move, so a reader sees the old
    * file or the new one, never a part.
    */
  private[graft] def writeAtomic(p: Path, text: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8),
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
    * partition filter prunes directories, never touching other files),
    * by [[readPartitions]], so no Spark job runs.
    */
  def read(spark: SparkSession, base: String): DataFrame = {
    val parts = donePartitions(base).toSeq.sorted
    require(parts.nonEmpty,
      s"no committed partitions under $base (manifest empty — run the job first)")
    readPartitions(spark, base, parts)
  }

  /** The rows of partitions `parts` (non-empty, each holding a parquet
    * file), `part_id` kept, read with the schema of the first parquet
    * file in name order of `parts.head`. The footer is read and
    * converted on the driver by the conversion Spark's parquet inference
    * applies to each footer (`ParquetFileFormat.readSchemaFromFooter`:
    * Spark's row metadata first, then `ParquetToSparkSchemaConverter`
    * under the session's conf), so this is the schema
    * `spark.read.parquet` infers with `mergeSchema` off when the
    * partitions share one schema, without the Spark job that inference
    * runs.
    */
  def readPartitions(spark: SparkSession, base: String, parts: Seq[Int]): DataFrame = {
    val firsts = parts.map { p =>
      val dir = partitionDir(base, p)
      parquetFiles(dir).headOption.getOrElse(
        throw new IllegalArgumentException(s"no parquet file in partition directory $dir"))
    }
    val first = new hfs.Path(firsts.head.toUri)
    val reader = openFooter(first, spark.sparkContext.hadoopConfiguration)
    val footer = try reader.getFooter finally reader.close()
    val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(first, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema.add(PART_COL, IntegerType)).option("basePath", base)
      .parquet(parts.map(p => partitionDir(base, p).toString): _*)
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
