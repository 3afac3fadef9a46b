package graft.checkpoint

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.pipeline.{Curate, CurateCore}
import graft.rules.QualityRules
import graft.tableio.TableIO

/** Per-partition checkpointed pipeline runner (SURVEY.md §7.2 step 9;
  * FIXTURES.md F5). A killed job resumes without recomputing completed
  * partitions: the driver loops over input partitions not yet in the
  * output manifest; each partition is read with directory pruning,
  * curated, committed atomically, and recorded with lineage + metrics
  * (turns seen / dropped-by-rule / scrub-hit counts — the rebuild of
  * correction_stats, smart_corrector.py:90-96,252-260).
  *
  * Scale notes: the loop is over PARTITIONS (thousands at 10^12 turns),
  * taken in waves sized by their input bytes (`run`), each wave one Spark
  * write of two jobs with full cluster parallelism (`commitCurated`).
  * Each partition is validated on the driver against its staged parquet
  * footers' row counts before any partition of the wave moves into place.
  * `maxPartitions` lets tests simulate a kill after k partitions.
  */
object Resume {

  final case class RunResult(processed: Seq[Int], skipped: Seq[Int])

  /** Files `run` writes per committed partition unless told otherwise. */
  val defaultWritePartitions = 8

  /** Parquet writer options of a curated commit: no dictionary for the
    * free-text columns, whose values are nearly all distinct (parquet-mr
    * would hash each into a dictionary, then fall back to plain).
    */
  private val writeOptions = Map(
    "parquet.enable.dictionary#text" -> "false",
    "parquet.enable.dictionary#scrubbed_text" -> "false")

  /** Curate and commit the input partitions not yet done, in order, in
    * waves of one Spark write each on the caller's thread. A wave takes
    * partitions while their parquet bytes sum to at most `writePartitions`
    * × `spark.sql.files.maxPartitionBytes`, about one scan split per write
    * task, and holds at least one. The output does not depend on the
    * waves. A failure fails its whole wave: nothing in it or after it
    * commits. `writePartitions` sets the file size and the kernel's task
    * count, so it must grow with the data; it must be at least 1, and
    * `maxPartitions` at least 0.
    */
  def run(
      spark: SparkSession,
      inputBase: String,
      outputBase: String,
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Curate.Models = Curate.defaultModels,
      writePartitions: Int = defaultWritePartitions,
      maxPartitions: Int = Int.MaxValue
  ): RunResult = {
    require(writePartitions >= 1, s"writePartitions must be at least 1, got $writePartitions")
    require(maxPartitions >= 0, s"maxPartitions must be at least 0, got $maxPartitions")
    val done = TableIO.donePartitions(outputBase)
    val todo = listInputPartitions(inputBase).filterNot(done.contains).sorted.take(maxPartitions)
    if (todo.isEmpty) return RunResult(Nil, done.toSeq.sorted)
    val sized = todo.map(p =>
      p -> TableIO.parquetFiles(TableIO.partitionDir(inputBase, p)).map(Files.size).sum)
    val budget = writePartitions * spark.sessionState.conf.filesMaxPartitionBytes
    // one broadcast of the kernel for every wave of this run
    val core = spark.sparkContext.broadcast(new CurateCore(models.langId, models.lm, cfg))
    try waves(sized, budget).foreach { wave =>
      commitCurated(TableIO.readPartitions(spark, inputBase, wave), core, outputBase,
        wave.map(p => p -> s"$inputBase/${TableIO.PART_COL}=$p"), writePartitions)
    } finally core.destroy()
    RunResult(todo, done.toSeq.sorted)
  }

  /** Runs of consecutive `parts` (id, bytes) of at most `budget` bytes, or of one part. */
  private[graft] def waves(parts: Seq[(Int, Long)], budget: Long): Seq[Seq[Int]] =
    parts.foldLeft(List.empty[(List[Int], Long)]) {
      case ((wave, bytes) :: rest, (p, b)) if bytes + b <= budget => (p :: wave, bytes + b) :: rest
      case (acc, (p, b)) => (List(p), b) :: acc
    }.reverse.map(_._1.reverse)

  /** Curate `turns` (rows carrying `part_id`) and commit partitions
    * `inputs` of `outputBase` — each in `writePartitions` files, then its
    * checked manifest with the lineage paired with it — off one Spark
    * write of two jobs, the salted shuffle's map stage and the write: the
    * one commit of curated turns, per wave in `run` and per micro-batch in
    * `StreamingCurate`. The kernel runs after the shuffle, so a hot
    * conversation is curated by every write task its salt reaches, and
    * the counts are observed after it, in the write's result stage, where
    * a retried task's update still counts once.
    */
  private[graft] def commitCurated(
      turns: DataFrame,
      core: Broadcast[CurateCore],
      outputBase: String,
      inputs: Seq[(Int, String)],
      writePartitions: Int
  ): Unit = {
    val obs = Observation()
    val curated = Curate.curateWith(Curate.saltedForWrite(turns, writePartitions), core)
      .observe(obs, Curate.partMetrics)
    val conf = turns.sparkSession.sparkContext.hadoopConfiguration
    val lineage = inputs.toMap
    lazy val counts = obs.get("part_metrics").asInstanceOf[scala.collection.Map[Int, Seq[Long]]]
    TableIO.commitStaged(curated, outputBase, inputs.map(_._1), writeOptions) { (p, staged) =>
      val m = Manifest.observed(p, lineage(p),
        counts.getOrElse(p, Seq.fill(Curate.metricWidth)(0L)))
      m.checked(footerRowCount(staged, conf)).toJson
    }
  }

  def listInputPartitions(inputBase: String): Seq[Int] =
    TableIO.entryNames(Paths.get(inputBase))
      .collect { case s if s.startsWith(s"${TableIO.PART_COL}=") =>
        s.stripPrefix(s"${TableIO.PART_COL}=").toInt
      }

  /** Rows in a partition directory, summed from its parquet footers on
    * the driver (no Spark job).
    */
  private def footerRowCount(dir: Path, conf: Configuration): Long =
    TableIO.parquetFiles(dir)
      .map { f =>
        val r = TableIO.openFooter(new org.apache.hadoop.fs.Path(f.toUri), conf)
        try r.getRecordCount finally r.close()
      }
      .sum

  /** One committed partition's lineage + metrics (deterministic fields
    * only): the manifest file is `toJson`, read back with `parse`. Maps
    * hold no zero counts; keys are written sorted.
    */
  final case class Manifest(
      partId: Int,
      input: String,
      turnsSeen: Long,
      turnsKept: Long,
      turnsDropped: Long,
      droppedByRule: Map[String, Long],
      scrubHitCounts: Map[String, Long]
  ) {
    def toJson: String =
      s"""{"part_id": $partId, "input": ${Manifest.jstr(input)}, """ +
        s""""turns_seen": $turnsSeen, "turns_kept": $turnsKept, """ +
        s""""turns_dropped": $turnsDropped, "dropped_by_rule": ${Manifest.jmap(droppedByRule)}, """ +
        s""""scrub_hit_counts": ${Manifest.jmap(scrubHitCounts)}}"""

    /** This manifest, after checking it against the committed rows: the
      * footers must hold `turnsSeen` rows, and every dropped turn must
      * be counted under a rule of `QualityRules.ruleOrder`.
      */
    def checked(committedRows: Long): Manifest = {
      require(committedRows == turnsSeen,
        s"partition $partId: committed footers hold $committedRows rows, " +
          s"the write observed $turnsSeen")
      require(droppedByRule.values.sum == turnsDropped,
        s"partition $partId: per-rule drop counts $droppedByRule do not sum to " +
          s"turns_dropped $turnsDropped (a drop_reason outside QualityRules.ruleOrder)")
      this
    }
  }

  object Manifest {
    private val mapper = new ObjectMapper()

    /** A JSON string literal: Jackson escapes `"`, `\` and every
      * control char, and writes other chars as they are.
      */
    private def jstr(s: String): String = mapper.writeValueAsString(s)

    private def jmap(m: Map[String, Long]) =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${jstr(k)}: $v" }.mkString("{", ", ", "}")

    def parse(json: String): Manifest = {
      val j = mapper.readTree(json)
      def counts(field: String): Map[String, Long] = {
        val o = j.get(field)
        o.fieldNames().asScala.map(k => k -> o.get(k).asLong).toMap
      }
      Manifest(j.get("part_id").asInt, j.get("input").asText,
        j.get("turns_seen").asLong, j.get("turns_kept").asLong,
        j.get("turns_dropped").asLong, counts("dropped_by_rule"), counts("scrub_hit_counts"))
    }

    /** From one partition's observed `Curate.partMetrics` counts, by
      * position (`Curate.metricSlots`).
      */
    def observed(partId: Int, input: String, counts: Seq[Long]): Manifest = {
      val (Seq(seen, kept, dropped), rules, scrubs) = Curate.metricSlots(counts)
      def nonZero(keys: Seq[String], n: Seq[Long]) = keys.zip(n).filter(_._2 > 0).toMap
      Manifest(partId, input, seen, kept, dropped,
        nonZero(Curate.metricRules, rules), nonZero(Curate.metricScrubs, scrubs))
    }
  }

}
