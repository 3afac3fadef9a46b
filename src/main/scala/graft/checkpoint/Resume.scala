package graft.checkpoint

import java.nio.file.{Path, Paths}
import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

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
  * each processed with full cluster parallelism. A partition runs two
  * Spark jobs: the salted shuffle's map stage and the write (its input
  * schema comes from one parquet footer on the driver,
  * `TableIO.readPartition`). The manifest metrics are observed on the
  * write job itself (`Curate.metricAggs`, collected in its result
  * stage), never read back; the write is validated on the driver
  * against the committed parquet footers' row counts. By default two
  * partitions are in flight, so one partition's driver-side planning,
  * commit, footer check and manifest write overlap the other's jobs.
  * `maxPartitions` lets tests simulate a kill after k partitions.
  */
object Resume {

  final case class RunResult(processed: Seq[Int], skipped: Seq[Int])

  /** Partitions `run` keeps in flight unless told otherwise. */
  val defaultConcurrency = 2

  /** Files `run` writes per committed partition unless told otherwise. */
  val defaultWritePartitions = 8

  /** @param concurrency number of partitions in flight at once (at
    *   least 1). Spark's scheduler is thread-safe: each worker thread
    *   submits its partition's jobs independently, keeping the cluster
    *   busy while another partition is in its (cheap, driver-side)
    *   commit step. The worker threads inherit the caller's job group.
    *   Each partition still commits atomically and independently, and
    *   the output does not depend on the concurrency. On the first
    *   failure the partitions not yet started are cancelled, the
    *   in-flight ones finish, and then the failure is rethrown.
    */
  def run(
      spark: SparkSession,
      inputBase: String,
      outputBase: String,
      cfg: QualityRules.Config = QualityRules.defaultConfig,
      models: Curate.Models = Curate.defaultModels,
      writePartitions: Int = defaultWritePartitions,
      maxPartitions: Int = Int.MaxValue,
      concurrency: Int = defaultConcurrency
  ): RunResult = {
    require(concurrency >= 1, s"concurrency must be at least 1, got $concurrency")
    val inputParts = listInputPartitions(inputBase)
    val done = TableIO.donePartitions(outputBase)
    val todo = inputParts.filterNot(done.contains).sorted.take(maxPartitions)
    val processed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    if (todo.isEmpty) return RunResult(Nil, done.toSeq.sorted)
    // one broadcast of the kernel for every partition of this run
    val core = spark.sparkContext.broadcast(new CurateCore(models.langId, models.lm, cfg))

    def processOne(p: Int): Unit = {
      commitCurated(TableIO.readPartition(spark, inputBase, p), core, outputBase, p,
        s"$inputBase/${TableIO.PART_COL}=$p", writePartitions)
      processed.add(p)
    }

    val pool = Executors.newFixedThreadPool(math.max(1, math.min(concurrency, todo.size)))
    val finished = new ExecutorCompletionService[Unit](pool)
    val futures = todo.map(p => finished.submit(() => processOne(p)))
    try todo.foreach(_ => finished.take().get())
    catch {
      case t: Throwable =>
        // the first failure: no queued partition may start (and commit)
        // after run has thrown
        futures.foreach(_.cancel(false))
        throw (t match { case e: ExecutionException => e.getCause; case _ => t })
    } finally {
      pool.shutdown() // in-flight partitions finish before run returns
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      core.destroy()
    }
    RunResult(processed.asScala.toSeq.sorted, done.toSeq.sorted)
  }

  /** Curate `turns` and commit them as partition `partId` of
    * `outputBase` in `writePartitions` files, then its checked manifest
    * with lineage `input`: the one commit of curated turns, per input
    * partition in `run` and per micro-batch in `StreamingCurate`.
    */
  private[graft] def commitCurated(
      turns: DataFrame,
      core: Broadcast[CurateCore],
      outputBase: String,
      partId: Int,
      input: String,
      writePartitions: Int
  ): Unit = {
    // observed after the shuffle, in the write's result stage, where a
    // retried task's update still counts once
    val obs = Observation()
    val ordered = Curate.saltedForWrite(Curate.curateWith(turns, core), writePartitions)
      .observe(obs, Curate.metricAggs.head, Curate.metricAggs.tail: _*)
    val dir = TableIO.commitPartition(ordered, outputBase, partId)
    val m = Manifest.observed(partId, input, obs.get)
      .checked(footerRowCount(dir, turns.sparkSession.sparkContext.hadoopConfiguration))
    TableIO.writeManifest(outputBase, partId, m.toJson)
  }

  def listInputPartitions(inputBase: String): Seq[Int] =
    TableIO.entryNames(Paths.get(inputBase))
      .collect { case s if s.startsWith(s"${TableIO.PART_COL}=") =>
        s.stripPrefix(s"${TableIO.PART_COL}=").toInt
      }

  /** Rows in a committed partition, summed from its parquet footers on
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

    /** From the values `Curate.metricAggs` observed, keyed by alias. */
    def observed(partId: Int, input: String, v: Map[String, Any]): Manifest = {
      // a sum over no rows is null: an empty partition counts 0
      def n(k: String): Long = Option(v(k)).fold(0L)(_.asInstanceOf[Long])
      def counts(keys: Seq[String], col: String => String) =
        keys.map(k => k -> n(col(k))).filter(_._2 > 0).toMap
      Manifest(partId, input, n("turns_seen"), n("turns_kept"), n("turns_dropped"),
        counts(Curate.metricRules, Curate.ruleCount),
        counts(Curate.metricScrubs, Curate.scrubCount))
    }
  }

}
