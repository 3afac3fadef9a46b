package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.storage.StorageLevel

import graft.{Bench, SparkEntry}
import graft.checkpoint.Resume
import graft.dedup.Dedup
import graft.langid.LangId
import graft.lm.NGramLM
import graft.pipeline.{Curate, CurateCore}
import graft.rules.{GrammarRules, QualityRules}
import graft.scrub.Scrubber
import graft.synth.Transcripts
import graft.tableio.TableIO

/** One benchmark workload. Main calls [[setup]] `scale.setupReps`
  * times (each call replaces the inputs of the previous one), [[warm]]
  * once, [[rep]] `warmReps` times untimed, [[startTimed]], [[rep]] a fixed
  * number of timed times, then [[finish]].
  */
abstract class Workload {
  /** Rows processed by one rep: the numerator of rows_per_s. */
  def rep(c: Ctx): Double
  def setup(c: Ctx): Unit
  def warm(c: Ctx): Unit
  /** Untimed reps after [[warm]]: enough that rep times have levelled off. */
  def warmReps: Int
  /** Wall time of one levelled-off rep on a 4-core host. Main turns
    * `--seconds` into a fixed count of timed reps with it.
    */
  def nominalRepS: Double
  /** Drops what the untimed reps recorded. */
  def startTimed(): Unit = ()
  def finish(c: Ctx): Unit = ()
  /** curate_job: keep/drop F1 against the planted labels.
    * declared_queries: share of leaves matching their recorded digest.
    */
  def quality: Double
  /** Workload-specific per-layer numbers of the traced run. */
  def layers(c: Ctx): Map[String, Double] = Map.empty
  def cleanup(c: Ctx): Unit = ()
}

object Workloads {
  val names: Seq[String] = Seq("curate_job", "declared_queries")

  /** The declared leaves the benchmark runs: the dedup leaf on the n-gram
    * prefix path, and one leaf for each module only SparkEntry.queries
    * reaches.
    */
  val declaredLeaves: Seq[String] = Seq(
    "dedup_ngram_prefix", // dedup
    "ann_lsh", // knn
    "bm25_topk", // search
    "q13_token_stats", // textstats
    "chunk_documents", // chunk
    "multimodal_features", // multimodal
    "sample_temperature") // sample

  def apply(name: String): Workload = name match {
    case "curate_job" => new CurateJobWorkload
    case "declared_queries" => new DeclaredQueries
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = Bench.forceMaterialize(df)

  /** Models trained from the synth corpus, exactly as Curate.defaultModels. */
  def trainModels(): Curate.Models = {
    val corpus = Transcripts.trainingCorpus()
    Curate.Models(LangId.train(corpus), NGramLM.train(corpus.map(_._1)))
  }

  val digestCols: Seq[String] = Seq("conv_id", "turn_idx", "keep", "drop_reason", "scrubbed_text")

  /** Planted-label keep (clean and PII-bearing turns are worth keeping). */
  def expectedKeep(labels: DataFrame): DataFrame =
    labels.select(F.col("conv_id"), F.col("turn_idx"),
      (F.array_contains(F.col("planted"), "clean") ||
        F.array_contains(F.col("planted"), "pii")).as("expected"))

  /** Digest of the curated turns plus the F1 of `keep` against the
    * planted-label `expected`, in one job.
    */
  def checkCurated(curated: DataFrame, expected: DataFrame): ((Long, String), Double) = {
    val joined = curated.join(expected, Seq("conv_id", "turn_idx"), "left")
    val r = joined.select(
      F.xxhash64(digestCols.map(F.col): _*).cast("decimal(38,0)").as("h"),
      F.when(F.col("keep") && F.col("expected"), 1L).otherwise(0L).as("tp"),
      F.when(F.col("keep") && !F.coalesce(F.col("expected"), F.lit(false)), 1L).otherwise(0L).as("fp"),
      F.when(!F.col("keep") && F.col("expected"), 1L).otherwise(0L).as("fn"))
      .agg(F.count(F.lit(1)), F.sum("h"), F.sum("tp"), F.sum("fp"), F.sum("fn"))
      .head()
    val (tp, fp, fn) = (r.getLong(2), r.getLong(3), r.getLong(4))
    val digest = (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
    (digest, if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn))
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum
}

import Workloads._

/** The production path: a skewed transcript table written into hash
  * buckets, then Resume.run over half the buckets (a simulated kill) and
  * a second Resume.run that resumes the rest.
  */
final class CurateJobWorkload extends Workload {
  private var models: Curate.Models = _
  private var workRoot: Path = _
  private def inDir = workRoot.resolve("input")
  private var outDir: Path = _
  private var nTurns = 0L
  private var inBytes = 0L
  private var refDigest: (Long, String) = _
  private var f1 = 0.0
  private var half = 0
  private val partSecs = mutable.ArrayBuffer.empty[Double]
  private var skipped = 0.0
  private var redone = 0.0
  private var outBytes = 0L

  def setup(c: Ctx): Unit = {
    workRoot = c.work.resolve("curate_job")
    TableIO.deleteRecursive(inDir)
    models = trainModels()
    val df = Transcripts.dataset(c.spark, c.scale.jobConvs, c.seed, skew = true,
      skewTurns = c.scale.jobHotTurns).toDF()
    TableIO.writeBucketedInput(df, inDir.toString, nBuckets = 4)
    nTurns = c.spark.read.parquet(inDir.toString).count()
    inBytes = dirBytes(inDir)
    half = Resume.listInputPartitions(inDir.toString).size / 2
  }

  private def input(c: Ctx) = c.spark.read.parquet(inDir.toString)
    .select("conv_id", "turn_idx", "role", "text", "tool", "ts")

  private def labels(c: Ctx) = expectedKeep(Transcripts.labels(c.spark, c.scale.jobConvs,
    c.seed, skew = true, skewTurns = c.scale.jobHotTurns).toDF())

  def warm(c: Ctx): Unit = {
    refDigest = Digest.of(Curate.curateDf(c.spark, input(c), QualityRules.defaultConfig, models)
      .select(digestCols.map(F.col): _*))
    runJob(c)
    checkCommitted(c)
  }

  def warmReps: Int = 4
  def nominalRepS: Double = 3.5

  override def startTimed(): Unit = partSecs.clear()

  /** Committed rows and digest against the input and its curateDf digest. */
  private def checkCommitted(c: Ctx): Unit = {
    val (d, f) = checkCurated(c.output(TableIO.read(c.spark, outDir.toString)), labels(c))
    f1 = f
    c.check("job_rows", d._1 == nTurns, s"${d._1} != $nTurns")
    c.check("job_digest", d == refDigest, s"$d != $refDigest")
    c.check("keep_f1", f1 >= 0.99, s"keep_f1 = $f1")
  }

  /** Both Resume.run calls on a fresh output table; returns turns committed. */
  private def runJob(c: Ctx): Long = {
    outDir = workRoot.resolve("output")
    TableIO.deleteRecursive(outDir)
    val first = c.op("checkpoint.Resume.run_first_half")(
      Resume.run(c.spark, inDir.toString, outDir.toString, QualityRules.defaultConfig,
        models, writePartitions = c.nproc, maxPartitions = half))
    val t1 = System.currentTimeMillis()
    val second = c.op("checkpoint.Resume.run_rest")(
      Resume.run(c.spark, inDir.toString, outDir.toString, QualityRules.defaultConfig,
        models, writePartitions = c.nproc))
    (first, second) match {
      case (Some(a), Some(b)) =>
        c.check("first_half", a.processed.size == half && a.skipped.isEmpty, s"$a")
        c.check("resume_skips_done", b.skipped == a.processed, s"${b.skipped} != ${a.processed}")
        c.check("resume_redoes_none", b.processed.intersect(a.processed).isEmpty, s"$b")
        skipped = b.skipped.size
        redone = b.processed.intersect(a.processed).size
      case _ => ()
    }
    val seen = "\"turns_seen\": (\\d+)".r
    val manifests = TableIO.donePartitions(outDir.toString).toSeq.sorted
    val total = manifests.flatMap(p => TableIO.readManifest(outDir.toString, p))
      .flatMap(m => seen.findFirstMatchIn(m).map(_.group(1).toLong)).sum
    c.check("manifest_turns", total == nTurns, s"$total != $nTurns")
    // per-partition commit intervals from the manifest commit times
    val times = manifests.map(p => Files.getLastModifiedTime(TableIO.manifestPath(outDir.toString, p))
      .toMillis).sorted
    val (a, b) = times.partition(_ <= t1)
    Seq(a, b).foreach { ts =>
      ts.zip(ts.drop(1)).foreach { case (x, y) => partSecs += (y - x) / 1000.0 }
    }
    outBytes = dirBytes(outDir)
    total
  }

  def rep(c: Ctx): Double = runJob(c).toDouble

  override def finish(c: Ctx): Unit = checkCommitted(c)

  def quality: Double = f1

  override def layers(c: Ctx): Map[String, Double] = {
    val reasons = TableIO.read(c.spark, outDir.toString).groupBy("drop_reason").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1)).toMap
    val texts = input(c).select("text").limit(c.scale.kernelTurns).collect().map(_.getString(0))
    Map(
      "checkpoint.part_p50_s" -> (if (partSecs.isEmpty) 0.0 else Stats.median(partSecs.toSeq)),
      "checkpoint.part_max_s" -> (if (partSecs.isEmpty) 0.0 else partSecs.max),
      "checkpoint.skipped_parts" -> skipped,
      "checkpoint.redone_parts" -> redone,
      "tableio.out_bytes_per_in_byte" -> outBytes.toDouble / math.max(1L, inBytes),
      "pipeline.turns_per_s" -> inMemoryRate(c)) ++
      Kernels.reach(reasons, nTurns) ++ Kernels.timings(texts, models)
  }

  /** Turns/s of Curate.curateDf → noop over this input held in memory
    * (no read, shuffle or write): best of three reps after one warm rep.
    */
  def inMemoryRate(c: Ctx): Double = {
    val turns = input(c).repartition(4 * c.nproc).persist(StorageLevel.MEMORY_ONLY)
    val n = turns.count()
    noop(Curate.curateDf(c.spark, turns, QualityRules.defaultConfig, models))
    val best = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      noop(Curate.curateDf(c.spark, turns, QualityRules.defaultConfig, models))
      (System.nanoTime() - t0) / 1e9
    }.min
    turns.unpersist(true)
    n / best
  }

  override def cleanup(c: Ctx): Unit = if (workRoot != null) TableIO.deleteRecursive(workRoot)
}

/** Declared leaves (Workloads.declaredLeaves) through SparkEntry.queries
  * over the sf0.001 tables, each materialized to noop, in a seeded order
  * per rep. Set-up stages the tables the leaves read into the run's work
  * directory, so the leaves read inputs written in this run, as
  * curate_job's do. Outputs are checked against digests recorded when the
  * benchmark was added.
  */
final class DeclaredQueries extends Workload {
  private var dir: String = _
  private var leaves: Seq[String] = Nil
  private val rows = mutable.LinkedHashMap.empty[String, Long]
  private var matched = 0.0
  private var repIdx = 0

  private def expectedFile(c: Ctx) = c.benchDir.resolve("expected").resolve("declared_sf0.001.tsv")

  def setup(c: Ctx): Unit = {
    val src = c.benchDir.resolve("data").resolve("sf0.001")
    val staged = c.work.resolve("declared_queries").resolve("sf0.001")
    TableIO.deleteRecursive(staged)
    // one file per table, rows in file order, as in the source tables
    Seq("documents", "embeddings").foreach(t => c.spark.read.parquet(s"$src/$t.parquet")
      .coalesce(1).write.parquet(s"$staged/$t.parquet"))
    dir = staged.toString
    leaves = declaredLeaves.take(c.scale.leaves)
  }

  private def leaf(c: Ctx, name: String) = SparkEntry.queries(name)(c.spark, dir)

  def warm(c: Ctx): Unit = {
    val produced = leaves.flatMap { l =>
      c.op(s"query.$l")(Digest.of(c.output(leaf(c, l)))).map { case (n, h) =>
        rows(l) = n
        s"$l\t$n\t$h"
      }
    }
    val expected = Files.readAllLines(expectedFile(c)).asScala.toSet
    produced.foreach(p => c.check(s"leaf ${p.takeWhile(_ != '\t')}", expected(p), p))
    matched = produced.count(expected).toDouble / leaves.size
  }

  def warmReps: Int = 4
  def nominalRepS: Double = 2.7

  def rep(c: Ctx): Double = {
    val order = new scala.util.Random(c.seed * 1000003L + repIdx).shuffle(leaves)
    repIdx += 1
    order.foreach(l => c.op(s"query.$l")(noop(leaf(c, l))))
    leaves.map(l => rows.getOrElse(l, 0L)).sum.toDouble
  }

  def quality: Double = matched

  override def layers(c: Ctx): Map[String, Double] = {
    // largest LSH band bucket of the minhash banding over the documents
    val buckets = mutable.HashMap.empty[(Int, Long), Int]
    c.spark.read.parquet(s"$dir/documents.parquet").select("text").collect().foreach { r =>
      val sh = Dedup.shingles(r.getString(0), 3)
      if (sh.nonEmpty) Dedup.bandHashes(Dedup.minhashSignature(sh, 64).toIndexedSeq, 16, 4)
        .foreach(k => buckets(k) = buckets.getOrElse(k, 0) + 1)
    }
    Map("dedup.max_band_bucket" -> (if (buckets.isEmpty) 0.0 else buckets.values.max.toDouble))
  }
}

/** Curate-kernel numbers of the traced run, measured from the benchmark's
  * side of the public kernel functions.
  */
object Kernels {
  private val cheapReasons =
    Set("empty", "too_short", "too_long", "repetition", "symbol_ratio", "boilerplate")

  /** Share of turns reaching each gated stage, from the drop reasons. */
  def reach(reasons: Map[String, Long], nTurns: Long): Map[String, Double] = {
    val n = nTurns.toDouble
    val grammar = n - reasons.filter(kv => cheapReasons(kv._1)).values.sum
    val lang = grammar - reasons.getOrElse("grammar", 0L) - reasons.getOrElse("cyk", 0L)
    val lm = lang - reasons.getOrElse("lang", 0L)
    Map("rules.grammar_reach" -> grammar / n, "langid.reach" -> lang / n, "lm.reach" -> lm / n)
  }

  /** Single-thread ns per call of each public kernel (median of three
    * passes); a gated kernel is timed only on the turns that reach it.
    */
  def timings(texts: Array[String], models: Curate.Models): Map[String, Double] = {
    val cfg = QualityRules.defaultConfig
    val afterCheap = texts.filter(t => QualityRules.firstScalarFailure(t, cfg) == null)
    val afterGrammar = afterCheap.filter(t =>
      GrammarRules.ruleHits(t, withContext = false).size < cfg.maxRuleHits)
    val afterLang = afterGrammar.filter { t =>
      val (l, conf) = models.langId.predict(t)
      cfg.allowedLangs.contains(l) && conf >= cfg.minLangConf
    }
    val core = new CurateCore(models.langId, models.lm, cfg)
    var sink = 0L
    def nsPer(xs: Array[String])(f: String => Int): Double =
      if (xs.isEmpty) 0.0
      else Stats.median((1 to 3).map { _ =>
        val t0 = System.nanoTime()
        xs.foreach(t => sink += f(t))
        (System.nanoTime() - t0).toDouble / xs.length
      })
    val out = Map(
      "pipeline.ns_per_turn" -> nsPer(texts)(t => if (core.process(t).keep) 1 else 0),
      "scrub.ns_per_turn" -> nsPer(texts)(t => Scrubber.scrub(t).scrubbed.length),
      "rules.cheap_ns_per_turn" -> nsPer(texts)(t =>
        if (QualityRules.firstScalarFailure(t, cfg) == null) 1 else 0),
      "rules.grammar_ns_per_call" -> nsPer(afterCheap)(t =>
        GrammarRules.ruleHits(t, withContext = false).size),
      "langid.ns_per_call" -> nsPer(afterGrammar)(t => models.langId.predict(t)._1.length),
      "lm.ns_per_call" -> nsPer(afterLang)(t => models.lm.perplexity(t).toInt))
    if (sink == 42L) System.err.print("") // keeps the kernel results live
    out
  }
}
