package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.Curate
import graft.synth.Transcripts

/** Driver-run benchmark: prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  * plus curate-throughput and per-query detail fields.
  *
  * Timing forces FULL materialization via the noop sink (a bare
  * count() would let Catalyst prune the expensive columns and
  * under-report), after one small warmup to amortize codegen/JIT.
  *
  * SELF-DIAGNOSIS (round-1 verdict): this VM shows bursts of
  * double-digit CPU steal, which poisoned a driver-recorded artifact
  * (80k turns/s recorded vs 450k re-measured). Every rep therefore
  * records its wall time AND the /proc/stat steal%% observed during
  * it, and the JSON carries the full per-rep arrays — a
  * steal-poisoned run is identifiable from the artifact alone.
  * Headline numbers are min-of-reps (3 for the curate metric and the
  * shuffle-heavy dedup_conversations, 2 elsewhere).
  */
object Bench {

  /** Headline bench queries: the oracled relational/text set + the
    * scalable variants of the dedup/similarity family (pair-emitting
    * variants are correctness ops, not throughput ops).
    */
  val benchQueries: Seq[String] = Seq(
    "q1_agg", "q2_join_topk", "q3_window", "q11_events_hourly",
    "q4_hash_project", "q5_minlen_filter", "q6_dedup_exact", "q7_scrub",
    "q8_rule_match_counts", "q9_quality", "q10_topk_sources",
    "q13_token_stats", "q14_new_words", "q15_lang_summary", "q12_knn",
    "q16_custom_expr", "q17_running_window", "q18_sessionize",
    "q19_distinct_agg", "q20_anti_join", "q21_join_agg_topk",
    "dedup_minhash_clusters", "dedup_simhash", "dedup_conversations",
    "dedup_ngram_prefix",
    "ann_lsh", "ann_ivf", "ann_ivf_indexed", "ann_batch_lsh",
    "langid_documents", "quality_score", "fingerprint", "chunk_documents",
    "html_extract", "perplexity_turns",
    "multimodal_features", "curate_cheap", "curate_transcripts",
    "decontaminate", "sample_fraction", "dedup_lines", "quality_classifier",
    "cms_word_counts", "bm25_topk", "hll_vocab", "dedup_spans",
    "sample_temperature")

  /** Queries whose single-run variance was flagged in round 1 — min-of-3. */
  private val tripleRep = Set("dedup_conversations")

  /** THE bench session config (shared with Verify and ScalingBench so
    * their runs stay comparable with the headline bench).
    */
  def session(cpus: String): SparkSession = {
    val s = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def forceMaterialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def time[A](f: => A): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** (totalJiffies, stealJiffies, systemJiffies) from the /proc/stat
    * "cpu" line; zeros when unreadable (non-Linux).
    */
  def readSteal(): (Long, Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, if (f.length > 7) f(7) else 0L, if (f.length > 2) f(2) else 0L)
      } finally src.close()
    } catch { case _: Throwable => (0L, 0L, 0L) }

  @volatile private var spinSink: Long = 0L

  /** Fixed-work single-thread CPU probe: wall ms for 20M dependent
    * hash-mix iterations. A THIRD degradation mode was observed on
    * this VM (round 3): reps running 10-60× slow while BOTH steal%%
    * and sys%% read near zero — i.e. the slowdown is invisible to
    * /proc/stat shares (consistent with host-side frequency throttling
    * or memory-bandwidth contention). The probe's ratio vs a calm
    * baseline (~25-60 ms) exposes that mode directly in the artifact.
    */
  def spinProbeMs(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 20000000) { x = graft.util.Hash.mix(x); i += 1 }
    spinSink = x // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e6
  }

  /** One timed rep + the steal%% and system%% of machine jiffies during
    * it, and the fixed-work spin probe (ms) run just before it. Three
    * distinct degradation modes observed on this VM: classic steal
    * bursts, a mode where steal reads ~0 but kernel (system) time
    * balloons to several× user time, and a /proc/stat-invisible mode
    * caught only by the spin probe.
    */
  def timeWithSteal(f: => Unit): (Double, Double, Double, Double) = {
    val spinMs = spinProbeMs()
    val (tot0, st0, sy0) = readSteal()
    val sec = time(f)
    val (tot1, st1, sy1) = readSteal()
    val d = (tot1 - tot0).toDouble
    val stealPct = if (d > 0) 100.0 * (st1 - st0) / d else 0.0
    val sysPct = if (d > 0) 100.0 * (sy1 - sy0) / d else 0.0
    (sec, stealPct, sysPct, spinMs)
  }

  /** Transcript turns for the curate throughput metric, scaled to the
    * sf tier (sf0.1 ≈ 600k turns ≈ lineitem row count at that sf).
    */
  def curateConvs(sfDir: String): Long =
    if (sfDir.contains("sf0.1")) 36000L
    else if (sfDir.contains("sf0.01")) 3600L
    else 360L

  private def jArr(xs: Seq[Double]): String =
    xs.map(x => f"$x%.3f").mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)

    val (benchTot0, benchSt0, _) = readSteal()

    // warmup: small end-to-end pass (codegen + JIT + model training)
    forceMaterialize(Curate.curateDf(spark, Transcripts.dataset(spark, 50).toDF()))

    // curate throughput (the BASELINE.md turns/sec metric), min-of-3
    val nConvs = curateConvs(sfDir)
    val turns = Transcripts.dataset(spark, nConvs).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nTurns = turns.count() // materializes input outside the timed region
    forceMaterialize(Curate.curateDf(spark, turns)) // warm
    val curateReps = (1 to 3).map { _ =>
      timeWithSteal(forceMaterialize(Curate.curateDf(spark, turns)))
    }
    turns.unpersist()
    val curateSec = curateReps.map(_._1).min
    val turnsPerSec = nTurns / curateSec

    val results = benchQueries.map { name =>
      val fn = SparkEntry.queries(name)
      val reps = try {
        forceMaterialize(fn(spark, sfDir)) // warm: plan compile + codegen
        val n = if (tripleRep(name)) 3 else 2
        (1 to n).map(_ => timeWithSteal(forceMaterialize(fn(spark, sfDir))))
      } catch { case _: Throwable => Seq((-1.0, 0.0, 0.0, 0.0)) }
      (name, reps.map(_._1).min, reps)
    }
    val (benchTot1, benchSt1, _) = readSteal()
    val benchStealPct =
      if (benchTot1 > benchTot0) 100.0 * (benchSt1 - benchSt0) / (benchTot1 - benchTot0)
      else 0.0

    val qs = (results.map { case (k, v, _) => k -> v } :+ ("curate_pipeline" -> curateSec))
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val keyedReps = results.map { case (k, _, reps) => k -> reps } :+
      ("curate_pipeline" -> curateReps)
    def repField(get: ((Double, Double, Double, Double)) => Double): String =
      keyedReps.map { case (k, reps) => "\"" + k + "\":" + jArr(reps.map(get)) }
        .mkString("{", ",", "}")
    val repJson = repField(_._1)
    val stealJson = repField(_._2)
    val sysJson = repField(_._3)
    val spinJson = repField(_._4)
    val total = results.map(_._2).filter(_ >= 0).sum + curateSec
    // A broken query must be loud in the artifact, not a greppable -1:
    // list it by name so the headline says what was excluded from total.
    val failedJson = results.collect { case (k, v, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // error reps record spin 0.0; if every query errored the >0 filter
    // leaves nothing and .min would throw, losing the headline line
    val spinMin = keyedReps.flatMap(_._2.map(_._4)).filter(_ > 0)
      .minOption.getOrElse(-1.0)
    // Two lines, diagnostics FIRST and the compact headline LAST: the
    // round-2 driver artifact lost the headline because the ~6 KB
    // single line overflowed the driver's tail-capture window — the
    // tail keeps line ENDS, so the parseable record must be the final
    // line and must stay small.
    println(
      s"""{"metric":"bench_diagnostics","rep_sec":$repJson,""" +
        s""""rep_steal_pct":$stealJson,"rep_sys_pct":$sysJson,""" +
        s""""rep_spin_ms":$spinJson,""" +
        s""""timing":"min-of-reps; rep_steal_pct/rep_sys_pct = /proc/stat steal and system share during that rep; rep_spin_ms = fixed-work single-thread probe before it, calm ~25-60ms (three observed VM degradation modes)"}""")
    println(
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,""" +
        s""""sf":"$sfDir","cpus":$cpus,"curate_turns":$nTurns,""" +
        s""""curate_sec":${f"$curateSec%.3f"},"turns_per_sec":${f"$turnsPerSec%.1f"},""" +
        s""""bench_steal_pct":${f"$benchStealPct%.2f"},""" +
        s""""spin_ms_min":${f"$spinMin%.1f"},"failed":$failedJson}""")
    spark.stop()
  }
}
