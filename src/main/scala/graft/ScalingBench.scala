package graft

import graft.pipeline.Curate
import graft.synth.Transcripts
import graft.tableio.TableIO

/** Two-cluster-size scaling evidence (BASELINE.json north_rule): the
  * sandbox has no real cluster, so the same curate job runs at two
  * parallelism levels (default local[8] vs local[32]) over the SAME
  * materialized parquet input, and we report throughput at both plus
  * scaling efficiency = T(N·k) / (k · T(N)).
  *
  * The job timed is read-parquet → curate → noop sink: map-only,
  * so ideal scaling is linear in cores; measured efficiency is
  * reported honestly in BASELINE.md / BENCH_r*.json.
  */
object ScalingBench {

  /** min-of-reps timing: the sandbox VM shows double-digit CPU steal
    * (/proc/stat), so single-shot wall times are unreliable; the MIN
    * over repetitions approximates the un-stolen cost at each level.
    */
  def runAt(cpus: Int, inputPath: String, reps: Int = 5): (Long, Seq[(Double, Double, Double, Double)]) = {
    val spark = Bench.session(cpus.toString)
    // warmup (codegen + model broadcast)
    Bench.forceMaterialize(
      Curate.curateDf(spark, Transcripts.dataset(spark, 30).toDF()))
    val turns = spark.read.parquet(inputPath)
    val n = turns.count()
    val times = (1 to reps).map { i =>
      val (s, st, sy, sp) = Bench.timeWithSteal {
        Bench.forceMaterialize(Curate.curateDf(spark, turns))
      }
      System.err.println(
        f"[scaling] cpus=$cpus rep=$i sec=$s%.3f steal=$st%.1f%% sys=$sy%.1f%% spin=$sp%.0fms")
      (s, st, sy, sp)
    }
    spark.stop()
    (n, times)
  }

  def main(args: Array[String]): Unit = {
    // ~10M turns: large enough that per-task compute dwarfs fixed
    // job/scheduling overhead at 32 cores (at 2M turns the fused kernel
    // finishes in ~4s and overhead distorts the ratio)
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_SCALE_CONVS", "600000").toLong
    val lowCpus = sys.env.getOrElse("SPARK_GRAFT_LOW", "8").toInt
    val highCpus = sys.env.getOrElse("SPARK_GRAFT_HIGH", "32").toInt
    val input = s"/tmp/graft-scaling-input-$nConvs"

    // materialize the input once (outside all timed regions), with
    // enough file splits for the high-parallelism run
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(input))) {
      val s = Bench.session(highCpus.toString)
      Transcripts.dataset(s, nConvs).toDF()
        .repartition(highCpus * 4)
        .write.mode("overwrite").parquet(input)
      s.stop()
    }

    val (n1, reps1) = runAt(lowCpus, input)
    val (n2, reps2) = runAt(highCpus, input)
    require(n1 == n2)
    val sec1 = reps1.map(_._1).min
    val sec2 = reps2.map(_._1).min
    val tp1 = n1 / sec1
    val tp2 = n2 / sec2
    val k = highCpus.toDouble / lowCpus
    val eff = tp2 / (k * tp1)
    def arr(xs: Seq[Double]) = xs.map(x => f"$x%.3f").mkString("[", ",", "]")
    // Diagnostics first, compact headline LAST (tail-capture keeps
    // line ends — see the same note in Bench.main).
    println(
      s"""{"metric":"scaling_diagnostics",""" +
        s""""low_rep_sec":${arr(reps1.map(_._1))},"high_rep_sec":${arr(reps2.map(_._1))},""" +
        s""""low_rep_steal_pct":${arr(reps1.map(_._2))},"high_rep_steal_pct":${arr(reps2.map(_._2))},""" +
        s""""low_rep_sys_pct":${arr(reps1.map(_._3))},"high_rep_sys_pct":${arr(reps2.map(_._3))},""" +
        s""""low_rep_spin_ms":${arr(reps1.map(_._4))},"high_rep_spin_ms":${arr(reps2.map(_._4))},""" +
        s""""timing":"min-of-5; rep_steal_pct/rep_sys_pct = /proc/stat steal and system share during that rep; rep_spin_ms = fixed-work single-thread probe before it, calm ~25-60ms"}""")
    println(
      s"""{"metric":"scaling_efficiency","value":${f"$eff%.3f"},"unit":"ratio",""" +
        s""""turns":$n1,"low_cpus":$lowCpus,"high_cpus":$highCpus,""" +
        s""""low_sec":${f"$sec1%.3f"},"high_sec":${f"$sec2%.3f"},""" +
        s""""low_turns_per_sec":${f"$tp1%.1f"},"high_turns_per_sec":${f"$tp2%.1f"}}""")
  }
}
