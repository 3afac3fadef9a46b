package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.Bench

/** The benchmark's entry point. One run = one workload at one seed:
  *
  *   java ... perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     [--scale full|tiny] [--corrupt 0|1]
  *
  * Run from the root of the checkout. It sets the workload up `setupReps`
  * times (setup_s is their median), warms it, runs a fixed number of
  * timed reps (see [[timedReps]]), checks the outputs and prints one JSON
  * object as the last line of stdout: with --trace 0 the end-to-end metrics, with --trace 1 the per-layer metrics of a run
  * with span recording and Spark listeners on. perfbench/run.py builds the
  * program and launches this class.
  */
object Main {

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "rows/s", "op_geomean_s" -> "s",
    "heap_peak_mb" -> "MB", "keep_f1" -> "ratio")

  val perLayer: Seq[(String, String)] = Seq(
    "pipeline.turns_per_s" -> "rows/s",
    "pipeline.ns_per_turn" -> "ns", "pipeline.kernel_share" -> "ratio",
    "scrub.ns_per_turn" -> "ns",
    "rules.cheap_ns_per_turn" -> "ns", "rules.grammar_ns_per_call" -> "ns",
    "rules.grammar_reach" -> "ratio",
    "langid.ns_per_call" -> "ns", "langid.reach" -> "ratio",
    "lm.ns_per_call" -> "ns", "lm.reach" -> "ratio",
    "spark.plan_ms" -> "ms", "spark.codegen_ms" -> "ms", "spark.submit_gap_ms" -> "ms",
    "spark.jobs" -> "count", "spark.tasks" -> "count",
    "spark.task_busy_ratio" -> "ratio", "spark.sched_delay_ms" -> "ms", "spark.gc_ratio" -> "ratio",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.fetch_wait_ms" -> "ms", "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
    "spark.scaling_eff" -> "ratio",
    "tableio.bytes_written" -> "bytes", "tableio.write_task_s" -> "s",
    "tableio.out_bytes_per_in_byte" -> "ratio",
    "checkpoint.part_p50_s" -> "s", "checkpoint.part_max_s" -> "s",
    "checkpoint.skipped_parts" -> "count", "checkpoint.redone_parts" -> "count") ++
    Seq("dedup.max_band_bucket" -> "count") ++
    Workloads.declaredLeaves.map(q => s"query.${q}_s" -> "s") ++
    Seq("run.op_p50_s" -> "s", "run.op_p90_s" -> "s",
      "trace.overhead_ms" -> "ms", "trace.coverage" -> "ratio",
      "run.fail_ratio" -> "ratio")

  /** The benchmark's directory; runs start at the root of the checkout. */
  val benchDir: Path = Paths.get("perfbench").toAbsolutePath

  val MinReps = 3

  /** Timed reps of a run: `--seconds` over the workload's nominal rep
    * time, at least [[MinReps]]. The count never follows the host's speed,
    * so every run of one command takes its best call times over the same
    * number of reps.
    */
  def timedReps(w: Workload, seconds: Double): Int =
    math.max(MinReps, math.round(seconds / w.nominalRepS).toInt)

  /** Share of a workload's wall time its child spans must cover. */
  val CoverageTolerance = 0.05

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      scale: Scale, corrupt: Boolean)

  final case class Rep(wallS: Double, ops: Seq[(String, Double)], rows: Double, traced: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w; one of ${Workloads.names.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      if (m.get("scale").contains("tiny")) Scale.tiny else Scale.full,
      m.get("corrupt").contains("1"))
  }

  private def secsOf(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors()
    val spinMs = Bench.spinProbeMs()
    val (tot0, st0, sy0) = Bench.readSteal()
    val t0 = System.nanoTime()
    var spark = Bench.session(nproc.toString)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val work = benchDir.resolve("target").resolve("work")
      .resolve(s"${a.workload}-${ProcessHandle.current().pid()}")
    val c = new Ctx(spark, a.seed, a.scale, nproc, work, benchDir, a.corrupt)
    val w = Workloads(a.workload)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    tracer.foreach { t => t.attach(); c.tracer = Some(t) }

    val reps = mutable.ArrayBuffer.empty[Rep]
    var setupSecs: Seq[Double] = Nil
    var warmS = 0.0
    var warmRepSecs: Seq[Double] = Nil
    var finishS = 0.0
    val heapMbs = mutable.ArrayBuffer.empty[Double]
    var codegenNs = 0L

    def sampleHeap(): Unit = c.span("heap", "heap") { heapMbs += Heap.settledOldGenMb(spark) }

    def runRep(traced: Boolean): Unit = {
      sampleHeap()
      c.repOps.clear()
      var rows = 0.0
      val cg0 = CodeGenerator.compileTime
      val wall = tracer match {
        case Some(t) if traced => secsOf(c.span("rep", "rep"){ rows = w.rep(c) })
        case Some(t) =>
          t.detach(); c.tracer = None
          try secsOf(t.within("rep_untraced", "rep"){ rows = w.rep(c) })
          finally { t.attach(); c.tracer = Some(t) }
        case None => secsOf{ rows = w.rep(c) }
      }
      if (traced) codegenNs += CodeGenerator.compileTime - cg0
      reps += Rep(wall, c.repOps.toList, rows, traced && tracer.nonEmpty)
    }

    try {
      c.span("workload", a.workload) {
        setupSecs = (1 to a.scale.setupReps).map(i => secsOf(c.span("setup", s"setup-$i")(w.setup(c))))
        warmS = secsOf(c.span("warm", "warm") {
          w.warm(c)
          warmRepSecs = (1 to math.min(w.warmReps, a.scale.warmRepCap)).map(_ => secsOf(w.rep(c)))
          c.repOps.clear()
          w.startTimed()
        })
        (0 until timedReps(w, a.seconds)).foreach { pair =>
          // ABBA order of traced and untraced reps in the traced run
          val tracedFirst = pair % 2 == 0 || tracer.isEmpty
          runRep(traced = tracedFirst)
          if (tracer.nonEmpty) runRep(traced = !tracedFirst)
        }
        sampleHeap()
        finishS = secsOf(c.span("finish", "finish")(w.finish(c)))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        c.failed += 1; c.attempted += 1
        c.log(s"run failed: $e")
        e.printStackTrace()
    }

    val (tot1, st1, sy1) = Bench.readSteal()
    val d = math.max(1L, tot1 - tot0).toDouble
    val opTimes = reps.flatMap(_.ops.map(_._2)).toSeq
    val host = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString, "nproc" -> nproc.toString,
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spin_probe_ms" -> Json.num(spinMs),
      "steal_pct" -> Json.num(100.0 * (st1 - st0) / d), "sys_pct" -> Json.num(100.0 * (sy1 - sy0) / d),
      "session_s" -> Json.num(sessionS), "setup_reps_s" -> setupSecs.map(Json.num).mkString("[", ",", "]"),
      "warm_s" -> Json.num(warmS),
      "warm_rep_s" -> warmRepSecs.map(Json.num).mkString("[", ",", "]"), "finish_s" -> Json.num(finishS),
      "total_s" -> Json.num((System.nanoTime() - t0) / 1e9), "reps" -> reps.size.toString,
      "rep_s" -> reps.map(r => Json.num(r.wallS)).mkString("[", ",", "]"),
      "heap_mb" -> heapMbs.map(Json.num).mkString("[", ",", "]"),
      "op_samples" -> opTimes.size.toString,
      "op_best_s" -> Json.obj(bestOf(reps.toSeq).toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) })))
    println(host)
    appendLine(benchDir.resolve("target").resolve("runs.jsonl"), host)

    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) {
        val calls = bestOf(reps.toSeq).values.toSeq
        val rows = if (reps.isEmpty) 0.0 else reps.map(_.rows).max
        val vals = Map(
          "setup_s" -> (if (setupSecs.isEmpty) 0.0 else Stats.median(setupSecs)),
          "rows_per_s" -> (if (calls.isEmpty) 0.0 else rows / calls.sum),
          "op_geomean_s" -> (if (calls.isEmpty) 0.0 else Stats.geomean(calls)),
          "heap_peak_mb" -> (if (heapMbs.isEmpty) 0.0 else heapMbs.max),
          "keep_f1" -> w.quality)
        endToEnd.map { case (n, u) => (n, u, vals(n)) }
      } else {
        val t = tracer.get
        t.detach()
        c.tracer = None
        val vals = mutable.LinkedHashMap.empty[String, Double]
        try {
          vals ++= Layers.fromSpans(t, reps.toSeq, nproc, codegenNs, c)
          vals ++= w.layers(c)
          // kernel time × turns / executor task time, per traced rep
          vals.get("pipeline.ns_per_turn").filter(_ > 0).foreach { ns =>
            val rows = Stats.median(reps.filter(_.traced).map(_.rows).toSeq)
            val taskMs = vals.getOrElse("spark.task_ms_per_rep", 0.0)
            if (taskMs > 0) vals("pipeline.kernel_share") = ns * rows / (taskMs * 1e6)
          }
          val calls = bestOf(reps.toSeq).values.toSeq
          if (calls.nonEmpty) {
            vals("run.op_p50_s") = Stats.quantile(calls, 0.5)
            vals("run.op_p90_s") = Stats.quantile(calls, 0.9)
          }
          w match {
            case job: CurateJobWorkload =>
              // the same in-memory curate at local[1]: N→1 scaling efficiency
              spark.stop()
              spark = Bench.session("1")
              val c1 = new Ctx(spark, a.seed, a.scale, 1, work, benchDir, false)
              vals("spark.scaling_eff") =
                vals("pipeline.turns_per_s") / (nproc * job.inMemoryRate(c1))
            case _ => ()
          }
        } catch {
          case scala.util.control.NonFatal(e) =>
            c.failed += 1; c.attempted += 1
            c.log(s"per-layer pass failed: $e")
            e.printStackTrace()
        }
        vals("run.fail_ratio") = c.failed.toDouble / math.max(1L, c.attempted)
        writeTrace(a, t, vals)
        perLayer.map { case (n, u) => (n, u, vals.getOrElse(n, 0.0)) }
      }

    try w.cleanup(c) catch { case scala.util.control.NonFatal(_) => () }
    deleteQuietly(work)
    spark.stop()
    val ms = metrics.map { case (n, u, v) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println(Json.obj(Seq(
      "correct" -> (c.failed == 0).toString,
      "attempted" -> c.attempted.max(1L).toString,
      "failed" -> c.failed.toString,
      "metrics" -> Json.obj(ms))))
  }

  /** Best time of each public call over the reps (min-of-reps, as in
    * graft.Bench: CPU-steal bursts on a shared host only ever add time).
    */
  def bestOf(reps: Seq[Rep]): Map[String, Double] =
    reps.flatMap(_.ops).groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).min }

  private def deleteQuietly(p: Path): Unit =
    try graft.tableio.TableIO.deleteRecursive(p) catch { case scala.util.control.NonFatal(_) => () }

  private def appendLine(p: Path, line: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def writeTrace(a: Args, t: Tracer, vals: collection.Map[String, Double]): Unit = {
    val dir = Files.createDirectories(benchDir.resolve("target").resolve("trace"))
    val spans = t.allSpans
    val stem = s"${a.workload}-seed${a.seed}"
    Files.write(dir.resolve(s"$stem.spans.json"),
      Tracer.toJson(spans, Tracer.selfTimes(spans)).getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve(s"$stem.layers.json"),
      Json.obj(vals.toSeq.map { case (k, v) => k -> Json.num(v) }).getBytes(StandardCharsets.UTF_8))
  }
}
