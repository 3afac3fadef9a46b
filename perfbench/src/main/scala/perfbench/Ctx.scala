package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Input sizes of one scale. `full` is what the benchmark measures;
  * `tiny` is the smoke size used by the self-tests.
  */
final case class Scale(
    jobConvs: Long,
    jobHotTurns: Int,
    leaves: Int,
    setupReps: Int,
    warmRepCap: Int,
    kernelTurns: Int
)

object Scale {
  val full: Scale = Scale(jobConvs = 800, jobHotTurns = 8000, leaves = Int.MaxValue,
    setupReps = 3, warmRepCap = Int.MaxValue, kernelTurns = 20000)
  val tiny: Scale = Scale(jobConvs = 40, jobHotTurns = 300, leaves = 4,
    setupReps = 1, warmRepCap = 1, kernelTurns = 500)
}

/** State shared by the workloads of one run: the session, the seed, the
  * op and check counters, and (in the traced run) the span recorder.
  */
final class Ctx(
    val spark: SparkSession,
    val seed: Long,
    val scale: Scale,
    val nproc: Int,
    val work: Path,
    val benchDir: Path,
    val corrupt: Boolean
) {
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  /** (op name, seconds) of the current rep. */
  val repOps: mutable.ArrayBuffer[(String, Double)] = mutable.ArrayBuffer.empty

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def span[A](kind: String, name: String)(f: => A): A =
    tracer.fold(f)(_.within(kind, name)(f))

  /** One public call into the program, timed; a throw counts as a failed op. */
  def op[A](name: String)(f: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = span("op", name)(f)
      repOps += name -> (System.nanoTime() - t0) / 1e9
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed += 1
        log(s"op $name failed: $e")
        None
    }
  }

  /** An output check; a false one counts as a failed op. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      log(s"check $name FAILED $detail")
    }
  }

  /** With --corrupt, drop one row from an output before it is checked
    * (the self-tests' negative case); otherwise the output unchanged.
    */
  def output(df: DataFrame): DataFrame =
    if (!corrupt) df
    else df.limit(math.max(0L, df.count() - 1L).toInt)
}
