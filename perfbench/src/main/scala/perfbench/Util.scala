package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.{DoubleType, FloatType}

object Stats {
  /** Linear-interpolation quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** Order-independent digest of a DataFrame: row count plus the exact sum
  * of a 64-bit hash of each row. Top-level floating-point columns are
  * rounded to 9 decimals first, so a digest does not depend on the order
  * in which a parallel aggregate added its inputs.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case DoubleType | FloatType => F.round(F.col(f.name), 9)
        case _ => F.col(f.name)
      }
    }.toIndexedSeq
    val r = df.select(F.xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(F.count(F.lit(1)), F.coalesce(F.sum("h"), F.lit(0).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }
}

/** Old-generation occupancy after a full collection: the live heap at a
  * rep boundary. It first runs a one-row query, because the session keeps
  * the last query's plan until the next one runs, and the plan of a leaf
  * built from local rows holds those rows (`multimodal_features`: ≈64 MB);
  * without it the figure would depend on which leaf the seed put last.
  * It then lets the listener bus deliver its queued events and collects
  * with pauses between until a collection frees less than 1 MB more than
  * the one before (at most six): each collection lets Spark's
  * ContextCleaner find broadcasts and shuffles nothing references any
  * more and free their blocks, so the last sees only what stays live.
  */
object Heap {
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def settledOldGenMb(spark: SparkSession): Double = {
    spark.range(1).count()
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    def collect(): Double = {
      System.gc()
      oldGen.map(_.getUsage.getUsed).sum / 1048576.0
    }
    var last = collect()
    var prev = Double.MaxValue
    var n = 1
    while (n < 6 && prev - last > 1.0) {
      Thread.sleep(200)
      prev = last
      last = collect()
      n += 1
    }
    last
  }
}
