package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each declared query's result → parquet, plus
  * oracle_sql.json (every non-exempt query's oracle SQL), for the DuckDB
  * compare that scripts/compare_oracle.py replays. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(16, Runtime.getRuntime.availableProcessors()).toString)
    val spark = Bench.session(cpus)
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for fast local iteration; the
    // driver sets nothing and gets the full dump
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.declared
      .filter(d => only.forall(_.contains(d.name)))
      .foreach { d =>
      try d.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${d.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${d.name} failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
