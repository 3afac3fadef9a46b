package graft

import graft.checkpoint.Resume
import graft.tableio.TableIO

/** Production entry point — the spark-submit face of the engine:
  *
  *   spark-submit --class graft.CurateJob <jar> \
  *     --input <transcripts table dir (Hive-bucketed by part_id)> \
  *     --output <curated table dir> \
  *     [--write-partitions 64] [--max-partitions N]
  *
  * Resumable by construction: re-running the same command after a
  * kill processes only partitions missing from the output manifest
  * (checkpoint/Resume). On a cluster the session comes from
  * spark-submit's conf (executor count/memory set there — the N vs 4N
  * executor scaling axis); local runs use SPARK_GRAFT_CPUS cores, else
  * every core of the host, and write that many files per partition
  * unless --write-partitions says otherwise.
  * Exit summary (one JSON line) reports per-run lineage totals.
  */
object CurateJob {
  private val flags = Seq("--input", "--output", "--write-partitions", "--max-partitions")

  /** Local core count: SPARK_GRAFT_CPUS, else this host's processors. */
  private[graft] def localCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(
      intValue("SPARK_GRAFT_CPUS", _))

  /** `value` of the flag or env var `name` as an Int; a non-integer
    * fails, naming it.
    */
  private[graft] def intValue(name: String, value: String): Int =
    value.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$name must be an integer, got '$value'"))

  /** `--key value` pairs, by key without the dashes; an unknown key or a
    * key with no value fails, naming it.
    */
  private[graft] def parseFlags(args: Seq[String]): Map[String, String] = args match {
    case Seq() => Map.empty
    case k +: rest =>
      require(flags.contains(k), s"unknown flag $k (flags: ${flags.mkString(" ")})")
      require(rest.nonEmpty && !rest.head.startsWith("--"), s"flag $k has no value")
      parseFlags(rest.tail) + (k.stripPrefix("--") -> rest.head)
  }

  def main(args: Array[String]): Unit = {
    val opts = parseFlags(args.toSeq)
    val input = opts.getOrElse("input",
      sys.error("--input <dir> required (Hive-bucketed transcripts; " +
        "use TableIO.writeBucketedInput or an Iceberg bucket(N, conv_id) spec)"))
    val output = opts.getOrElse("output", sys.error("--output <dir> required"))
    val writeParts = opts.get("write-partitions").fold(localCpus)(intValue("--write-partitions", _))
    val maxParts = opts.get("max-partitions").fold(Int.MaxValue)(intValue("--max-partitions", _))

    // under spark-submit the master/executor topology comes from the
    // submit conf (the N vs 4N executor axis); standalone runs fall
    // back to local[localCpus]
    val base = GraftSession.builder().appName("graft-curate")
    val spark = (if (sys.props.contains("spark.master")) base
                 else base.master(s"local[$localCpus]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val result = Resume.run(spark, input, output,
      writePartitions = writeParts, maxPartitions = maxParts)
    val sec = (System.nanoTime() - t0) / 1e9

    // roll up manifests for the exit summary
    val totalSeen = TableIO.donePartitions(output).toSeq
      .flatMap(TableIO.readManifest(output, _)).map(Resume.Manifest.parse(_).turnsSeen).sum
    println(
      s"""{"job":"graft-curate","processed_partitions":${result.processed.size},""" +
        s""""skipped_partitions":${result.skipped.size},"total_turns_committed":$totalSeen,""" +
        s""""sec":${f"$sec%.1f"}}""")
    spark.stop()
  }
}
