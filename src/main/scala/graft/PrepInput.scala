package graft

import org.apache.spark.sql.SparkSession

import graft.synth.Transcripts
import graft.tableio.TableIO

/** Utility main: materialize a synth transcripts table Hive-bucketed
  * by part_id (the Iceberg bucket(N, conv_id) analog) as CurateJob
  * input. Usage: runMain graft.PrepInput <outDir> [nConvs] [buckets].
  */
object PrepInput {
  def main(args: Array[String]): Unit = {
    val out = args(0)
    val nConvs = if (args.length > 1) args(1).toLong else 1000L
    val buckets = if (args.length > 2) args(2).toInt else 16
    val spark = SparkSession.builder()
      .master(s"local[${CurateJob.localCpus}]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    TableIO.writeBucketedInput(Transcripts.dataset(spark, nConvs).toDF(), out, buckets)
    println(s"""{"prep":"$out","convs":$nConvs,"buckets":$buckets}""")
    spark.stop()
  }
}
