package graft

/** Plan-quality inspector: prints `explain("formatted")` for the
  * headline queries so scan pruning (`ReadSchema`), pushed filters
  * (`PushedFilters`), broadcast joins and WholeStageCodegen spans can
  * be reviewed (builder-prompt requirement). Not part of the driver
  * contract; run with `sbt "runMain graft.Explain [queryName...]"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Bench.session("4")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("q7_scrub", "q5_minlen_filter", "q2_join_topk", "q12_knn",
        "curate_transcripts", "dedup_minhash_clusters")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
