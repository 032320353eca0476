package graft

/** Dumps `explain("formatted")` for selected queries to stdout — the
  * plan-review loop demanded by the scale mandate: verify pushdown/pruning
  * reach the scan, dims broadcast, and the hot path stays in
  * WholeStageCodegen. Spark logs go to stderr, so before/after evidence
  * files are made by redirecting stdout, one query per file.
  * Usage: tools/run.sh graft.Plans [sfDir] [query ...] > plans/<tag>/<query>_before.txt
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("projection_pushdown", "hotels_count", "join_broadcast_dims",
        "q1_agg", "dedup_minhash_pairs", "similarity_topk")
    val spark = GraftSession.getOrCreate()
    names.foreach { n =>
      println(s"\n=================== $n ===================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
