package graft

/** Dev tool: dump formatted physical plans for headline queries so scan
  * pruning (ReadSchema/PushedFilters), broadcast choices, and
  * WholeStageCodegen spans can be eyeballed per optimization round.
  *
  * Usage: runMain graft.PlanAudit [sfDir] [query ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val wanted = if (args.length > 1) args.drop(1).toSet else
      Set("q1_agg", "true_card", "minhash_lsh_dup", "embed_cosine_topk", "window_agg",
        "mcv_est", "cms_freq", "interval_join", "embed_ivf_ann", "dup_clusters", "ur_size",
        "stratified_sample", "chi2_drift", "doc_filter", "dedup_keep_best")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1) if wanted(name)) {
      println(s"\n========== $name ==========")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
