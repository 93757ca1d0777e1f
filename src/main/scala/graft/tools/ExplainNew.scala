package graft.tools

/** Plan-shape counts (broadcast / sort-merge joins, scans, exchanges,
  * nested-loop and cartesian joins) for a fixed list of queries, on a
  * session built with [[graft.GraftExtensions]] like the bench's.
  *
  * Usage: runMain graft.tools.ExplainNew <sfDir>
  */
object ExplainNew {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: ExplainNew <sfDir>")
    val sfDir = args(0)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[8]").config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (q <- Seq("label_propagation", "dsir_resample", "image_dhash",
        "pivot_grid_bfill",
        // round-13 additions
        "bloom_bulk_membership", "ann_ivf_retrained",
        "image_dhash_scaled", "bpe_train", "perceptron_train",
        "ann_knn_label", "perceptron_confusion",
        // round-14 additions
        "image_dhash_pairs", "image_dedup_pipeline", "ann_ivf_split",
        "bpe_train_batched", "bpe_encode_batched",
        "perceptron_ovr_confusion", "corpus_diff")) {
      println(s"===== $q =====")
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      println("broadcasts: " + "BroadcastHashJoin".r.findAllIn(plan).length)
      println("sortmerge:  " + "SortMergeJoin".r.findAllIn(plan).length)
      println("scans:      " + "Scan parquet".r.findAllIn(plan).length)
      println("exchanges:  " + "Exchange ".r.findAllIn(plan).length)
      println("nestedloop: " + "NestedLoop".r.findAllIn(plan).length)
      println("cartesian:  " + "CartesianProduct".r.findAllIn(plan).length)
    }
    spark.stop()
  }
}
