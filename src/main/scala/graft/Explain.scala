package graft

/** Plan-inspection main: prints the formatted physical plan for the given
  * query keys (or the Bench headline set by default) so partitioning /
  * pushdown / broadcast / codegen decisions can be reviewed.
  *
  * Usage: runMain graft.Explain [sfDir] [queryKey ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val keys = if (args.length > 1) args.drop(1).toSeq else Bench.headline
    // local[4] keeps the printed plans comparable with PLANS.md's.
    val spark = Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    keys.foreach { k =>
      def show(df: org.apache.spark.sql.DataFrame): Unit =
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      if (k == "fact_date_window") {
        // Not a SparkEntry query: materialize the Hive-partitioned fact
        // and explain the date-window scan so PartitionFilters are
        // inspectable (the partition-pruning story in SCALE.md).
        println(s"\n========== $k ==========")
        val out = "/tmp/graft_explain_fact"
        Pipeline.materializeFactPartitioned(spark, sfDir, out)
        show(Pipeline.factDateWindow(spark, s"$out/fact_prices_p",
          "1995-01-01", "1995-02-28"))
      } else SparkEntry.queries.get(k) match {
        case Some(fn) =>
          println(s"\n========== $k ==========")
          show(fn(spark, sfDir))
        case None => println(s"\n========== $k: NOT FOUND ==========")
      }
    }
    spark.stop()
  }
}
