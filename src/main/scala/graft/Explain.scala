package graft
/** Plan-audit tool: prints the formatted physical plan of each named
  * query (all queries when no args) so scan pruning (ReadSchema),
  * pushdown (PushedFilters), broadcast joins and WholeStageCodegen spans
  * can be inspected. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.util.LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n======== $n ========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
