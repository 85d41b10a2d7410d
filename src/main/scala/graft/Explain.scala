package graft

/** Plan audit: print `explain("formatted")` for selected queries.
  * Usage: tools/run.sh graft.Explain [queryName ...] (default: key set)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq
      else Seq("next_window_target", "q1_agg", "q_join_agg", "series_hour")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
