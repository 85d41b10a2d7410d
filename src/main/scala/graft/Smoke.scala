package graft

/** t1 smoke: run SparkEntry.entry and print its row count (driver checks >0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.session()
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n")
    spark.stop()
  }
}
