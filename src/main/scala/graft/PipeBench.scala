package graft
import org.apache.spark.sql.SparkSession

/** Reference-scale pipeline throughput: generate ~1M trips (the size of
  * the real 2010-2017 Buenos Aires dataset the reference processes), run
  * the full checkpointed pipeline, print wall seconds per stage-free run.
  */
object PipeBench {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val dir = java.nio.file.Files.createTempDirectory("pipebench").toString
    val rnd = new scala.util.Random(13)
    val stations = (0 until 200).map(i => s"ST$i")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm")
    val base = java.time.LocalDateTime.of(2016, 1, 1, 0, 0)
    val w = new java.io.PrintWriter(s"$dir/recorridos-realizados-2016.csv")
    w.println("FECHA_HORA_RETIRO;TIEMPO_USO;NOMBRE_ORIGEN;NOMBRE_DESTINO")
    var i = 0
    while (i < n) {
      val t = base.plusMinutes(rnd.nextInt(500 * 24 * 60).toLong)
      w.println(s"${t.format(fmt)};${5 + rnd.nextInt(55)};${stations(rnd.nextInt(200))};${stations(rnd.nextInt(200))}")
      i += 1
    }
    w.close()
    val spark = SparkSession.builder().master(s"local[${SparkEntry.localCpus}]")
      .config("spark.sql.shuffle.partitions", SparkEntry.localCpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val r = graft.pipeline.Pipeline.run(spark, Seq(s"$dir/recorridos-realizados-2016.csv"), s"$dir/out")
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[pipebench] n=$n unified=${r.unifiedCount} dataset=${r.datasetCount} mse=${r.mse}%.4f wall=${secs}%.1f s")
    spark.stop()
  }
}
