package graft
object TimeOne {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    // optional -dir=<path> arg points at a different dataset (e.g. the
    // ScaleUp-generated target/sf1 for data-proportionality checks)
    val dir = args.collectFirst { case a if a.startsWith("-dir=") =>
      a.stripPrefix("-dir=") }.getOrElse("/root/testdata/sf0.1")
    val names = args.filterNot(_.startsWith("-dir="))
    Tables.all.foreach { t => try Tables(spark, dir, t).limit(1).count() catch { case _: Throwable => } }
    for (name <- names; i <- 1 to 3) {
      val t0 = System.nanoTime()
      val n = SparkEntry.queries(name)(spark, dir).count()
      println(f"$name run$i ${(System.nanoTime()-t0)/1e9}%.2f s ($n rows)")
    }
    spark.stop()
  }
}
