package graft
object PlanPeek {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    println(SparkEntry.queries(args(0))(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString.take(3000))
    spark.stop()
  }
}
