package graft

/** Degenerate-input sweep: run every registered query against a
  * dataset dir (typically EMPTY or near-empty tables) and report
  * which ones throw — totality hardening, not correctness (the
  * oracle gate is graft.Verify). Usage:
  *   runMain graft.Smoke <dir> [only,csv]
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only = args.lift(1).map(_.split(",").map(_.trim).toSet)
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    var bad = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          val n = fn(spark, dir).collect().length
          println(s"[smoke] ok   $name ($n rows)")
        } catch {
          case e: Throwable =>
            bad += 1
            val root = {
              var c: Throwable = e
              while (c.getCause != null && c.getCause != c) c = c.getCause
              c
            }
            println(s"[smoke] FAIL $name: ${root.getClass.getSimpleName}: " +
              s"${Option(root.getMessage).getOrElse("").take(160)}")
        }
      }
    println(s"[smoke] $bad failures")
    spark.stop()
  }
}
