package graft

/** Writes `.explain("formatted")` output for the named queries to
  * <out>/<query>_<tag>.txt — the plan evidence files the optimization
  * rounds commit under plans/rNN/. Usage:
  *   runMain graft.PlanDump -out=plans/r12 -tag=before [-dir=...] q1 q2 ...
  * Pass `-all` to dump every registered query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.collectFirst { case a if a.startsWith("-dir=") =>
      a.stripPrefix("-dir=") }.getOrElse("/root/testdata/sf0.1")
    val out = args.collectFirst { case a if a.startsWith("-out=") =>
      a.stripPrefix("-out=") }.getOrElse("plans/r12")
    val tag = args.collectFirst { case a if a.startsWith("-tag=") =>
      a.stripPrefix("-tag=") }.getOrElse("before")
    val names =
      if (args.contains("-all")) SparkEntry.queries.keys.toSeq.sorted
      else args.filterNot(_.startsWith("-")).toSeq
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(out, s"${name}_$tag.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val nEx = "(?m)^\\s*[+:]?[-\\s]*Exchange".r
          .findAllIn(txt).length
        println(s"[plandump] $name -> $out/${name}_$tag.txt " +
          s"(exchanges~$nEx, ${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
