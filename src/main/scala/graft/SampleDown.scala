package graft

import org.apache.spark.sql.functions._

/** Build an ORGANIC mid-scale oracle corpus by deterministic doc-level
  * SAMPLING of a larger corpus (VERDICT r11 task 2) — the counterpart
  * to [[ScaleUp]], which grows a corpus by replication.
  *
  * Why both exist: ScaleUp's replicas share almost every shingle with
  * their originals, so a near-dup pair frame over a replicated corpus
  * grows super-linearly in replica count (the 923x effect recorded in
  * SCALING.md r8) — an artifact of the construction, not of either
  * engine. A hash-mod doc-level sample keeps whatever near-dup
  * structure the source corpus actually has, with cluster sizes that
  * vary the way organic data does (binomially thinned), instead of a
  * uniform every-doc-has-exactly-k-near-identical-siblings lattice.
  *
  * Selection is `xxhash64(id) mod denom < num` — deterministic,
  * seed-free, reproducible from the parquet alone. Only the corpus
  * tables (documents, embeddings) are emitted: this exists to give the
  * shingle-closure graph family an above-driver-scale oracle point,
  * and those queries touch nothing else.
  *
  * Usage: runMain graft.SampleDown <srcDir> <outDir> <num> <denom>
  *   e.g.  runMain graft.SampleDown target/sf1 target/sf03org 3 10
  */
object SampleDown {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("target/sf1")
    val outDir = if (args.length > 1) args(1) else "target/sf03org"
    val num = if (args.length > 2) args(2).toInt else 3
    val denom = if (args.length > 3) args(3).toInt else 10
    val spark = LocalSession(32)
    spark.sparkContext.setLogLevel("WARN")

    def sample(name: String, id: String): Unit = {
      val df = Tables(spark, srcDir, name)
        .filter(pmod(xxhash64(col(id)), lit(denom.toLong)) < num.toLong)
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[sampledown] $name $num/$denom of $srcDir -> $outDir")
    }
    sample("documents", "doc_id")
    sample("embeddings", "vec_id")
    spark.stop()
  }
}
