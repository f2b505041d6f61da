package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an sf1-shaped dataset from the driver's sf0.1 testdata
  * for data-proportionality dress rehearsals (VERDICT r6 item 4): the
  * dedup/graph families' sf0.1 bench multipliers deserve one
  * order-of-magnitude of empirical scaling evidence, and the sandbox
  * ships no sf1 parquet.
  *
  * NOT an oracle input — correctness stays pinned to the driver's
  * testdata at sf0.001/0.01/0.1. This output exists only to measure
  * how per-query time GROWS when fact tables grow 10×.
  *
  * Scaling shape: fact tables (orders, lineitem, events, documents,
  * embeddings) are replicated 10× with replica-offset keys so key
  * uniqueness, join fan-in per key, and group cardinalities scale the
  * way real data does (each replica lands in a fresh key range;
  * per-key multiplicities stay constant, group counts grow 10× where
  * they are key-derived). Dimensions (region, nation, customer,
  * supplier, part) are copied verbatim — fact→dim fan-out grows 10×,
  * matching how a warehouse actually scales. Text/embedding payloads
  * are reused per replica with a replica tag where identity matters
  * (documents get a per-replica suffix so exact-dedup families don't
  * collapse the 10 copies into one cluster and near-dup structure is
  * preserved per replica).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "target/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    // optional 4th arg: comma-list of tables to emit (e.g.
    // "documents,embeddings" for a dedup/graph-only sf10 decade —
    // replicating 100x lineitem just to time a documents query is
    // wasted disk)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(',').map(_.trim).toSet)
      else None
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = LocalSession(32)
    spark.sparkContext.setLogLevel("WARN")

    def replicate(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      if (!wanted(name)) return
      val base = Tables(spark, srcDir, name)
      val out = (0 until copies).map(r => shift(base, r))
        .reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name x$copies -> $outDir")
    }

    // dims verbatim
    for (d <- Seq("region", "nation", "customer", "supplier", "part")
         if wanted(d)) {
      Tables(spark, srcDir, d).write.mode("overwrite")
        .parquet(s"$outDir/$d.parquet")
      println(s"[scaleup] $d copied")
    }

    // orders/lineitem: orderkey ranges must not collide across
    // replicas; custkey/suppkey/partkey stay (fan-out scales).
    val okBase = 100000000L
    replicate("orders") { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * okBase))
    }
    replicate("lineitem") { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * okBase))
    }

    // events: fresh event ids and user ranges per replica; ts shifted
    // by replica seconds so the time axis stays dense but ordered.
    replicate("events") { (df, r) =>
      df.withColumn("event_id", col("event_id") + lit(r * okBase))
        .withColumn("user_id", col("user_id") + lit(r * 1000000L))
        .withColumn("ts",
          timestamp_micros(unix_micros(col("ts")) + lit(r.toLong * 1000000L)))
    }

    // documents: new doc ids; text tagged per replica so exact/near
    // dedup structure replicates instead of collapsing. n_chars must
    // track the suffix — FIXTURES declares n_chars == octet_length
    // (text), and the mm_* family's oracles lean on it.
    replicate("documents") { (df, r) =>
      val tagged = df.withColumn("doc_id", col("doc_id") + lit(r * okBase))
      if (r == 0) tagged
      else tagged
        .withColumn("text", concat(col("text"), lit(s" replica$r")))
        .withColumn("n_chars",
          col("n_chars") + lit(s" replica$r".length.toLong))
    }

    // embeddings: new vec ids; vectors reused (cell structure repeats).
    replicate("embeddings") { (df, r) =>
      df.withColumn("vec_id", col("vec_id") + lit(r * okBase))
    }
    spark.stop()
  }
}
