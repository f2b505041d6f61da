package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One category of SURVEY.md §2.2 operators: named DataFrame builders
  * plus the DuckDB oracle SQL for those that are SQL-expressible. */
trait OpPack {
  type Q = (SparkSession, String) => DataFrame
  def queries: Map[String, Q]
  def oracle: Map[String, String]
}

/** Shared SQL fragments over a tokenized `toks` array column. */
private[ops] object Grams {
  /** Spark SQL: array of space-joined word n-grams of `toks`.
    * (Assumes size(toks) >= n — guaranteed by the testdata contract
    * of >= 10 tokens per document; `sequence` would count DOWN for
    * shorter docs.) */
  def spark(n: Int): String = {
    val parts = (0 until n).map(j => if (j == 0) "toks[i]" else s"toks[i+$j]")
    s"transform(sequence(0, size(toks)-$n), " +
      s"i -> concat_ws(' ', ${parts.mkString(", ")}))"
  }
}
