package graft

import graft.cdc.CdcPayloadRule
import graft.functions.{DotProduct, FreqItemsAgg, KllDoublesAgg, L2DistanceSq, MinHashSignature, PqAdcL1, ThetaSketchAgg}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers the engine's native
  * catalyst expressions in the SQL function registry, so
  * `spark.sql("... dot_product(a, b) ...")` works anywhere the
  * DataFrame helpers (`graft.functions.VectorFunctions`) do, and
  * installs one optimizer rule: [[graft.cdc.CdcPayloadRule]], which
  * parses `from_json` over a `maxscale-cdc` relation's `raw` column
  * from its UTF-8 bytes (pre-CBO, after Spark's JSON schema pruning).
  *
  * Wire up with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` at
  * session build time (see Verify/Bench and the test harness).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPreCBORule(_ => CdcPayloadRule)

    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"dot_product takes exactly 2 arguments, got ${children.size}")
        DotProduct(children.head, children(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("l2_distance_sq"),
      new ExpressionInfo(classOf[L2DistanceSq].getName, "l2_distance_sq"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"l2_distance_sq takes exactly 2 arguments, got ${children.size}")
        L2DistanceSq(children.head, children(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("pq_adc_l1"),
      new ExpressionInfo(classOf[PqAdcL1].getName, "pq_adc_l1"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"pq_adc_l1 takes exactly 2 arguments, got ${children.size}")
        PqAdcL1(children.head, children(1))
      }))

    ext.injectFunction((
      new FunctionIdentifier("minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName,
        "minhash_signature"),
      (children: Seq[Expression]) => {
        require(children.size == 2,
          s"minhash_signature takes (hash, numHashes), got ${children.size}")
        require(children(1).foldable,
          "minhash_signature: numHashes must be a literal")
        val n = children(1).eval() match {
          case i: java.lang.Number => i.intValue()
          case other => throw new IllegalArgumentException(
            s"minhash_signature: numHashes must be an integer literal, got $other")
        }
        require(n > 0, s"minhash_signature: numHashes must be positive, got $n")
        MinHashSignature(children.head, n).toAggregateExpression()
      }))

    // theta_sketch_agg(longKey): mergeable theta sketch bytes — the
    // SQL surface of graft.functions.ThetaSketchAgg, so segment
    // summary tables can be materialized from plain SQL pipelines.
    ext.injectFunction((
      new FunctionIdentifier("theta_sketch_agg"),
      new ExpressionInfo(classOf[ThetaSketchAgg].getName,
        "theta_sketch_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"theta_sketch_agg takes exactly 1 argument, got ${children.size}")
        ThetaSketchAgg(children.head).toAggregateExpression()
      }))

    // kll_sketch_agg(doubleValue): mergeable KLL quantile sketch
    // bytes — SQL surface of graft.functions.KllDoublesAgg.
    ext.injectFunction((
      new FunctionIdentifier("kll_sketch_agg"),
      new ExpressionInfo(classOf[KllDoublesAgg].getName,
        "kll_sketch_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"kll_sketch_agg takes exactly 1 argument, got ${children.size}")
        KllDoublesAgg(children.head).toAggregateExpression()
      }))

    // freq_items_agg(longKey): mergeable Misra-Gries frequent-items
    // sketch bytes — SQL surface of graft.functions.FreqItemsAgg.
    ext.injectFunction((
      new FunctionIdentifier("freq_items_agg"),
      new ExpressionInfo(classOf[FreqItemsAgg].getName,
        "freq_items_agg"),
      (children: Seq[Expression]) => {
        require(children.size == 1,
          s"freq_items_agg takes exactly 1 argument, got ${children.size}")
        FreqItemsAgg(children.head).toAggregateExpression()
      }))

    // zorder_key(x, y[, bits=12]): Morton layout key — a COMPOSED tree
    // of existing codegen primitives (graft.functions.ZOrder), so SQL
    // users get the data-layout function with zero new runtime code.
    ext.injectFunction((
      new FunctionIdentifier("zorder_key"),
      new ExpressionInfo(graft.functions.ZOrder.getClass.getName,
        "zorder_key"),
      (children: Seq[Expression]) => {
        require(children.size == 2 || children.size == 3,
          s"zorder_key takes (x, y[, bits]), got ${children.size}")
        val bits = if (children.size == 2) 12 else {
          require(children(2).foldable,
            "zorder_key: bits must be a literal")
          children(2).eval() match {
            case i: java.lang.Number => i.intValue()
            case other => throw new IllegalArgumentException(
              s"zorder_key: bits must be an integer literal, got $other")
          }
        }
        graft.functions.ZOrder.zExprTree(children.head, children(1), bits)
      }))
  }
}
