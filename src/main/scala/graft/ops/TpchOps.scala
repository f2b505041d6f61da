package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.{SessionMemo, Tables}

/** The remaining TPC-H-shaped composites (Q2/Q6/Q9/Q11/Q12/Q13/Q14/
  * Q15/Q17/Q19/Q20/Q21/Q22), adapted to the reduced testdata star
  * schema the same way composite_q16 already is: no `partsupp` table,
  * so the supplying relation is DERIVED from the fact (distinct
  * (partkey, suppkey) + an integer-exact derived supply cost); no
  * commitdate/receiptdate/shipmode/phone/container columns, so those
  * predicates are re-expressed over the columns that exist with the
  * query SHAPE preserved (the shape — not the constants — is what each
  * query exercises: Q13's left-join distribution, Q17's correlated
  * per-group mean, Q21's exists/not-exists self-joins, Q22's
  * anti-join + scalar-average gate).
  *
  * Money determinism: every computed amount is integer centi-cents
  * (1e-4 dollars): cents(x) = CAST(round(x*100) AS BIGINT) is exact
  * for 2-decimal money doubles in both engines, and
  * rev_cc = cents(price) * (100 - cents-percent(discount)) keeps all
  * arithmetic in BIGINT — no float rounding anywhere (SURVEY §2.2
  * rules ①–⑤). DuckDB sums of BIGINT widen to HUGEINT, so every
  * oracle sum is CAST back to BIGINT.
  */
object TpchOps extends OpPack {

  /** Integer revenue in centi-cents: price*(1-discount) exactly. */
  private val revCc =
    expr("CAST(round(l_extendedprice * 100) AS BIGINT) * " +
      "(100 - CAST(round(l_discount * 100) AS BIGINT))")
  private val revCcSql =
    "CAST(round(l_extendedprice * 100) AS BIGINT) * " +
      "(100 - CAST(round(l_discount * 100) AS BIGINT))"

  /** Derived partsupp (same derivation as composite_q16, widened with
    * costs): one (partkey, suppkey) hash agg over the fact —
    * `ps_supplycost_cc` is the minimum unit price (centi-cents) the
    * supplier ever charged for the part (integer division of cents by
    * the integral quantity — exact and positive in both engines), and
    * `ps_qty` the total quantity supplied. At scale this is one
    * map-side-combined shuffle proportional to |distinct pairs|, and
    * every consumer below joins it on the same partkey key. */
  /** Memoized per (session, dir) and persisted (optimization r12,
    * guide §2.4 "remove shuffles outright"): the derived relation is
    * consumed by composite_q2 (twice — offers feeds both the min-cost
    * gate and the winner join), q9 and q11, so the fact-table scan +
    * (partkey, suppkey) shuffle is paid once per session instead of
    * once per consumer plan — the production posture where partsupp
    * is a maintained table, not a per-query derivation. */
  private def partsupp(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("tpch.partsupp", dir))(
      Tables(s, dir, "lineitem")
        .select(col("l_partkey").as("ps_partkey"),
          col("l_suppkey").as("ps_suppkey"),
          expr("(CAST(round(l_extendedprice * 100) AS BIGINT) * 100) div " +
            "CAST(l_quantity AS BIGINT)").as("unit_cc"),
          col("l_quantity").cast("long").as("q"))
        .groupBy(col("ps_partkey"), col("ps_suppkey"))
        .agg(min(col("unit_cc")).as("ps_supplycost_cc"),
          sum(col("q")).as("ps_qty"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private val psSql =
    """ps AS (
      |  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |    min((CAST(round(l_extendedprice * 100) AS BIGINT) * 100)
      |        // CAST(l_quantity AS BIGINT)) AS ps_supplycost_cc,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_qty
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  def queries: Map[String, Q] = Map(

    // TPC-H Q2 shape (min-cost supplier): region-restricted suppliers'
    // offers for filtered parts; the winning offers are those equal to
    // the per-part MIN — a two-phase partkey agg joined back on the
    // SAME partkey shuffle key (no correlated re-execution). Dims
    // broadcast; top-100 under a total order is
    // TakeOrderedAndProject, never a global sort.
    "composite_q2" -> ((s, dir) => {
      val ps = partsupp(s, dir)
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region").filter(col("r_name") === "EUROPE")
      val p = Tables(s, dir, "part")
        .filter(col("p_type") === "STANDARD" && col("p_size") < 25)
        .select(col("p_partkey"), col("p_type"))
      val eu = sup.join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
          col("n_name"))
      val offers = ps
        .join(p, col("ps_partkey") === col("p_partkey"))
        .join(eu, col("ps_suppkey") === col("s_suppkey"))
      val minCost = offers
        .groupBy(col("ps_partkey").as("mc_partkey"))
        .agg(min(col("ps_supplycost_cc")).as("min_cc"))
      offers.join(minCost, col("ps_partkey") === col("mc_partkey") &&
          col("ps_supplycost_cc") === col("min_cc"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_type"), col("ps_supplycost_cc"))
        .orderBy(desc("s_acctbal"), asc("n_name"), asc("s_name"),
          asc("p_partkey"))
        .limit(100)
    }),

    // TPC-H Q6 (forecast revenue change): the pure-pushdown probe —
    // every predicate reaches the parquet scan (shipdate range,
    // discount band, quantity cap), then ONE partial-aggregated global
    // sum. The revenue here is price*discount (the "what if we had
    // not discounted" delta), exact in centi-cents².
    "composite_q6" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT) * " +
            "CAST(round(l_discount * 100) AS BIGINT)")).as("revenue_cc"),
          count(lit(1)).as("n"))
    }),

    // TPC-H Q9 shape (product-type profit): profit = revenue minus the
    // derived supply cost × quantity, by nation × order-year. The fact
    // joins the derived ps on its natural (partkey, suppkey) key, the
    // name-filtered part sliver prunes first, dims broadcast, and the
    // final frame is a 2-key hash agg. All amounts integer centi-cents.
    "composite_q9" -> ((s, dir) => {
      val p = Tables(s, dir, "part")
        .filter(col("p_name").like("%widget%")).select(col("p_partkey"))
      val ps = partsupp(s, dir)
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val sup = Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val n = Tables(s, dir, "nation")
      Tables(s, dir, "lineitem")
        .join(p, col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .withColumn("profit_cc",
          revCc - col("ps_supplycost_cc") * col("l_quantity").cast("long"))
        .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
        .agg(sum(col("profit_cc")).as("profit_cc"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"), desc("o_year"))
    }),

    // TPC-H Q11 shape (important stock): per-part inventory value held
    // by one region's suppliers, keeping parts above a SCALE-FREE
    // threshold (2× the mean part value — the original's fixed
    // 0.0001 fraction only works at a known sf). The scalar gate is a
    // broadcast 1-row total (same bounded cross-join shape as
    // llm_unigram_lm), the comparison multiplied through to stay in
    // integers. value_cc×n_parts stays under 2^63 through ~1e8 parts
    // at testdata magnitudes; past that the gate column widens to
    // decimal(38,0) the same way agg_outliers already does.
    "composite_q11" -> ((s, dir) => {
      val ps = partsupp(s, dir)
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      val asia = sup.join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("s_suppkey"))
      val value = ps.join(asia, col("ps_suppkey") === col("s_suppkey"))
        .groupBy(col("ps_partkey"))
        .agg(sum(col("ps_supplycost_cc") * col("ps_qty")).as("value_cc"))
      val tot = value.agg(sum(col("value_cc")).as("total_cc"),
        count(lit(1)).as("n_parts"))
      value.crossJoin(broadcast(tot))
        .filter(col("value_cc") * col("n_parts") > lit(2) * col("total_cc"))
        .select(col("ps_partkey"), col("value_cc"))
        .orderBy(desc("value_cc"), col("ps_partkey"))
    }),

    // TPC-H Q12 shape (late shipments by priority class): lines shipped
    // >60 days after their order date within one year, CASE-summed into
    // critical- vs ordinary-priority counts per returnflag (the
    // shipmode column doesn't exist; returnflag keeps the 3-group
    // CASE-sum shape). One orderkey-keyed join, one tiny hash agg.
    "composite_q12" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"), col("l_returnflag"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1998-01-01") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag"))
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            1L).otherwise(0L)).as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            0L).otherwise(1L)).as("low_line_count"))
        .orderBy(col("l_returnflag"))
    }),

    // TPC-H Q13 (customer order-count distribution): LEFT join so
    // zero-order customers keep c_count=0 (count(o_orderkey) skips the
    // null-extended rows), with the priority filter IN THE JOIN
    // CONDITION — in WHERE it would silently turn the join inner,
    // dropping the 0 bucket. Two cascading hash aggs, both two-phase.
    "composite_q13" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"))
      Tables(s, dir, "customer").select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey") &&
          col("o_orderpriority") =!= "4-NOT SPECIFIED", "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    }),

    // TPC-H Q14 (promo revenue share): conditional and total revenue
    // in the SAME single aggregate (no scalar-subquery join needed),
    // share emitted as integer permille via integral division. The
    // part dim joins on partkey ahead of one 1-row agg.
    "composite_q14" -> ((s, dir) => {
      val p = Tables(s, dir, "part").select(col("p_partkey"), col("p_type"))
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01") &&
          col("l_shipdate") < lit("1997-04-01"))
        .join(p, col("l_partkey") === col("p_partkey"))
        .agg(sum(when(col("p_type") === "PROMO", revCc).otherwise(0L))
            .as("promo_cc"),
          sum(revCc).as("total_cc"))
        .select(expr("(promo_cc * 1000) div total_cc").as("promo_permille"),
          col("promo_cc"), col("total_cc"))
    }),

    // TPC-H Q15 (top supplier): quarterly revenue per supplier, keep
    // the max-revenue supplier(s) via a broadcast 1-row MAX joined back
    // (ties all kept, like the original's scalar subquery; revenue is
    // integer so equality is exact). The revenue frame aggregates
    // BEFORE touching the supplier dim.
    "composite_q15" -> ((s, dir) => {
      val rev = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1996-04-01"))
        .groupBy(col("l_suppkey"))
        .agg(sum(revCc).as("total_rev_cc"))
      val mx = rev.agg(max(col("total_rev_cc")).as("max_rev_cc"))
      val sup = Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      rev.crossJoin(broadcast(mx))
        .filter(col("total_rev_cc") === col("max_rev_cc"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_rev_cc"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q17 shape (small-quantity orders): lines below 1/5 of their
    // part's mean quantity, for one brand. The correlated per-part mean
    // is a two-phase partkey agg joined back on the same key, and the
    // comparison is multiplied through (5·cnt·qty < sum) so it stays in
    // exact integers. Output stays in cents with an integral /7 for the
    // yearly figure (declared floor semantics).
    "composite_q17" -> ((s, dir) => {
      val p = Tables(s, dir, "part")
        .filter(col("p_brand") === "Brand#3").select(col("p_partkey"))
      val lp = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
        .join(p, col("l_partkey") === col("p_partkey"))
      val avgq = lp.groupBy(col("l_partkey").as("a_partkey"))
        .agg(sum(col("l_quantity").cast("long")).as("sum_q"),
          count(lit(1)).as("cnt_q"))
      lp.join(avgq, col("l_partkey") === col("a_partkey"))
        .filter(col("l_quantity").cast("long") * lit(5L) * col("cnt_q") <
          col("sum_q"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .as("sum_cents"), count(lit(1)).as("n"))
        .select(expr("sum_cents div 7").as("avg_yearly_cents"), col("n"))
    }),

    // TPC-H Q19 shape (disjunctive brand/size/quantity baskets): three
    // OR-branches over the joined (lineitem, part) pair. The part side
    // carries a brand ∈ {…} prefilter implied by the disjunction so
    // the scan prunes before the join; the residual OR evaluates
    // post-join. One global integer sum.
    "composite_q19" -> ((s, dir) => {
      val p = Tables(s, dir, "part")
        .filter(col("p_brand").isin("Brand#2", "Brand#13", "Brand#24"))
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
      val j = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"))
        .join(p, col("l_partkey") === col("p_partkey"))
      val basket =
        (col("p_brand") === "Brand#2" &&
          col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#13" &&
          col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#24" &&
          col("l_quantity").between(20, 30) && col("p_size").between(1, 15))
      j.filter(basket)
        .agg(sum(revCc).as("revenue_cc"), count(lit(1)).as("n"))
    }),

    // TPC-H Q20 shape (excess suppliers): suppliers shipping more than
    // 1.5× the per-supplier mean of a name-filtered part in one year.
    // Nested aggregation — (part,supp) quantities, then per-part totals
    // — both on the partkey chain; the supplier dim arrives LAST via a
    // semi join against the tiny qualifying set.
    "composite_q20" -> ((s, dir) => {
      val wid = Tables(s, dir, "part")
        .filter(col("p_name").like("%bolt%")).select(col("p_partkey"))
      val psq = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01") &&
          col("l_shipdate") < lit("1999-01-01"))
        .join(wid, col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("ps_q"))
      val ptot = psq.groupBy(col("l_partkey").as("t_partkey"))
        .agg(sum(col("ps_q")).as("tot_q"), count(lit(1)).as("n_supp"))
      val excess = psq.join(ptot, col("l_partkey") === col("t_partkey"))
        .filter(col("ps_q") * lit(2L) * col("n_supp") >
          lit(3L) * col("tot_q") && col("n_supp") > 1L)
        .select(col("l_suppkey")).distinct()
      Tables(s, dir, "supplier")
        .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
        .orderBy(col("s_suppkey"))
    }),

    // TPC-H Q21 shape (the only-late supplier in multi-supplier
    // orders): a late line (shipped >60 days after a finalized order)
    // where ANOTHER supplier contributed to the same order (semi join,
    // orderkey-equi + supplier-inequality residual) but NO other
    // supplier was also late (anti join, same shape). Self-joins all
    // ride the orderkey key; top-100 by wait count under a total order.
    "composite_q21" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"))
      val l = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      val late = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") > col("o_orderdate") +
          expr("INTERVAL 60 DAYS"))
        .select(col("l_orderkey"), col("l_suppkey"))
      val l1 = late.select(col("l_orderkey").as("w_orderkey"),
        col("l_suppkey").as("w_suppkey"))
      val anyOther = l.select(col("l_orderkey").as("a_orderkey"),
        col("l_suppkey").as("a_suppkey"))
      val lateOther = late.select(col("l_orderkey").as("b_orderkey"),
        col("l_suppkey").as("b_suppkey"))
      val sup = Tables(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_name"))
      l1.join(anyOther, col("w_orderkey") === col("a_orderkey") &&
          col("w_suppkey") =!= col("a_suppkey"), "left_semi")
        .join(lateOther, col("w_orderkey") === col("b_orderkey") &&
          col("w_suppkey") =!= col("b_suppkey"), "left_anti")
        .join(sup, col("w_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(100)
    }),

    // TPC-H Q22 shape (global sales opportunity): LAPSED customers (no
    // orders since 2000 — anti join against the date-filtered orders;
    // the original's "no orders at all" is empty by testdata
    // construction, every customer orders) from selected name-digit
    // "country codes" whose balance beats the mean positive balance.
    // The scalar mean gate is a broadcast 1-row (sum, count) pair with
    // the comparison multiplied through in exact decimal (bal·n > sum)
    // — no float average ever computed. Totals via the shared moneySum.
    "composite_q22" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .withColumn("cntrycode", substring(col("c_name"), 18, 1))
        .filter(col("cntrycode").isin("1", "3", "5", "7", "9"))
      val avgBal = Tables(s, dir, "customer")
        .filter(col("c_acctbal") > 0.0)
        .agg(sum(col("c_acctbal").cast(DecimalType(18, 2))).as("bal_sum"),
          count(lit(1)).as("bal_n"))
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01"))
        .select(col("o_custkey"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("bal_n") >
          col("bal_sum"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          Tables.moneySum(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("cntrycode"))
    })
  )

  def oracle: Map[String, String] = Map(
    "composite_q2" ->
      s"""WITH $psSql,
         |eu AS (
         |  SELECT s_suppkey, s_name, s_acctbal, n_name
         |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'EUROPE'),
         |offers AS (
         |  SELECT * FROM ps
         |  JOIN part ON ps_partkey = p_partkey
         |  JOIN eu ON ps_suppkey = s_suppkey
         |  WHERE p_type = 'STANDARD' AND p_size < 25),
         |mc AS (
         |  SELECT ps_partkey AS mc_partkey, min(ps_supplycost_cc) AS min_cc
         |  FROM offers GROUP BY 1)
         |SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
         |  ps_supplycost_cc
         |FROM offers JOIN mc
         |  ON ps_partkey = mc_partkey AND ps_supplycost_cc = min_cc
         |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         |LIMIT 100""".stripMargin,

    "composite_q6" ->
      """SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cc,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate <  TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "composite_q9" ->
      s"""WITH $psSql
         |SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |  CAST(sum($revCcSql
         |      - ps_supplycost_cc * CAST(l_quantity AS BIGINT)) AS BIGINT)
         |    AS profit_cc,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN ps ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY n_name, o_year
         |ORDER BY n_name, o_year DESC""".stripMargin,

    "composite_q11" ->
      s"""WITH $psSql,
         |asia AS (
         |  SELECT s_suppkey FROM supplier
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |  WHERE r_name = 'ASIA'),
         |value AS (
         |  SELECT ps_partkey,
         |    CAST(sum(ps_supplycost_cc * ps_qty) AS BIGINT) AS value_cc
         |  FROM ps JOIN asia ON ps_suppkey = s_suppkey
         |  GROUP BY ps_partkey),
         |tot AS (
         |  SELECT CAST(sum(value_cc) AS BIGINT) AS total_cc,
         |    count(*) AS n_parts FROM value)
         |SELECT ps_partkey, value_cc
         |FROM value, tot
         |WHERE value_cc * n_parts > 2 * total_cc
         |ORDER BY value_cc DESC, ps_partkey""".stripMargin,

    "composite_q12" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate <  TIMESTAMP '1998-01-01'
        |  AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "composite_q13" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "composite_q14" ->
      s"""SELECT (promo_cc * 1000) // total_cc AS promo_permille,
         |  promo_cc, total_cc
         |FROM (
         |  SELECT
         |    CAST(sum(CASE WHEN p_type = 'PROMO'
         |      THEN $revCcSql ELSE 0 END) AS BIGINT) AS promo_cc,
         |    CAST(sum($revCcSql) AS BIGINT) AS total_cc
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |    AND l_shipdate <  TIMESTAMP '1997-04-01')""".stripMargin,

    "composite_q15" ->
      s"""WITH rev AS (
         |  SELECT l_suppkey,
         |    CAST(sum($revCcSql) AS BIGINT) AS total_rev_cc
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
         |    AND l_shipdate <  TIMESTAMP '1996-04-01'
         |  GROUP BY l_suppkey)
         |SELECT s_suppkey, s_name, total_rev_cc
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev_cc = (SELECT max(total_rev_cc) FROM rev)
         |ORDER BY s_suppkey""".stripMargin,

    "composite_q17" ->
      """WITH lp AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#3'),
        |avgq AS (
        |  SELECT l_partkey AS a_partkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_q,
        |    count(*) AS cnt_q
        |  FROM lp GROUP BY 1)
        |SELECT
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    // 7 AS avg_yearly_cents,
        |  count(*) AS n
        |FROM lp JOIN avgq ON l_partkey = a_partkey
        |WHERE CAST(l_quantity AS BIGINT) * 5 * cnt_q < sum_q""".stripMargin,

    "composite_q19" ->
      s"""SELECT CAST(sum($revCcSql) AS BIGINT) AS revenue_cc,
         |  count(*) AS n
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#2'
         |    AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
         |  OR (p_brand = 'Brand#13'
         |    AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
         |  OR (p_brand = 'Brand#24'
         |    AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
         |""".stripMargin,

    "composite_q20" ->
      """WITH psq AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ps_q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE '%bolt%'
        |    AND l_shipdate >= TIMESTAMP '1998-01-01'
        |    AND l_shipdate <  TIMESTAMP '1999-01-01'
        |  GROUP BY 1, 2),
        |ptot AS (
        |  SELECT l_partkey AS t_partkey,
        |    CAST(sum(ps_q) AS BIGINT) AS tot_q, count(*) AS n_supp
        |  FROM psq GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM psq JOIN ptot ON l_partkey = t_partkey
        |  WHERE ps_q * 2 * n_supp > 3 * tot_q AND n_supp > 1)
        |ORDER BY s_suppkey""".stripMargin,

    "composite_q21" ->
      """WITH late AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM late l1 JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 100""".stripMargin,

    "composite_q22" ->
      s"""WITH avgbal AS (
         |  SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS bal_sum,
         |    count(*) AS bal_n
         |  FROM customer WHERE c_acctbal > 0.0)
         |SELECT substr(c_name, 18, 1) AS cntrycode, count(*) AS numcust,
         |  ${Tables.sql.moneySum("c_acctbal")} AS totacctbal
         |FROM customer, avgbal
         |WHERE substr(c_name, 18, 1) IN ('1', '3', '5', '7', '9')
         |  AND CAST(c_acctbal AS DECIMAL(18,2)) * bal_n > bal_sum
         |  AND NOT EXISTS (
         |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |      AND o_orderdate >= TIMESTAMP '2000-01-01')
         |GROUP BY cntrycode
         |ORDER BY cntrycode""".stripMargin
  )
}
