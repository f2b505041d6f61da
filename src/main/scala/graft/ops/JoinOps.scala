package graft.ops

import graft.{SessionMemo, Tables}
import graft.Tables.{moneySum, exprSum}
import graft.operators.AsOfJoin
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins (SURVEY.md §2.2 "Joins").
  *
  * Scale notes per strategy:
  *  - broadcast: dimension tables (part/nation/supplier) stay under the
  *    broadcast threshold even at 100 TB fact scale — no shuffle of the
  *    fact side at all.
  *  - sort-merge / shuffle-hash: both sides shuffle on the key once;
  *    AQE converts to broadcast at runtime when a side turns out small
  *    and splits skewed partitions.
  *  - theta (non-equi): re-expressed as a banded equi-join (explode the
  *    smaller side into covering bands, hash-join on the band key, then
  *    apply the exact residual predicate). A raw BNL join is O(n·m) and
  *    is never acceptable at scale.
  *  - as-of: union + running-last window, see [[graft.operators.AsOfJoin]].
  */
object JoinOps extends OpPack {

  /** composite_basket's distinct (order, part) frame as a shared
    * helper + persist (optimization r12): equal subplans across the
    * four consumers resolve to ONE cached relation instead of four
    * scan+distinct chains. */
  private def basketItems(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo(s, ("join.basketItems", dir))(
      Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def queries: Map[String, Q] = Map(
    "join_inner" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
      val c = Tables(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "inner")
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "join_broadcast" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val p = Tables(s, dir, "part").filter(col("p_size") >= 49)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
          col("p_name"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("p_partkey"))
    }),

    "join_sortmerge" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      li.hint("merge").join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          exprSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    "join_shuffle_hash" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val sup = Tables(s, dir, "supplier")
      li.hint("shuffle_hash").join(sup, li("l_suppkey") === sup("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("s_name"))
    }),

    "join_left" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders").filter(col("o_totalprice") > 490000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(asc("c_custkey"), asc_nulls_first("o_orderkey"))
    }),

    "join_right" -> ((s, dir) => {
      val o = Tables(s, dir, "orders").filter(col("o_totalprice") > 490000)
      val c = Tables(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(asc("c_custkey"), asc_nulls_first("o_orderkey"))
    }),

    "join_full" -> ((s, dir) => {
      val c = Tables(s, dir, "customer").filter(col("c_acctbal") > 9000)
      val o = Tables(s, dir, "orders").filter(col("o_totalprice") > 480000)
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("o_orderkey"))
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_orderkey"))
    }),

    "join_semi" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 450000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "join_anti" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 450000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "join_cross" -> ((s, dir) => {
      val r = Tables(s, dir, "region")
      val n = Tables(s, dir, "nation")
      r.crossJoin(n)
        .select(col("r_regionkey"), col("n_nationkey"), col("r_name"),
          col("n_name"))
        .orderBy(col("r_regionkey"), col("n_nationkey"))
    }),

    // Non-equi range join, re-expressed as banded equi-join: parts are
    // exploded into the (at most two) $2-wide bands their price-offset
    // range can touch, hash-joined on the band key, then the exact
    // range residual is applied. Same result as the BNL theta join the
    // oracle runs, but shuffle-partitionable at 100 TB.
    "join_theta" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("event_id"), col("value"),
          floor(col("value") / 2).as("band"))
      val p = Tables(s, dir, "part")
        .select(col("p_partkey"), col("p_retailprice"),
          floor((col("p_retailprice") - 900) / 2).as("pb"))
        .withColumn("band", explode(array(col("pb") - 1, col("pb"))))
        .drop("pb")
      e.join(p, "band")
        .filter(col("p_retailprice") - 900 >= col("value") &&
          col("p_retailprice") - 900 <= col("value") + 2)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_parts"),
          min(col("p_retailprice")).as("min_price"))
        .orderBy(col("event_id"))
    }),

    // Self range join: per-user pairs of events within 60 s, banded by
    // the 60 s time bucket (probe side explodes into its ≤2 covering
    // buckets, hash-join on (user, bucket), exact residual) — the
    // interval self-join pattern for sessionization/attribution at
    // scale; never a BNL.
    "join_range_self" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("es", unix_timestamp(col("ts")))
        .select(col("user_id"), col("event_id"), col("es"))
      val b = e.select(col("user_id").as("u_b"), col("event_id").as("id_b"),
        col("es").as("es_b"), (col("es") / 60).cast("long").as("band"))
      val a = e
        .withColumn("band",
          explode(array((col("es") / 60).cast("long"),
            (col("es") / 60).cast("long") + 1)))
      // The es_b >= es lower bound is explicit (not left to the band
      // restriction or the testdata's ts-monotone-in-event_id property)
      // so the predicate is structurally identical to the oracle's.
      a.join(b, a("user_id") === b("u_b") && a("band") === b("band"))
        .filter(col("id_b") > col("event_id") &&
          col("es_b") >= col("es") && col("es_b") <= col("es") + 60)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy(col("user_id"))
    }),

    // Manually salted skew join: the events fact side concentrates all
    // rows on 150 user keys (~67× hotter than a uniform custkey), so a
    // plain hash join puts each hot key in ONE task. Salting splits
    // every key 8 ways — fact rows get a deterministic salt
    // (event_id % 8), the dimension is replicated across all 8 salts —
    // so each hot key's rows spread over 8 tasks. Identical result to
    // the unsalted join (the oracle runs that), which is the point:
    // salting is a partitioning rewrite, not a semantic one. This is
    // the static counterpart of AQE's runtime skew split (SkewJoinSpec)
    // for the cases AQE can't fix (pre-shuffle aggregation skew, or a
    // key so hot one ShuffleRead still exceeds a task).
    "join_skew_salted" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .withColumn("salt_f", pmod(col("event_id"), lit(8)).cast("int"))
      val c = Tables(s, dir, "customer")
        .withColumn("salt_d", explode(sequence(lit(0), lit(7))))
      e.join(c, e("user_id") === c("c_custkey") &&
          e("salt_f") === c("salt_d"))
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_events"), max(col("event_id")).as("max_event"))
        .orderBy(col("c_custkey"))
    }),

    "join_asof" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOfJoin(purchases, clicks, key = "user_id", tsCol = "ts",
          seqCol = "event_id", carry = Map("event_id" -> "click_id"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("click_id"))
        .orderBy(col("purchase_id"))
    }),

    // Tolerance-bounded as-of (pandas merge_asof(tolerance=...) / kdb
    // wj): backward as-of match VOIDED when the gap exceeds 24 h — a
    // stale click should not claim a purchase. Same single-shuffle
    // AsOfJoin (the match timestamp rides along as a second carried
    // column); the tolerance is a post-join null-out, in integer
    // microseconds, so the plan cost is identical to join_asof.
    "join_asof_tol" -> ((s, dir) => {
      val tolUs = 86400000000L
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOfJoin(purchases, clicks, key = "user_id", tsCol = "ts",
          seqCol = "event_id",
          carry = Map("event_id" -> "click_id", "ts" -> "click_ts"))
        .withColumn("gap_us",
          unix_micros(col("ts")) - unix_micros(col("click_ts")))
        .withColumn("in_tol", col("gap_us") <= tolUs)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          when(col("in_tol"), col("click_id")).as("click_id"),
          when(col("in_tol"), col("gap_us")).as("gap_us"))
        .orderBy(col("purchase_id"))
    }),

    // Null-safe equi join (<=>): both sides derive a NULLABLE bucket
    // (null for low-value events), and null keys MATCH each other —
    // the semantics `=` can't express (null = null is null ⇒ dropped).
    // Catalyst plans <=> as a hash join on a null-tolerant key, same
    // shuffle shape as a plain equi join.
    "join_null_safe" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("event_id"),
          when(col("value") >= 100, pmod(col("event_id"), lit(5)))
            .as("bucket"))
      val a = e.filter(col("event_id") < 100)
        .select(col("event_id").as("id_a"), col("bucket").as("bucket_a"))
      val b = e.filter(col("event_id") >= 100 && col("event_id") < 200)
        .select(col("event_id").as("id_b"), col("bucket").as("bucket_b"))
      a.join(b, col("bucket_a") <=> col("bucket_b"))
        .groupBy(col("id_a"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("id_b")).as("min_match"))
        .orderBy(col("id_a"))
    }),

    // Forward as-of: each click matched to the EARLIEST purchase
    // at-or-after it per user (click→conversion attribution). Same
    // one-shuffle union/running-last construction, reversed timeline.
    "join_asof_fwd" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOfJoin(clicks, purchases, key = "user_id", tsCol = "ts",
          seqCol = "event_id",
          carry = Map("event_id" -> "next_purchase_id"), forward = true)
        .select(col("event_id").as("click_id"), col("user_id"),
          col("next_purchase_id"))
        .orderBy(col("click_id"))
    }),

    // Nearest-direction as-of: each purchase attributed to whichever
    // click is CLOSER in time (backward wins ties) — the kdb-style
    // `aj` nearest variant, composed from the two directional as-of
    // passes (each one keyed shuffle) plus an equi join on the left
    // key. Gaps compared in integer microseconds, so the choice is
    // engine-exact.
    "join_asof_nearest" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val back = AsOfJoin(purchases, clicks, key = "user_id",
          tsCol = "ts", seqCol = "event_id",
          carry = Map("event_id" -> "b_id", "ts" -> "b_ts"))
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts"), col("b_id"), col("b_ts"))
      val fwd = AsOfJoin(purchases, clicks, key = "user_id",
          tsCol = "ts", seqCol = "event_id",
          carry = Map("event_id" -> "f_id", "ts" -> "f_ts"),
          forward = true)
        .select(col("event_id").as("purchase_id"),
          col("f_id"), col("f_ts"))
      back.join(fwd, Seq("purchase_id"))
        .withColumn("b_gap_us",
          unix_micros(col("ts")) - unix_micros(col("b_ts")))
        .withColumn("f_gap_us",
          unix_micros(col("f_ts")) - unix_micros(col("ts")))
        .withColumn("nearest_click_id",
          when(col("b_id").isNull, col("f_id"))
            .when(col("f_id").isNull, col("b_id"))
            .when(col("b_gap_us") <= col("f_gap_us"), col("b_id"))
            .otherwise(col("f_id")))
        .withColumn("gap_us",
          when(col("b_id").isNull, col("f_gap_us"))
            .when(col("f_id").isNull, col("b_gap_us"))
            .when(col("b_gap_us") <= col("f_gap_us"), col("b_gap_us"))
            .otherwise(col("f_gap_us")))
        .select(col("purchase_id"), col("user_id"),
          col("nearest_click_id"), col("gap_us"))
        .orderBy(col("purchase_id"))
    }),

    // Composite flagship #3: the event-log side of the engine end to
    // end — forward as-of attribution (click → next purchase) feeding
    // a dimensional rollup (customer → nation) into a conversion-rate
    // aggregate. One keyed as-of shuffle + one fact-dim join (customer
    // side AQE-broadcastable at test scale, shuffled at 100 TB) + a
    // broadcast nation dim + two-phase agg.
    "composite_funnel" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val attributed = AsOfJoin(clicks, purchases, key = "user_id",
        tsCol = "ts", seqCol = "event_id",
        carry = Map("event_id" -> "next_purchase_id"), forward = true)
      val cust = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val nat = Tables(s, dir, "nation")
        .select(col("n_nationkey"), col("n_name"))
      attributed.join(cust, col("user_id") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_clicks"),
          sum(when(col("next_purchase_id").isNotNull, 1L).otherwise(0L))
            .as("n_converted"))
        .withColumn("conv_permille",
          expr("n_converted * 1000 div n_clicks"))
        .orderBy(col("n_name"))
    }),

    // Composite flagship (TPC-H Q3 shape): segment-filtered customers
    // ⋈ date-filtered orders ⋈ shipdate-filtered lineitem → revenue
    // per order → ordered top-10. Exercises the whole optimizer at
    // once: both filters push below their joins, the customer side
    // broadcasts, the agg is two-phase, and the top-10 is
    // TakeOrderedAndProject (no global sort). Revenue goes through the
    // exact-decimal helper so the DESC order ties out bit-identically.
    "composite_q3" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1998-03-15"))
      val l = Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1998-03-15"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(exprSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .select(col("l_orderkey"), col("revenue"),
          col("o_orderdate").cast("date").as("odate"), col("o_orderpriority"))
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
    }),

    // Composite (TPC-H Q5 shape): six-table join through the whole
    // star — customer ⋈ orders ⋈ lineitem ⋈ supplier (with the
    // local-supplier constraint c_nationkey = s_nationkey) ⋈ nation ⋈
    // region — region + date filtered, revenue per nation. The deep
    // multi-join is the point: Catalyst orders it, the three dim
    // tables broadcast, only the two fact-fact edges shuffle.
    "composite_q5" -> ((s, dir) => {
      val c = Tables(s, dir, "customer")
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
      val l = Tables(s, dir, "lineitem")
      val sup = Tables(s, dir, "supplier")
      val n = Tables(s, dir, "nation")
      val r = Tables(s, dir, "region").filter(col("r_name") === "ASIA")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, l("l_orderkey") === o("o_orderkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(n, sup("s_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(exprSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("n_name"))
    }),

    // Ordered-funnel composite (MATCH_RECOGNIZE-lite): which users
    // completed signup → click → purchase IN THAT ORDER (each stage's
    // event strictly after the previous stage's), and how far the
    // rest got. Sequential-min composition: stage k's earliest
    // qualifying event feeds the filter for stage k+1 — three
    // conditional min-aggs + left joins, ALL keyed on user_id (one
    // shuffle key end to end; AQE broadcasts the shrinking stage
    // frames). The relational form of funnel pattern matching — no
    // per-user driver loop, no UDF state machine.
    "composite_funnel_ordered" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"))
      val t1 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("event_id")).as("signup_id"))
      val t2 = e.join(t1, "user_id")
        .filter(col("event_type") === "click" &&
          col("event_id") > col("signup_id"))
        .groupBy(col("user_id")).agg(min(col("event_id")).as("click_id"))
      val t3 = e.join(t2, "user_id")
        .filter(col("event_type") === "purchase" &&
          col("event_id") > col("click_id"))
        .groupBy(col("user_id")).agg(min(col("event_id")).as("purchase_id"))
      e.select(col("user_id")).distinct()
        .join(t1, Seq("user_id"), "left_outer")
        .join(t2, Seq("user_id"), "left_outer")
        .join(t3, Seq("user_id"), "left_outer")
        .withColumn("stage",
          when(col("purchase_id").isNotNull, 3)
            .when(col("click_id").isNotNull, 2)
            .when(col("signup_id").isNotNull, 1).otherwise(0))
        .orderBy(col("user_id"))
    }),

    // Cohort retention composite — the product-analytics matrix: users
    // grouped by first-activity week (cohort), each later active week
    // counted as (cohort, weeks-since) with distinct users and integer
    // permille retention vs cohort size. Weeks compared as day-diffs
    // div 7 over Monday-truncated stamps (exact in both engines). At
    // 100 TB everything rides ONE user_id shuffle (first-week agg,
    // distinct activity, the user-level join), then collapses to a
    // |weeks|² matrix joined to a broadcast cohort-size frame.
    // A/B experiment assignment + sample-ratio-mismatch check: arms
    // from the repo's standard md5 coin on user_id (deterministic,
    // re-run- and subset-stable — the property rand() assignment
    // lacks), per-arm distinct users / converted users / conversion
    // permille in ONE hash agg over the fact scan (arm is a row-local
    // expression, no assignment table, no join), and the SRM health
    // stat (nA−nB)²·1000 div N (the declared integer chi²-with-equal-
    // expected form) via window sums over the 2-ROW arm frame. The
    // experiment readout on a 100 TB event log is one scan + one agg.
    "composite_ab_srm" -> ((s, dir) => {
      Tables(s, dir, "events")
        .withColumn("arm", when(
          expr("substr(md5(concat('ab', CAST(user_id AS STRING))), 1, 1)")
            .isin("0", "1", "2", "3", "4", "5", "6", "7"), "A")
          .otherwise("B"))
        .groupBy(col("arm"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          countDistinct(when(col("event_type") === "purchase",
            col("user_id"))).as("n_converted"))
        .withColumn("conv_permille",
          expr("(n_converted * 1000) div n_users"))
        .withColumn("srm_stat_milli", expr(
          "(CAST(sum(CASE WHEN arm = 'A' THEN n_users END) OVER () - " +
            "sum(CASE WHEN arm = 'B' THEN n_users END) OVER () " +
            "AS DECIMAL(38,0)) * " +
            "(sum(CASE WHEN arm = 'A' THEN n_users END) OVER () - " +
            "sum(CASE WHEN arm = 'B' THEN n_users END) OVER ()) " +
            "* 1000) div sum(n_users) OVER ()"))
        .select(col("arm"), col("n_users"), col("n_converted"),
          col("conv_permille"), col("srm_stat_milli"))
        .orderBy(col("arm"))
    }),

    // Blocked fuzzy string join (entity resolution's workhorse — the
    // JOIN-shaped sibling of llm_dedup_edit): probe tokens (part-name
    // first words with the last character dropped — a deterministic
    // typo model derived from the data itself) matched back to the
    // vocabulary at edit distance ≤ 1. The join is NEVER all-pairs:
    // candidates must share the first character AND land within ±1
    // length (both are edit-1 NECESSARY conditions for this probe
    // model — a dropped last char keeps the first char and shrinks
    // length by 1, so blocking loses nothing), then the Levenshtein
    // verify runs only inside blocks. At 100 TB: equi-keyed block
    // join on (first-char) with a length band, candidates bounded by
    // block sizes; the quadratic stays inside (letter, length) cells.
    "join_fuzzy" -> ((s, dir) => {
      val vocab = Tables(s, dir, "part")
        .select(expr("element_at(split(p_name, ' '), 1)").as("w"))
        .distinct()
      val probes = vocab.filter(length(col("w")) > 3)
        .select(expr("substring(w, 1, length(w) - 1)").as("p"))
        .distinct()
      probes.join(vocab,
          expr("substring(p, 1, 1) = substring(w, 1, 1)") &&
            abs(length(col("p")) - length(col("w"))) <= 1 &&
            levenshtein(col("p"), col("w")) <= 1)
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n_matches"), min(col("w")).as("first_match"))
        .orderBy(col("p"))
    }),

    // A/B conversion lift + significance, integer-exact (the decision
    // statistic composite_ab_srm's sanity check gates): arms by
    // user_id parity, conversion = user had a purchase ≥ $200; the
    // two-proportion z² clears every denominator by cross-
    // multiplication — z² = D²·N div (n0·n1·X·(N−X)) with
    // D = x1·n0 − x0·n1, X = x0+x1, N = n0+n1 — so lift (ppm) and
    // z² (milli, compare vs 3841 for 95 %) are exact integers in both
    // engines; degenerate splits (X=0 or X=N) are declared NULL.
    // Products ride DECIMAL(38,0)/HUGEINT (D²·N ≤ 10³⁰ at 10⁶ users
    // per arm — headroom declared). One map-side-combined per-user
    // agg + one 2-row rollup; never a user-level shuffle of raw
    // events.
    "composite_ab_lift" -> ((s, dir) => {
      val conv = Tables(s, dir, "events")
        .groupBy(expr("user_id % 2").as("arm"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase" &&
          col("value") >= 200, 1L).otherwise(0L)).as("c"))
      conv.groupBy(col("arm"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("x"))
        .agg(sum(when(col("arm") === 0, col("n"))).as("n0"),
          sum(when(col("arm") === 0, col("x"))).as("x0"),
          sum(when(col("arm") === 1, col("n"))).as("n1"),
          sum(when(col("arm") === 1, col("x"))).as("x1"))
        .select(col("n0"), col("x0"), col("n1"), col("x1"),
          expr("CASE WHEN x0 > 0 THEN " +
            "(CAST(x1 AS DECIMAL(38,0)) * n0 - CAST(x0 AS DECIMAL(38,0)) * n1) " +
            "* 1000000 div (CAST(x0 AS DECIMAL(38,0)) * n1) END")
            .cast("long").as("lift_ppm"),
          expr("CASE WHEN x0 + x1 > 0 AND x0 + x1 < n0 + n1 THEN " +
            "((CAST(x1 AS DECIMAL(38,0)) * n0 - CAST(x0 AS DECIMAL(38,0)) * n1) " +
            "* (CAST(x1 AS DECIMAL(38,0)) * n0 - CAST(x0 AS DECIMAL(38,0)) * n1) " +
            "* (n0 + n1) * 1000) div " +
            "(CAST(n0 AS DECIMAL(38,0)) * n1 * (x0 + x1) " +
            "* (n0 + n1 - x0 - x1)) END")
            .cast("long").as("z2_milli"))
    }),

    // CUPED variance-reduced lift (industry-standard experiment
    // readout): per-user covariate x (even-event spend) and metric y
    // (odd-event spend), θ = cov(x,y)/var(x) POOLED, and the
    // adjusted arm delta Δ_adj = (ȳ1−ȳ0) − θ(x̄1−x̄0) with EVERY
    // fraction cleared by cross-multiplication — Δ_adj rides
    // (tden·(Y1n0−Y0n1) − tnum·(X1n0−X0n1))·1000 div (n0·n1·tden),
    // exact integers end to end (tden ≥ 0 by Cauchy-Schwarz;
    // degenerate splits and zero-variance covariates declared NULL).
    // ONE per-user map-side-combined agg + a 1-row moment rollup —
    // the 100 TB shape is a single shuffle on user_id.
    "composite_ab_cuped" -> ((s, dir) => {
      val per = Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_id") % 2 === 0,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("x"),
          sum(when(col("event_id") % 2 =!= 0,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("y"))
        .withColumn("arm", expr("CAST(user_id % 2 AS BIGINT)"))
      per.agg(
          count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
          sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("x"))).as("x0"),
          sum(when(col("arm") === 1, col("x"))).as("x1"),
          sum(when(col("arm") === 0, col("y"))).as("y0"),
          sum(when(col("arm") === 1, col("y"))).as("y1"))
        .withColumn("tnum", expr(
          "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
        .withColumn("tden", expr(
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        .select(col("n0"), col("n1"),
          expr("CASE WHEN tden <> 0 THEN " +
            "CAST((tnum * 1000) div tden AS BIGINT) END").as("theta_milli"),
          expr("CASE WHEN n0 * n1 > 0 THEN " +
            "CAST(((CAST(y1 AS DECIMAL(38,0)) * n0 - " +
            "CAST(y0 AS DECIMAL(38,0)) * n1) * 1000) div " +
            "(CAST(n0 AS DECIMAL(38,0)) * n1) AS BIGINT) END")
            .as("delta_milli"),
          expr("CASE WHEN n0 * n1 > 0 AND tden <> 0 THEN " +
            "CAST(((tden * (CAST(y1 AS DECIMAL(38,0)) * n0 - " +
            "CAST(y0 AS DECIMAL(38,0)) * n1) - " +
            "tnum * (CAST(x1 AS DECIMAL(38,0)) * n0 - " +
            "CAST(x0 AS DECIMAL(38,0)) * n1)) * 1000) div " +
            "(CAST(n0 AS DECIMAL(38,0)) * n1 * tden) AS BIGINT) END")
            .as("delta_adj_milli"))
    }),

    // Coarsened Exact Matching (Iacus/King/Porro — the matching
    // estimator that needs NO nearest-neighbor search): users
    // coarsen into covariate bins (pre-period spend, 10-dollar
    // cells), bins lacking COMMON SUPPORT (either arm empty) are
    // dropped — CEM's defining step — and the per-bin treated/control
    // outcome gap reports in exact milli-cents, every fraction
    // cleared by cross-multiplication. Pure hash aggregation: one
    // user_id shuffle + one bounded-bin agg, no global sort and no
    // pairwise matching at any scale.
    "composite_ab_cem" -> ((s, dir) => {
      val per = Tables(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_id") % 2 === 0,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("x"),
          sum(when(col("event_id") % 2 =!= 0,
            expr("CAST(round(value * 100) AS BIGINT)")).otherwise(0L))
            .as("y"))
        .withColumn("arm", expr("CAST(user_id % 2 AS BIGINT)"))
        .withColumn("bin", expr("x div 1000"))
      per.groupBy(col("bin"))
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("y0"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("y1"))
        .filter(col("n0") > 0 && col("n1") > 0)
        .select(col("bin"), col("n0"), col("n1"),
          expr("CAST((CAST(y1 AS DECIMAL(38,0)) * n0 - " +
            "CAST(y0 AS DECIMAL(38,0)) * n1) * 1000 div " +
            "(CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)")
            .as("delta_milli"))
        .orderBy(col("bin"))
    }),

    // Difference-in-differences (the panel-data causal readout
    // rounding out the A/B family: lift → CUPED → DiD): each user's
    // event stream splits into a pre period (first half by event
    // order) and a post period; DiD = (ȳ[1,post]−ȳ[1,pre]) −
    // (ȳ[0,post]−ȳ[0,pre]) over the four cell means, cleared to the
    // common denominator by cross-multiplication — exact integers,
    // any empty cell declares NULL. One per-user window (partitioned,
    // no global sort) + one 4-cell rollup: a single user_id shuffle
    // at 100 TB.
    "composite_ab_did" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(
          Window.partitionBy(col("user_id"))))
        .withColumn("period",
          when(col("rn") <= expr("cnt div 2"), lit(0L)).otherwise(lit(1L)))
        .withColumn("arm", expr("CAST(user_id % 2 AS BIGINT)"))
      val cells = ev.groupBy(col("arm"), col("period"), col("user_id"))
        .agg(sum(col("cents")).as("y"))
        .groupBy(col("arm"), col("period"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("yy"))
      cells.agg(
          sum(when(col("arm") === 0 && col("period") === 0, col("n"))).as("n00"),
          sum(when(col("arm") === 0 && col("period") === 1, col("n"))).as("n01"),
          sum(when(col("arm") === 1 && col("period") === 0, col("n"))).as("n10"),
          sum(when(col("arm") === 1 && col("period") === 1, col("n"))).as("n11"),
          sum(when(col("arm") === 0 && col("period") === 0, col("yy"))).as("y00"),
          sum(when(col("arm") === 0 && col("period") === 1, col("yy"))).as("y01"),
          sum(when(col("arm") === 1 && col("period") === 0, col("yy"))).as("y10"),
          sum(when(col("arm") === 1 && col("period") === 1, col("yy"))).as("y11"))
        .select(col("n00"), col("n01"), col("n10"), col("n11"),
          expr("CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 " +
            "THEN CAST(((CAST(y11 AS DECIMAL(38,0)) * n10 - " +
            "CAST(y10 AS DECIMAL(38,0)) * n11) * n00 * n01 - " +
            "(CAST(y01 AS DECIMAL(38,0)) * n00 - " +
            "CAST(y00 AS DECIMAL(38,0)) * n01) * n10 * n11) * 1000 div " +
            "(CAST(n11 AS DECIMAL(38,0)) * n10 * n01 * n00) AS BIGINT) " +
            "END").as("did_milli"))
    }),

    // Two-sample Kolmogorov-Smirnov D between the A/B arms' purchase-
    // value DISTRIBUTIONS (the drift test composite_ab_lift's mean
    // comparison can't see): D = max |F0 − F1| over the binned value
    // grid, every fraction cleared by cross-multiplication —
    // dev = |f0·n1 − f1·n0| is exact integer, D in permille =
    // dev·1000 div (n0·n1). Values bin to whole currency units, so
    // the CDF frame is bounded by the price RANGE (~hundreds of rows
    // at any corpus size — the declared partition-less-window
    // contract), and the 1-row (n0,n1) frame broadcasts (allowlisted
    // scalar-gate shape). Products ride DECIMAL(38,0)/HUGEINT.
    "composite_ab_ks" -> ((s, dir) => {
      val sdf = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(expr("CAST(user_id % 2 AS BIGINT)").as("arm"),
          expr("CAST(floor(value) AS BIGINT)").as("bin"))
      val pts = sdf.groupBy(col("bin"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
        .rowsBetween(Long.MinValue, 0)
      val cum = pts.select(col("bin"), sum(col("c0")).over(w).as("f0"),
        sum(col("c1")).over(w).as("f1"))
      val n = sdf.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      val d = cum.crossJoin(broadcast(n))
        .withColumn("dev", expr(
          "abs(CAST(f0 AS DECIMAL(38,0)) * n1 - CAST(f1 AS DECIMAL(38,0)) * n0)"))
      val mx = d.agg(max(col("dev")).as("mx"))
      d.join(broadcast(mx), col("dev") === col("mx"))
        .groupBy(col("n0"), col("n1"))
        .agg(min(col("bin")).as("ks_bin"),
          expr("CASE WHEN max(n0) * max(n1) > 0 THEN " +
            "CAST((max(dev) * 1000) div " +
            "(CAST(max(n0) AS DECIMAL(38,0)) * max(n1)) AS BIGINT) END")
            .as("d_permille"))
        .select(col("n0"), col("n1"), col("ks_bin"), col("d_permille"))
        .orderBy(col("n0"))
    }),

    // Probability-of-superiority / AUC between the A/B arms (the
    // Mann-Whitney U statistic in exact integers): over the same
    // binned purchase-value grid, 2·R1 = Σ c1·(2·below + ties + 1)
    // (average-rank tie handling with every half cleared by the
    // factor 2), 2·U1 = 2·R1 − n1·(n1+1), and AUC in ppm =
    // 2U1·10⁶ div (2·n0·n1) — the nonparametric "how often does arm 1
    // beat arm 0" decision statistic, no distributional assumption.
    // Same bounded-grid + broadcast-scalar shape as composite_ab_ks.
    "composite_ab_auc" -> ((s, dir) => {
      val sdf = Tables(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(expr("CAST(user_id % 2 AS BIGINT)").as("arm"),
          expr("CAST(floor(value) AS BIGINT)").as("bin"))
      val pts = sdf.groupBy(col("bin"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("c0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("c1"))
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("bin"))
        .rowsBetween(Long.MinValue, -1)
      val cum = pts
        .withColumn("below", coalesce(sum(col("c0") + col("c1")).over(w),
          lit(0L)))
        .withColumn("ties", col("c0") + col("c1"))
      val n = sdf.agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
      cum.agg(sum(expr(
          "CAST(c1 AS DECIMAL(38,0)) * (2 * below + ties + 1)"))
          .as("two_r1"))
        .crossJoin(broadcast(n))
        .select(col("n0"), col("n1"),
          expr("CAST(two_r1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) " +
            "AS BIGINT)").as("two_u1"),
          expr("CASE WHEN n0 * n1 > 0 THEN " +
            "CAST(((two_r1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) " +
            "* 1000000) div (2 * CAST(n0 AS DECIMAL(38,0)) * n1) " +
            "AS BIGINT) END").as("auc_ppm"))
    }),

    // Market-basket affinity (association-rule mining, the top-100
    // report): distinct (order, part) items self-joined ON THE SAME
    // orderkey shuffle key (co-partitioned — pair expansion is
    // basket-size², bounded by TPC-H's ~7-line orders, never corpus²),
    // pair counts + per-part counts + lift in integer ppm
    // (n_ab·N·10⁶ div (n_a·n_b), HUGEINT/decimal products). Top-100 by
    // (count desc, pair asc) is TakeOrderedAndProject — bounded
    // driver result at any scale. The 1-row basket total broadcasts
    // (allowlisted scalar-gate shape).
    "composite_basket" -> ((s, dir) => {
      // Persisted via the shared helper (optimization r12): the
      // distinct basket-item frame feeds FOUR subplans (basket total,
      // per-part counts, both pair-join legs); without the persist
      // each consumer re-planned the fact scan + distinct exchange.
      val items = basketItems(s, dir)
      val n = items.select(col("ok")).distinct()
        .agg(count(lit(1)).as("n_baskets"))
      val cnt = items.groupBy(col("pk")).agg(count(lit(1)).as("n_p"))
      val a = items.select(col("ok"), col("pk").as("p_a"))
      val b = items.select(col("ok"), col("pk").as("p_b"))
      a.join(b, Seq("ok")).filter(col("p_a") < col("p_b"))
        .groupBy(col("p_a"), col("p_b")).agg(count(lit(1)).as("n_ab"))
        .join(cnt.select(col("pk").as("p_a"), col("n_p").as("n_a")), "p_a")
        .join(cnt.select(col("pk").as("p_b"), col("n_p").as("n_b")), "p_b")
        .crossJoin(broadcast(n))
        .withColumn("lift_ppm", expr(
          "CAST((CAST(n_ab AS DECIMAL(38,0)) * n_baskets * 1000000) div " +
            "(CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"))
        .select(col("p_a"), col("p_b"), col("n_ab"), col("n_a"),
          col("n_b"), col("lift_ppm"))
        .orderBy(col("n_ab").desc, col("p_a"), col("p_b"))
        .limit(100)
    }),

    // Last-touch marketing attribution: each purchase's revenue is
    // credited to the most recent PRECEDING non-purchase event of the
    // same user (event_id order; `last(..., ignoreNulls)` over an
    // UNBOUNDED..−1 PRECEDING frame — O(1) running state per row, not
    // a per-row rescan), purchases with no prior touch credit
    // 'direct'. One user_id exchange + one tiny hash agg by channel:
    // the attribution report over a 100 TB clickstream is a windowed
    // scan. Exact cents throughout.
    "composite_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .withColumn("chan", last(
          when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .groupBy(coalesce(col("chan"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("revenue_c"))
        .orderBy(col("channel"))
    }),

    // Time-to-convert report (the latency dimension the count-based
    // funnels don't give): per user, first signup → first purchase
    // AT-OR-AFTER it, latency in integer minutes, summarized as
    // count / min / p50 / p90 / max / integer mean. The join rides
    // the SAME user_id key as the per-user aggregates (one shuffle
    // spine); the final summary is one 1-row order-stat agg. Signup
    // events are a filtered slice so AQE broadcasts them against the
    // purchase side at any scale.
    "composite_funnel_time" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val s0 = e.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("signup_ts"))
      e.filter(col("event_type") === "purchase")
        .join(s0, "user_id")
        .filter(col("ts") >= col("signup_ts"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("purchase_ts"),
          min(col("signup_ts")).as("signup_ts2"))
        .withColumn("latency_min", expr(
          "(unix_micros(purchase_ts) - unix_micros(signup_ts2)) " +
            "div 60000000"))
        .agg(count(lit(1)).as("n_converted"),
          min(col("latency_min")).as("min_min"),
          expr("CAST(percentile_disc(0.5) WITHIN GROUP " +
            "(ORDER BY latency_min) AS BIGINT)").as("p50_min"),
          expr("CAST(percentile_disc(0.9) WITHIN GROUP " +
            "(ORDER BY latency_min) AS BIGINT)").as("p90_min"),
          max(col("latency_min")).as("max_min"),
          expr("sum(latency_min) div count(*)").as("mean_min"))
    }),

    // RFM segmentation (recency / frequency / monetary quintile
    // scores, the classic customer-value coding): per-user purchase
    // aggregates in one shuffle, then quintile CUT VALUES via
    // percentile_disc (one collected row — the agg_hist_eqdepth
    // trick) and scores as literal-comparison sums. The obvious
    // ntile(5) OVER () would single-partition-sort every user at
    // 100 TB; threshold buckets keep the scoring a narrow map.
    // Scores 1–5 (recency inverted: recent = 5); code = r·100+f·10+m.
    "composite_rfm" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
      val anchor = e.agg(max(to_date(col("ts")))).collect()(0)
        .getAs[java.sql.Date](0)
      val u = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(max(to_date(col("ts"))).as("last_day"),
          count(lit(1)).as("freq"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("mon_c"))
        .withColumn("rec_days",
          datediff(lit(anchor), col("last_day")).cast("long"))
      val cutExprs = for {
        m <- Seq("rec_days", "freq", "mon_c"); q <- Seq(2, 4, 6, 8)
      } yield expr(s"CAST(percentile_disc(0.$q) WITHIN GROUP " +
        s"(ORDER BY $m) AS BIGINT)").as(s"${m}_$q")
      val c = u.agg(cutExprs.head, cutExprs.tail: _*).collect()(0)
      def bucket(m: String) = Seq(2, 4, 6, 8)
        .map(q => when(col(m) > c.getAs[Long](s"${m}_$q"), 1)
          .otherwise(0))
        .reduce(_ + _) + lit(1)
      u.withColumn("r_score", lit(6) - bucket("rec_days"))
        .withColumn("f_score", bucket("freq"))
        .withColumn("m_score", bucket("mon_c"))
        .withColumn("rfm_code",
          col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
        .select(col("user_id"), col("rec_days"), col("freq"),
          col("mon_c"), col("r_score"), col("f_score"), col("m_score"),
          col("rfm_code"))
        .orderBy(col("user_id"))
    }),

    // Cohort LTV curve (composite_retention's revenue sibling):
    // cumulative purchase revenue per (first-activity-week cohort,
    // weeks-since), plus per-user LTV in exact cents (cum div size).
    // Same single user_id shuffle spine as retention; the cumulative
    // window runs on the |weeks|² MATRIX, not the fact table, and
    // cohort sizes broadcast. Weeks with no purchases are absent from
    // the curve (declared; the oracle skips them identically).
    "composite_cohort_ltv" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"),
          col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val firstWk = e.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      val sizes = firstWk.groupBy(col("cohort_wk"))
        .agg(count(lit(1)).as("cohort_size"))
      val w = Window.partitionBy(col("cohort_wk")).orderBy(col("weeks_since"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.filter(col("event_type") === "purchase")
        .join(firstWk, "user_id")
        .withColumn("weeks_since",
          expr("datediff(wk, cohort_wk) div 7").cast("int"))
        .groupBy(col("cohort_wk"), col("weeks_since"))
        .agg(sum(col("cents")).as("rev_c"))
        .withColumn("cum_rev_c", sum(col("rev_c")).over(w))
        .join(broadcast(sizes), "cohort_wk")
        .withColumn("ltv_per_user_c", expr("cum_rev_c div cohort_size"))
        .select(col("cohort_wk"), col("weeks_since"), col("rev_c"),
          col("cum_rev_c"), col("cohort_size"), col("ltv_per_user_c"))
        .orderBy(col("cohort_wk"), col("weeks_since"))
    }),

    // Growth accounting (the DAU decomposition every growth team
    // reports: today's actives = NEW (first day ever) + RETAINED
    // (also active within the last 7 days) + RESURRECTED (back after
    // 7+ days away) — composite_retention is the cohort-grid view,
    // this is the daily flow view): dedupe to (user, day) actives,
    // ONE min-day agg for birth dates, ONE lag window on the user
    // exchange for the previous-active-day gap, then a daily roll-up.
    // All exchanges key-proportional; the classification is
    // row-local integer day arithmetic.
    "composite_growth_accounting" -> ((s, dir) => {
      val active = Tables(s, dir, "events")
        .select(col("user_id"),
          expr("unix_date(CAST(ts AS DATE))").as("dayn"))
        .distinct()
      val first = active.groupBy(col("user_id"))
        .agg(min(col("dayn")).as("first_dayn"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("dayn"))
      active
        .withColumn("prev_dayn", lag(col("dayn"), 1).over(w))
        .join(first, "user_id")
        .groupBy(col("dayn"))
        .agg(count(lit(1)).as("n_active"),
          sum(when(col("dayn") === col("first_dayn"), 1L).otherwise(0L))
            .as("n_new"),
          sum(when(col("dayn") =!= col("first_dayn") &&
            col("dayn") - col("prev_dayn") <= 7, 1L).otherwise(0L))
            .as("n_retained"),
          sum(when(col("dayn") =!= col("first_dayn") &&
            col("dayn") - col("prev_dayn") > 7, 1L).otherwise(0L))
            .as("n_resurrected"))
        .select(col("dayn").cast("long").as("dayn"), col("n_active"),
          col("n_new"), col("n_retained"), col("n_resurrected"),
          expr("(n_new * 1000) div n_active").as("new_share_pm"))
        .orderBy(col("dayn"))
    }),

    "composite_retention" -> ((s, dir) => {
      val e = Tables(s, dir, "events")
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val firstWk = e.groupBy(col("user_id"))
        .agg(min(col("wk")).as("cohort_wk"))
      val sizes = firstWk.groupBy(col("cohort_wk"))
        .agg(count(lit(1)).as("cohort_size"))
      e.distinct()
        .join(firstWk, "user_id")
        .withColumn("weeks_since",
          expr("datediff(wk, cohort_wk) div 7").cast("int"))
        .groupBy(col("cohort_wk"), col("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .join(broadcast(sizes), "cohort_wk")
        .withColumn("retention_permille",
          expr("(n_active * 1000) div cohort_size"))
        .orderBy(col("cohort_wk"), col("weeks_since"))
    }),

    // TPC-H-Q18-shaped composite (large-volume customers): orders
    // whose total line quantity exceeds 250, joined back to orders +
    // customer, ranked by quantity. The HAVING-then-join shape is the
    // one to get right at scale: the quantity rollup aggregates the
    // fact table FIRST (two-phase hash agg, |orders| out, the >250
    // filter cuts that to a sliver before any join), so the join
    // inputs are pre-shrunk frames on the SAME l_orderkey/o_orderkey
    // shuffle key and the customer dim joins an already-tiny slice
    // (AQE-broadcastable). Ranking is TakeOrderedAndProject, never a
    // global sort. Decimal-exact quantity sums (moneySum).
    "composite_q18" -> ((s, dir) => {
      val big = Tables(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(moneySum(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250)
      Tables(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          Tables.money(col("o_totalprice")).as("o_totalprice"),
          col("sum_qty"))
        .orderBy(desc("sum_qty"), asc("o_orderkey"))
        .limit(100)
    }),

    // TPC-H-Q10-shaped composite (returned-item revenue report), run
    // ENTIRELY through the SQL entry path: temp views + one
    // spark.sql(...) — the same Catalyst plan the DataFrame
    // composites get (broadcast dims, two-phase agg,
    // TakeOrderedAndProject), proving the engine serves SQL users
    // with no parity gap. Quarter-filtered orders prune before the
    // join; the revenue agg keys on the customer, so the one real
    // shuffle is |customers|; nation is a broadcast dim.
    "composite_q10" -> ((s, dir) => {
      Seq("lineitem", "orders", "customer", "nation")
        .foreach(t => Tables(s, dir, t).createOrReplaceTempView(s"${t}_q10"))
      s.sql(s"""
        SELECT c_custkey, c_name, n_name,
          ${Tables.sql.exprSum("l_extendedprice * (1 - l_discount)")}
            AS revenue
        FROM lineitem_q10
        JOIN orders_q10 ON l_orderkey = o_orderkey
        JOIN customer_q10 ON o_custkey = c_custkey
        JOIN nation_q10 ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= DATE '1995-10-01'
          AND o_orderdate < DATE '1996-01-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""")
    }),

    "join_interval" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val o = Tables(s, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey") &&
          li("l_shipdate") >= o("o_orderdate") &&
          li("l_shipdate") <= o("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), moneySum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("o_orderpriority"))
    }),

    // Metrics-layer dashboard composite: one long-format frame of
    // per-week business metrics from TWO fact tables (order revenue in
    // exact cents + order count; event count + distinct active users)
    // aligned by calendar week via UNION ALL — the "semantic layer"
    // query shape every BI stack compiles to. Each leg is an
    // independent map-side-combined hash agg on its own table (no
    // cross-table join anywhere); the union is shuffle-free; at 100 TB
    // the frame is |weeks × metrics| rows.
    "composite_dashboard" -> ((s, dir) => {
      val wk = (c: org.apache.spark.sql.Column) =>
        date_trunc("week", c).cast("date").as("wk")
      val orders = Tables(s, dir, "orders").groupBy(wk(col("o_orderdate")))
      val rev = orders
        .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("v"))
        .select(col("wk"), lit("revenue_cents").as("metric"), col("v"))
      val nord = orders.agg(count(lit(1)).as("v"))
        .select(col("wk"), lit("n_orders").as("metric"), col("v"))
      val events = Tables(s, dir, "events").groupBy(wk(col("ts")))
      val nev = events.agg(count(lit(1)).as("v"))
        .select(col("wk"), lit("n_events").as("metric"), col("v"))
      val au = events.agg(countDistinct(col("user_id")).as("v"))
        .select(col("wk"), lit("active_users").as("metric"), col("v"))
      rev.unionAll(nord).unionAll(nev).unionAll(au)
        .orderBy(col("wk"), col("metric"))
    }),

    // Pareto / ABC inventory classification — the 80/95 cumulative-
    // revenue-share report: parts ranked by exact basis-point revenue,
    // running share in permille, classed A (≤800‰), B (≤950‰), C.
    // The ranking window is GLOBAL but runs on the AGGREGATED part
    // frame (|part| rows, dimension-bounded — the fact table never
    // enters a window); revenue totals ride the same window spec as
    // the cumsum so one sort serves both. Output is the 3-row class
    // summary, not the ranked inventory.
    "composite_pareto" -> ((s, dir) => {
      val rev = Tables(s, dir, "lineitem")
        .withColumn("bp",
          expr("CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)) " +
            "* CAST(round((1 - l_discount) * 100) AS BIGINT)"))
        .groupBy(col("l_partkey"))
        .agg(sum(col("bp")).as("rev_bp"))
      val w = Window.orderBy(desc("rev_bp"), asc("l_partkey"))
      val wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      rev
        .withColumn("cum_bp", sum(col("rev_bp")).over(wcum))
        .withColumn("tot_bp", sum(col("rev_bp")).over(wall))
        .withColumn("cum_permille",
          expr("CAST((cum_bp * 1000) div tot_bp AS BIGINT)"))
        .withColumn("abc",
          when(col("cum_permille") <= 800, "A")
            .when(col("cum_permille") <= 950, "B")
            .otherwise("C"))
        .groupBy(col("abc"))
        .agg(count(lit(1)).as("n_parts"),
          expr("CAST(sum(rev_bp) AS DOUBLE)").as("class_rev_bp"))
        .orderBy(col("abc"))
    }),

    // TPC-H-Q1-shaped composite (pricing summary report) — the
    // canonical scan-heavy aggregation: one pushed date filter, one
    // two-phase hash agg producing the full 8-aggregate block
    // (decimal-exact sums incl. the 3-factor charge product at 6dp,
    // decimal-sum/double-div averages). No join, no window: at 100 TB
    // this is THE map-side-combine showcase — the shuffle carries
    // |flag×status| partials per map partition, never rows.
    "composite_q1" -> ((s, dir) => {
      val disc = lit(1) - col("l_discount")
      val charge = col("l_extendedprice") * disc * (lit(1) + col("l_tax"))
      Tables(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-09-02").cast("date"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          moneySum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_base_price"),
          exprSum(col("l_extendedprice") * disc).as("sum_disc_price"),
          exprSum(charge).as("sum_charge"),
          Tables.moneyAvg(col("l_quantity")).as("avg_qty"),
          Tables.moneyAvg(col("l_extendedprice")).as("avg_price"),
          Tables.moneyAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // TPC-H-Q4-shaped composite (order priority checking): orders in
    // one quarter having AT LEAST ONE late lineitem (shipped >30 days
    // after the order date), counted per priority. The EXISTS shape
    // done right: a hash LEFT-SEMI join on the orderkey with the
    // lateness predicate as a residual — each order emits at most
    // once regardless of how many late lines it has, so the agg input
    // is bounded by |orders|, and no distinct/dedup pass is needed
    "composite_q4" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") < lit("1996-04-01").cast("date"))
      val li = Tables(s, dir, "lineitem")
      o.join(li, o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),

    // TPC-H-Q7-shaped composite (volume shipping): bilateral trade
    // revenue between two nations by ship year. The two-ROLE dimension
    // pattern: the SAME nation table joins twice under different keys
    // (supplier's nation vs customer's nation) — both broadcast, both
    // pre-filtered to the two trading partners so the supplier and
    // customer sides are semi-reduced BEFORE the fact joins. The only
    // big shuffles are the fact's l_orderkey and o_custkey exchanges;
    // the bilateral pair filter rides the broadcast hash lookups.
    "composite_q7" -> ((s, dir) => {
      val pair = Seq("NATION_1", "NATION_2")
      val n1 = Tables(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
      val n2 = Tables(s, dir, "nation").filter(col("n_name").isin(pair: _*))
        .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
      val sup = Tables(s, dir, "supplier")
        .join(broadcast(n1), col("s_nationkey") === col("s_nkey"))
      val cust = Tables(s, dir, "customer")
        .join(broadcast(n2), col("c_nationkey") === col("c_nkey"))
      Tables(s, dir, "lineitem")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .withColumn("l_year", year(col("l_shipdate")))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg(exprSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    }),

    // TPC-H-Q8-shaped composite (market share): the permille of ASIA-
    // market revenue supplied by NATION_3, per order year. The
    // two-level conditional-aggregate shape: ONE pass computes both
    // the numerator (case-gated) and denominator as exact integer
    // basis-point sums (price-cents × discount-pct products in
    // decimal(38,0) — exact to 10¹⁵ rows), then an integer div gives
    // the share. Region/nation dims broadcast; no second scan.
    "composite_q8" -> ((s, dir) => {
      val asiaNations = Tables(s, dir, "nation")
        .join(broadcast(Tables(s, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("mkt_nkey"))
      val suppNation = Tables(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val sup = Tables(s, dir, "supplier")
        .join(broadcast(suppNation), col("s_nationkey") === col("sn_key"))
      Tables(s, dir, "lineitem")
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(asiaNations), col("c_nationkey") === col("mkt_nkey"),
          "left_semi")
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("vol_bp",
          expr("CAST(round(l_extendedprice * 100) AS DECIMAL(38,0)) " +
            "* CAST(round((1 - l_discount) * 100) AS BIGINT)"))
        .groupBy(col("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", col("vol_bp"))
            .otherwise(expr("CAST(0 AS DECIMAL(38,0))"))).as("num_bp"),
          sum(col("vol_bp")).as("den_bp"))
        .select(col("o_year"),
          expr("CAST((num_bp * 1000) div den_bp AS BIGINT)")
            .as("share_permille"),
          expr("CAST(den_bp AS DOUBLE)").as("den_bp"))
        .orderBy(col("o_year"))
    }),

    // TPC-H-Q16-shaped composite (parts/supplier relationship),
    // adapted to this schema: the part-supplier relation is DERIVED
    // from lineitem as distinct (l_partkey, l_suppkey) — the
    // pre-DISTINCT is the scale move, collapsing the fact table to at
    // most |part|×|supplier per part| pairs before any dimension work.
    // Suppliers whose name ends in '0' are excluded via a broadcast
    // NOT-IN (null-free key ⇒ plain anti join, no null-aware BNL).
    // count(DISTINCT l_suppkey) per (brand, type, size) then runs on
    // the shrunken pair frame.
    "composite_q16" -> ((s, dir) => {
      val ps = Tables(s, dir, "lineitem")
        .select(col("l_partkey"), col("l_suppkey")).distinct()
      val excluded = Tables(s, dir, "supplier")
        .filter(col("s_name").like("%0"))
        .select(col("s_suppkey"))
      val p = Tables(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#1" &&
          col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      ps.join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), col("p_brand"), col("p_type"),
          col("p_size"))
    }),

    // Year-over-year brand rank shift (the market-share movement
    // report): lineitem revenue cents joined to the broadcast part
    // dim, ONE hash agg to the bounded (brand × year) frame, revenue
    // rank within year (ties break on brand), then each brand's rank
    // delta vs its previous PRESENT year (lag over the brand
    // partition — missing years skip, declared). Every window runs on
    // the bounded brand×year frame; the fact scan is touched once.
    "composite_rank_shift" -> ((s, dir) => {
      val wYear = org.apache.spark.sql.expressions.Window
        .partitionBy(col("yr")).orderBy(desc("rev_c"), asc("p_brand"))
      val wBrand = org.apache.spark.sql.expressions.Window
        .partitionBy(col("p_brand")).orderBy(col("yr"))
      Tables(s, dir, "lineitem")
        .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), year(col("l_shipdate")).as("yr"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("rev_c"))
        .withColumn("rnk", rank().over(wYear).cast("long"))
        .withColumn("prev_rnk", lag(col("rnk"), 1).over(wBrand))
        .select(col("yr"), col("rnk"), col("p_brand"), col("rev_c"),
          (col("prev_rnk") - col("rnk")).as("rank_gain"))
        .orderBy(col("yr"), col("rnk"), col("p_brand"))
    }),

    // Supplier risk scorecard: per-supplier return rate in permille
    // (returned line items over shipped), revenue at risk, top-20
    // worst offenders with the supplier dim broadcast-joined AFTER
    // the heavy agg (join |suppliers| rows, not |lineitem|). The
    // top-20 rides TakeOrderedAndProject; ties break on s_suppkey.
    "composite_supplier_risk" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(when(col("l_returnflag") === "R", 1L).otherwise(0L))
            .as("n_returned"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("rev_c"),
          sum(when(col("l_returnflag") === "R",
            round(col("l_extendedprice") * 100).cast("long"))
            .otherwise(0L)).as("rev_at_risk_c"))
        .withColumn("return_pm",
          expr("CAST((n_returned * 1000) div n_items AS BIGINT)"))
        .join(broadcast(Tables(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_items"),
          col("n_returned"), col("return_pm"), col("rev_c"),
          col("rev_at_risk_c"))
        .orderBy(desc("return_pm"), desc("rev_at_risk_c"),
          asc("s_suppkey"))
        .limit(20)
    }),

    // Band join (|a − b| ≤ w — the numeric-proximity match behind
    // price matching, sensor alignment, reconciliation): customers ×
    // suppliers within ±$50 of account balance. The naive form is a
    // theta join (quadratic BNL); instead both sides bucket to
    // w-cents cells — the customer keeps its home bucket, the
    // supplier replicates to the 3 adjacent buckets — so the join is
    // a plain bucket hash equi-join with the exact |diff| residual:
    // any qualifying pair shares the customer's home bucket, shuffle
    // is |C| + 3·|S|, never |C|·|S| (geo_distance_join's argument in
    // 1-D). The oracle brute-forces the same theta join (DuckDB
    // IEJoin) — viable at test scale, which is what the bucketed plan
    // replaces at 100 TB.
    "join_band" -> ((s, dir) => {
      val W = 5000L // cents (±$50)
      val c = Tables(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("c_cents"))
        .withColumn("bk", expr(s"c_cents div $W"))
      val sup = Tables(s, dir, "supplier")
        .select(col("s_suppkey"),
          expr("CAST(round(s_acctbal * 100) AS BIGINT)").as("s_cents"))
        .withColumn("bk", explode(expr(
          s"sequence(s_cents div $W - 1, s_cents div $W + 1)")))
      c.join(sup, Seq("bk"))
        .filter(abs(col("c_cents") - col("s_cents")) <= W)
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("s_suppkey")).as("min_suppkey"))
        .orderBy(col("c_custkey"))
    })
  )

  def oracle: Map[String, String] = Map(
    "join_fuzzy" ->
      """WITH vocab AS (
        |  SELECT DISTINCT string_split(p_name, ' ')[1] AS w FROM part),
        |probes AS (
        |  SELECT DISTINCT substring(w, 1, length(w) - 1) AS p
        |  FROM vocab WHERE length(w) > 3)
        |SELECT p, count(*) AS n_matches, min(w) AS first_match
        |FROM probes JOIN vocab
        |  ON substring(p, 1, 1) = substring(w, 1, 1)
        | AND abs(length(p) - length(w)) <= 1
        | AND levenshtein(p, w) <= 1
        |GROUP BY p
        |ORDER BY p""".stripMargin,

    "composite_ab_lift" ->
      """WITH conv AS (
        |  SELECT user_id % 2 AS arm, user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value >= 200
        |      THEN 1 ELSE 0 END) AS c
        |  FROM events GROUP BY arm, user_id),
        |arms AS (
        |  SELECT arm, count(*) AS n, sum(c) AS x
        |  FROM conv GROUP BY arm),
        |s AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN n END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN arm = 0 THEN x END) AS BIGINT) AS x0,
        |    CAST(sum(CASE WHEN arm = 1 THEN n END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN arm = 1 THEN x END) AS BIGINT) AS x1
        |  FROM arms)
        |SELECT n0, x0, n1, x1,
        |  CAST(CASE WHEN x0 > 0 THEN
        |    (CAST(x1 AS HUGEINT) * n0 - CAST(x0 AS HUGEINT) * n1)
        |    * 1000000 // (CAST(x0 AS HUGEINT) * n1) END
        |    AS BIGINT) AS lift_ppm,
        |  CAST(CASE WHEN x0 + x1 > 0 AND x0 + x1 < n0 + n1 THEN
        |    ((CAST(x1 AS HUGEINT) * n0 - CAST(x0 AS HUGEINT) * n1)
        |     * (CAST(x1 AS HUGEINT) * n0 - CAST(x0 AS HUGEINT) * n1)
        |     * (n0 + n1) * 1000) //
        |    (CAST(n0 AS HUGEINT) * n1 * (x0 + x1)
        |     * (n0 + n1 - x0 - x1)) END
        |    AS BIGINT) AS z2_milli
        |FROM s""".stripMargin,

    "composite_ab_cem" ->
      """WITH per AS (
        |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
        |    sum(CASE WHEN event_id % 2 = 0
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
        |    sum(CASE WHEN event_id % 2 <> 0
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
        |  FROM events GROUP BY user_id),
        |b AS (
        |  SELECT x // 1000 AS bin,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS y0,
        |    sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS y1
        |  FROM per GROUP BY bin)
        |SELECT CAST(bin AS BIGINT) AS bin, CAST(n0 AS BIGINT) AS n0,
        |  CAST(n1 AS BIGINT) AS n1,
        |  CAST((CAST(y1 AS HUGEINT) * n0 - CAST(y0 AS HUGEINT) * n1)
        |    * 1000 // (CAST(n1 AS HUGEINT) * n0) AS BIGINT)
        |    AS delta_milli
        |FROM b WHERE n0 > 0 AND n1 > 0
        |ORDER BY bin""".stripMargin,

    "composite_ab_did" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    row_number() OVER w AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS cnt
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |p AS (
        |  SELECT user_id, arm,
        |    CASE WHEN rn <= cnt // 2 THEN 0 ELSE 1 END AS period,
        |    cents
        |  FROM ev),
        |peru AS (
        |  SELECT arm, period, user_id, CAST(sum(cents) AS BIGINT) AS y
        |  FROM p GROUP BY arm, period, user_id),
        |cells AS (
        |  SELECT arm, period, count(*) AS n, CAST(sum(y) AS BIGINT) AS yy
        |  FROM peru GROUP BY arm, period),
        |g AS (
        |  SELECT
        |    sum(CASE WHEN arm = 0 AND period = 0 THEN n END) AS n00,
        |    sum(CASE WHEN arm = 0 AND period = 1 THEN n END) AS n01,
        |    sum(CASE WHEN arm = 1 AND period = 0 THEN n END) AS n10,
        |    sum(CASE WHEN arm = 1 AND period = 1 THEN n END) AS n11,
        |    sum(CASE WHEN arm = 0 AND period = 0 THEN yy END) AS y00,
        |    sum(CASE WHEN arm = 0 AND period = 1 THEN yy END) AS y01,
        |    sum(CASE WHEN arm = 1 AND period = 0 THEN yy END) AS y10,
        |    sum(CASE WHEN arm = 1 AND period = 1 THEN yy END) AS y11
        |  FROM cells)
        |SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
        |  CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
        |  CASE WHEN n00 > 0 AND n01 > 0 AND n10 > 0 AND n11 > 0 THEN
        |    CAST(((CAST(y11 AS HUGEINT) * n10 - CAST(y10 AS HUGEINT)
        |      * n11) * n00 * n01 - (CAST(y01 AS HUGEINT) * n00 -
        |      CAST(y00 AS HUGEINT) * n01) * n10 * n11) * 1000 //
        |      (CAST(n11 AS HUGEINT) * n10 * n01 * n00) AS BIGINT) END
        |    AS did_milli
        |FROM g""".stripMargin,

    "composite_ab_cuped" ->
      """WITH per AS (
        |  SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
        |    sum(CASE WHEN event_id % 2 = 0
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS x,
        |    sum(CASE WHEN event_id % 2 <> 0
        |        THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS y
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN arm = 0 THEN x END) AS x0,
        |    sum(CASE WHEN arm = 1 THEN x END) AS x1,
        |    sum(CASE WHEN arm = 0 THEN y END) AS y0,
        |    sum(CASE WHEN arm = 1 THEN y END) AS y1
        |  FROM per),
        |t AS (
        |  SELECT *, n * sxy - sx * sy AS tnum,
        |    n * sxx - sx * sx AS tden
        |  FROM g)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |  CASE WHEN tden <> 0 THEN
        |    CAST((tnum * 1000) // tden AS BIGINT) END AS theta_milli,
        |  CASE WHEN n0 * n1 > 0 THEN
        |    CAST(((CAST(y1 AS HUGEINT) * n0 - CAST(y0 AS HUGEINT) * n1)
        |      * 1000) // (CAST(n0 AS HUGEINT) * n1) AS BIGINT) END
        |    AS delta_milli,
        |  CASE WHEN n0 * n1 > 0 AND tden <> 0 THEN
        |    CAST(((tden * (CAST(y1 AS HUGEINT) * n0
        |                   - CAST(y0 AS HUGEINT) * n1)
        |         - tnum * (CAST(x1 AS HUGEINT) * n0
        |                   - CAST(x0 AS HUGEINT) * n1)) * 1000) //
        |      (CAST(n0 AS HUGEINT) * n1 * tden) AS BIGINT) END
        |    AS delta_adj_milli
        |FROM t""".stripMargin,

    "composite_ab_ks" ->
      """WITH s AS (
        |  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
        |    CAST(floor(value) AS BIGINT) AS bin
        |  FROM events WHERE event_type = 'purchase'),
        |pts AS (
        |  SELECT bin, sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM s GROUP BY bin),
        |cum AS (
        |  SELECT bin, sum(c0) OVER w AS f0, sum(c1) OVER w AS f1
        |  FROM pts
        |  WINDOW w AS (ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |nn AS (
        |  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
        |  FROM s),
        |d AS (
        |  SELECT bin,
        |    abs(CAST(f0 AS HUGEINT) * n1 - CAST(f1 AS HUGEINT) * n0) AS dev,
        |    n0, n1
        |  FROM cum CROSS JOIN nn),
        |m AS (SELECT max(dev) AS mxv FROM d)
        |SELECT CAST(d.n0 AS BIGINT) AS n0, CAST(d.n1 AS BIGINT) AS n1,
        |  min(bin) AS ks_bin,
        |  CASE WHEN d.n0 * d.n1 > 0 THEN
        |    CAST((max(dev) * 1000) //
        |      (CAST(d.n0 AS HUGEINT) * d.n1) AS BIGINT) END AS d_permille
        |FROM d JOIN m ON d.dev = m.mxv
        |GROUP BY d.n0, d.n1
        |ORDER BY n0""".stripMargin,

    "composite_ab_auc" ->
      """WITH s AS (
        |  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
        |    CAST(floor(value) AS BIGINT) AS bin
        |  FROM events WHERE event_type = 'purchase'),
        |pts AS (
        |  SELECT bin, sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS c0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM s GROUP BY bin),
        |cum AS (
        |  SELECT bin, c0, c1,
        |    coalesce(sum(c0 + c1) OVER (ORDER BY bin
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS below,
        |    c0 + c1 AS ties
        |  FROM pts),
        |nn AS (
        |  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
        |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
        |  FROM s),
        |r AS (
        |  SELECT sum(CAST(c1 AS HUGEINT) * (2 * below + ties + 1))
        |    AS two_r1
        |  FROM cum)
        |SELECT CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
        |  CAST(two_r1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS BIGINT)
        |    AS two_u1,
        |  CASE WHEN n0 * n1 > 0 THEN
        |    CAST(((two_r1 - CAST(n1 AS HUGEINT) * (n1 + 1)) * 1000000) //
        |      (2 * CAST(n0 AS HUGEINT) * n1) AS BIGINT) END AS auc_ppm
        |FROM r CROSS JOIN nn""".stripMargin,

    "composite_ab_srm" ->
      """WITH a AS (
        |  SELECT CASE WHEN substr(md5('ab' || CAST(user_id AS VARCHAR)),
        |      1, 1) IN ('0','1','2','3','4','5','6','7')
        |    THEN 'A' ELSE 'B' END AS arm,
        |    user_id, event_type
        |  FROM events),
        |per AS (
        |  SELECT arm, count(DISTINCT user_id) AS n_users,
        |    count(DISTINCT CASE WHEN event_type = 'purchase'
        |      THEN user_id END) AS n_converted
        |  FROM a GROUP BY arm),
        |w AS (
        |  SELECT arm, n_users, n_converted,
        |    (n_converted * 1000) // n_users AS conv_permille,
        |    sum(CASE WHEN arm = 'A' THEN n_users END) OVER ()
        |      AS na,
        |    sum(CASE WHEN arm = 'B' THEN n_users END) OVER ()
        |      AS nb,
        |    sum(n_users) OVER () AS nt
        |  FROM per)
        |SELECT arm, CAST(n_users AS BIGINT) AS n_users,
        |  CAST(n_converted AS BIGINT) AS n_converted,
        |  CAST(conv_permille AS BIGINT) AS conv_permille,
        |  CAST((CAST(na - nb AS HUGEINT) * (na - nb) * 1000) // nt
        |    AS BIGINT) AS srm_stat_milli
        |FROM w ORDER BY arm""".stripMargin,

    "composite_basket" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS n_baskets FROM items),
        |cnt AS (SELECT pk, count(*) AS n_p FROM items GROUP BY pk),
        |pr AS (
        |  SELECT a.pk AS p_a, b.pk AS p_b, count(*) AS n_ab
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT p_a, p_b, CAST(n_ab AS BIGINT) AS n_ab,
        |  CAST(ca.n_p AS BIGINT) AS n_a, CAST(cb.n_p AS BIGINT) AS n_b,
        |  CAST((CAST(n_ab AS HUGEINT) * (SELECT n_baskets FROM n)
        |        * 1000000)
        |    // (CAST(ca.n_p AS HUGEINT) * cb.n_p) AS BIGINT) AS lift_ppm
        |FROM pr JOIN cnt ca ON p_a = ca.pk JOIN cnt cb ON p_b = cb.pk
        |ORDER BY n_ab DESC, p_a, p_b LIMIT 100""".stripMargin,

    "composite_attribution" ->
      """WITH a AS (
        |  SELECT user_id, event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |                    THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS chan
        |  FROM events)
        |SELECT coalesce(chan, 'direct') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(cents) AS BIGINT) AS revenue_c
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY channel""".stripMargin,

    "join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "join_broadcast" ->
      """SELECT l_orderkey, l_linenumber, p_partkey, p_name
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size >= 49
        |ORDER BY l_orderkey, l_linenumber, p_partkey""".stripMargin,

    "join_sortmerge" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |  ${Tables.sql.exprSum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,

    "join_shuffle_hash" ->
      s"""SELECT s_name, count(*) AS n,
         |  ${Tables.sql.moneySum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_name
         |ORDER BY s_name""".stripMargin,

    "join_left" ->
      """SELECT c_custkey, o_orderkey
        |FROM customer LEFT OUTER JOIN
        |  (SELECT * FROM orders WHERE o_totalprice > 490000) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "join_right" ->
      """SELECT c_custkey, o_orderkey
        |FROM (SELECT * FROM orders WHERE o_totalprice > 490000) o
        |  RIGHT OUTER JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,

    "join_full" ->
      """SELECT c_custkey, o_orderkey
        |FROM (SELECT * FROM customer WHERE c_acctbal > 9000) c
        |  FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 480000) o
        |  ON c_custkey = o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,

    "join_semi" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT'
        |                AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "join_anti" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT'
        |                    AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "join_cross" ->
      """SELECT r_regionkey, n_nationkey, r_name, n_name
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,

    "join_theta" ->
      """SELECT event_id, count(*) AS n_parts, min(p_retailprice) AS min_price
        |FROM events JOIN part
        |  ON p_retailprice - 900 >= value AND p_retailprice - 900 <= value + 2
        |GROUP BY event_id
        |ORDER BY event_id""".stripMargin,

    "join_range_self" ->
      """SELECT user_id, count(*) AS n_pairs FROM (
        |  SELECT a.user_id, a.event_id
        |  FROM (SELECT user_id, event_id,
        |          CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events) a
        |  JOIN (SELECT user_id AS u_b, event_id AS id_b,
        |          CAST(floor(epoch(ts)) AS BIGINT) AS es_b FROM events) b
        |    ON a.user_id = b.u_b AND b.id_b > a.event_id
        |   AND b.es_b >= a.es AND b.es_b <= a.es + 60)
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "join_skew_salted" ->
      """SELECT c_custkey, count(*) AS n_events, max(event_id) AS max_event
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,

    // As-of on the (ts, event_id) total order: latest click at-or-before
    // each purchase per user. Written as the same union + running-last
    // construction in both engines so tie semantics match exactly.
    "join_asof_tol" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_id AS click_id,
        |         ts AS click_ts,
        |         CAST(NULL AS BIGINT) AS purchase_id
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, NULL, NULL, event_id
        |  FROM events WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT user_id, ts, purchase_id,
        |         last_value(click_id IGNORE NULLS) OVER win AS click_id,
        |         last_value(click_ts IGNORE NULLS) OVER win AS click_ts
        |  FROM tagged
        |  WINDOW win AS (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), g AS (
        |  SELECT purchase_id, user_id, click_id,
        |         epoch_us(ts) - epoch_us(click_ts) AS gap_us
        |  FROM w WHERE purchase_id IS NOT NULL)
        |SELECT purchase_id, user_id,
        |  CASE WHEN gap_us <= 86400000000 THEN click_id END AS click_id,
        |  CASE WHEN gap_us <= 86400000000 THEN gap_us END AS gap_us
        |FROM g ORDER BY purchase_id""".stripMargin,

    "join_asof" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_id AS click_id,
        |         CAST(NULL AS BIGINT) AS purchase_id
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, NULL, event_id
        |  FROM events WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT user_id, purchase_id,
        |         last_value(click_id IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
        |  FROM tagged
        |)
        |SELECT purchase_id, user_id, click_id
        |FROM w WHERE purchase_id IS NOT NULL
        |ORDER BY purchase_id""".stripMargin,

    "join_null_safe" ->
      """WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN value >= 100 THEN event_id % 5 END AS bucket
        |  FROM events),
        |a AS (SELECT event_id AS id_a, bucket AS bucket_a
        |      FROM e WHERE event_id < 100),
        |b AS (SELECT event_id AS id_b, bucket AS bucket_b
        |      FROM e WHERE event_id >= 100 AND event_id < 200)
        |SELECT id_a, count(*) AS n_matches, min(id_b) AS min_match
        |FROM a JOIN b ON bucket_a IS NOT DISTINCT FROM bucket_b
        |GROUP BY id_a ORDER BY id_a""".stripMargin,

    "join_asof_nearest" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(NULL AS BIGINT) AS purchase_id,
        |         event_id AS click_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, event_id, NULL, NULL
        |  FROM events WHERE event_type = 'purchase'
        |), w AS (
        |  SELECT user_id, ts, purchase_id,
        |    last_value(click_id IGNORE NULLS) OVER wb AS b_id,
        |    last_value(click_ts IGNORE NULLS) OVER wb AS b_ts,
        |    last_value(click_id IGNORE NULLS) OVER wf AS f_id,
        |    last_value(click_ts IGNORE NULLS) OVER wf AS f_ts
        |  FROM tagged
        |  WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY ts, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |), g AS (
        |  SELECT purchase_id, user_id,
        |    epoch_us(ts) - epoch_us(b_ts) AS b_gap_us,
        |    epoch_us(f_ts) - epoch_us(ts) AS f_gap_us,
        |    b_id, f_id
        |  FROM w WHERE purchase_id IS NOT NULL)
        |SELECT purchase_id, user_id,
        |  CASE WHEN b_id IS NULL THEN f_id
        |       WHEN f_id IS NULL THEN b_id
        |       WHEN b_gap_us <= f_gap_us THEN b_id ELSE f_id END
        |    AS nearest_click_id,
        |  CAST(CASE WHEN b_id IS NULL THEN f_gap_us
        |       WHEN f_id IS NULL THEN b_gap_us
        |       WHEN b_gap_us <= f_gap_us THEN b_gap_us ELSE f_gap_us END
        |    AS BIGINT) AS gap_us
        |FROM g ORDER BY purchase_id""".stripMargin,

    "join_asof_fwd" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_id AS next_purchase_id,
        |         CAST(NULL AS BIGINT) AS click_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, NULL, event_id
        |  FROM events WHERE event_type = 'click'
        |), w AS (
        |  SELECT user_id, click_id,
        |         last_value(next_purchase_id IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS next_purchase_id
        |  FROM tagged
        |)
        |SELECT click_id, user_id, next_purchase_id
        |FROM w WHERE click_id IS NOT NULL
        |ORDER BY click_id""".stripMargin,

    "composite_funnel" ->
      """WITH tagged AS (
        |  SELECT user_id, ts, event_id, event_id AS next_purchase_id,
        |         CAST(NULL AS BIGINT) AS click_id
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, event_id, NULL, event_id
        |  FROM events WHERE event_type = 'click'
        |), w AS (
        |  SELECT user_id, click_id,
        |         last_value(next_purchase_id IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |           AS next_purchase_id
        |  FROM tagged
        |), attributed AS (
        |  SELECT user_id, next_purchase_id FROM w WHERE click_id IS NOT NULL)
        |SELECT n_name, count(*) AS n_clicks,
        |  CAST(sum(CASE WHEN next_purchase_id IS NOT NULL
        |            THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
        |  CAST((sum(CASE WHEN next_purchase_id IS NOT NULL
        |             THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT)
        |    AS conv_permille
        |FROM attributed
        |JOIN customer ON user_id = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "composite_q3" ->
      s"""SELECT l_orderkey,
         |  ${Tables.sql.exprSum("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  CAST(o_orderdate AS DATE) AS odate, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-03-15'
         |  AND l_shipdate > TIMESTAMP '1998-03-15'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey ASC
         |LIMIT 10""".stripMargin,

    "composite_q5" ->
      s"""SELECT n_name,
         |  ${Tables.sql.exprSum("l_extendedprice * (1 - l_discount)")} AS revenue,
         |  count(*) AS n_items
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate <  TIMESTAMP '1998-01-01'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name ASC""".stripMargin,

    "composite_funnel_ordered" ->
      """WITH e AS (SELECT user_id, event_id, event_type FROM events),
        |t1 AS (SELECT user_id, min(event_id) AS signup_id FROM e
        |       WHERE event_type = 'signup' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(event_id) AS click_id
        |       FROM e JOIN t1 USING (user_id)
        |       WHERE event_type = 'click' AND event_id > signup_id
        |       GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(event_id) AS purchase_id
        |       FROM e JOIN t2 USING (user_id)
        |       WHERE event_type = 'purchase' AND event_id > click_id
        |       GROUP BY e.user_id),
        |u AS (SELECT DISTINCT user_id FROM e)
        |SELECT u.user_id, signup_id, click_id, purchase_id,
        |  CAST(CASE WHEN purchase_id IS NOT NULL THEN 3
        |            WHEN click_id IS NOT NULL THEN 2
        |            WHEN signup_id IS NOT NULL THEN 1
        |            ELSE 0 END AS INT) AS stage
        |FROM u LEFT JOIN t1 USING (user_id)
        |  LEFT JOIN t2 USING (user_id)
        |  LEFT JOIN t3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "composite_funnel_time" ->
      """WITH s0 AS (
        |  SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |conv AS (
        |  SELECT e.user_id,
        |    (epoch_us(min(e.ts)) - epoch_us(min(s0.signup_ts)))
        |      // 60000000 AS latency_min
        |  FROM events e JOIN s0 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= s0.signup_ts
        |  GROUP BY e.user_id)
        |SELECT CAST(count(*) AS BIGINT) AS n_converted,
        |  CAST(min(latency_min) AS BIGINT) AS min_min,
        |  CAST(quantile_disc(latency_min, 0.5) AS BIGINT) AS p50_min,
        |  CAST(quantile_disc(latency_min, 0.9) AS BIGINT) AS p90_min,
        |  CAST(max(latency_min) AS BIGINT) AS max_min,
        |  CAST(sum(latency_min) // count(*) AS BIGINT) AS mean_min
        |FROM conv""".stripMargin,

    "composite_rfm" ->
      """WITH u AS (
        |  SELECT user_id,
        |    datediff('day', max(CAST(ts AS DATE)),
        |      (SELECT max(CAST(ts AS DATE)) FROM events)) AS rec_days,
        |    count(*) AS freq,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS mon_c
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id),
        |c AS (
        |  SELECT
        |    quantile_disc(rec_days, 0.2) AS r2, quantile_disc(rec_days, 0.4) AS r4,
        |    quantile_disc(rec_days, 0.6) AS r6, quantile_disc(rec_days, 0.8) AS r8,
        |    quantile_disc(freq, 0.2) AS f2, quantile_disc(freq, 0.4) AS f4,
        |    quantile_disc(freq, 0.6) AS f6, quantile_disc(freq, 0.8) AS f8,
        |    quantile_disc(mon_c, 0.2) AS m2, quantile_disc(mon_c, 0.4) AS m4,
        |    quantile_disc(mon_c, 0.6) AS m6, quantile_disc(mon_c, 0.8) AS m8
        |  FROM u),
        |s AS (
        |  SELECT user_id, CAST(rec_days AS BIGINT) AS rec_days,
        |    CAST(freq AS BIGINT) AS freq, mon_c,
        |    6 - ((rec_days > r2)::INT + (rec_days > r4)::INT +
        |         (rec_days > r6)::INT + (rec_days > r8)::INT + 1)
        |      AS r_score,
        |    (freq > f2)::INT + (freq > f4)::INT + (freq > f6)::INT +
        |      (freq > f8)::INT + 1 AS f_score,
        |    (mon_c > m2)::INT + (mon_c > m4)::INT + (mon_c > m6)::INT +
        |      (mon_c > m8)::INT + 1 AS m_score
        |  FROM u CROSS JOIN c)
        |SELECT user_id, rec_days, freq, mon_c,
        |  CAST(r_score AS INT) AS r_score, CAST(f_score AS INT) AS f_score,
        |  CAST(m_score AS INT) AS m_score,
        |  CAST(r_score * 100 + f_score * 10 + m_score AS INT) AS rfm_code
        |FROM s ORDER BY user_id""".stripMargin,

    "composite_cohort_ltv" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e
        |      GROUP BY user_id),
        |sz AS (SELECT cohort_wk, count(*) AS cohort_size FROM f
        |       GROUP BY cohort_wk),
        |r AS (
        |  SELECT f.cohort_wk,
        |    CAST(datediff('day', CAST(f.cohort_wk AS DATE),
        |         CAST(e.wk AS DATE)) // 7 AS INT) AS weeks_since,
        |    CAST(sum(cents) AS BIGINT) AS rev_c
        |  FROM e JOIN f USING (user_id)
        |  WHERE event_type = 'purchase'
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT cohort_wk, weeks_since, rev_c,
        |    CAST(sum(rev_c) OVER (PARTITION BY cohort_wk
        |      ORDER BY weeks_since
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum_rev_c
        |  FROM r)
        |SELECT c.cohort_wk, weeks_since, rev_c, cum_rev_c,
        |  CAST(cohort_size AS BIGINT) AS cohort_size,
        |  CAST(cum_rev_c // cohort_size AS BIGINT) AS ltv_per_user_c
        |FROM c JOIN sz USING (cohort_wk)
        |ORDER BY cohort_wk, weeks_since""".stripMargin,

    "composite_growth_accounting" ->
      """WITH active AS (
        |  SELECT DISTINCT user_id,
        |    datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
        |      AS dayn
        |  FROM events),
        |f AS (
        |  SELECT user_id, min(dayn) AS first_dayn
        |  FROM active GROUP BY user_id),
        |l AS (
        |  SELECT active.user_id, dayn, first_dayn,
        |    lag(dayn, 1) OVER (PARTITION BY active.user_id
        |      ORDER BY dayn) AS prev_dayn
        |  FROM active JOIN f ON active.user_id = f.user_id),
        |g AS (
        |  SELECT dayn, count(*) AS n_active,
        |    CAST(sum(CASE WHEN dayn = first_dayn THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(sum(CASE WHEN dayn <> first_dayn
        |      AND dayn - prev_dayn <= 7 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_retained,
        |    CAST(sum(CASE WHEN dayn <> first_dayn
        |      AND dayn - prev_dayn > 7 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_resurrected
        |  FROM l GROUP BY dayn)
        |SELECT CAST(dayn AS BIGINT) AS dayn,
        |  CAST(n_active AS BIGINT) AS n_active, n_new, n_retained,
        |  n_resurrected,
        |  CAST((n_new * 1000) // n_active AS BIGINT) AS new_share_pm
        |FROM g ORDER BY dayn""".stripMargin,

    "composite_retention" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e
        |      GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, wk FROM e),
        |j AS (
        |  SELECT a.user_id, f.cohort_wk,
        |    datediff('day', CAST(f.cohort_wk AS DATE),
        |             CAST(a.wk AS DATE)) // 7 AS weeks_since
        |  FROM a JOIN f USING (user_id)),
        |g AS (SELECT cohort_wk, weeks_since,
        |        count(DISTINCT user_id) AS n_active
        |      FROM j GROUP BY cohort_wk, weeks_since),
        |sz AS (SELECT cohort_wk, count(*) AS cohort_size FROM f
        |       GROUP BY cohort_wk)
        |SELECT g.cohort_wk, CAST(weeks_since AS INT) AS weeks_since,
        |  CAST(n_active AS BIGINT) AS n_active,
        |  CAST(cohort_size AS BIGINT) AS cohort_size,
        |  CAST((n_active * 1000) // cohort_size AS BIGINT)
        |    AS retention_permille
        |FROM g JOIN sz USING (cohort_wk)
        |ORDER BY cohort_wk, weeks_since""".stripMargin,

    "composite_q18" ->
      s"""WITH big AS (
         |  SELECT l_orderkey,
         |    ${Tables.sql.moneySum("l_quantity")} AS sum_qty
         |  FROM lineitem GROUP BY l_orderkey
         |)
         |SELECT c_custkey, c_name, o_orderkey,
         |  ${Tables.sql.money("o_totalprice")} AS o_totalprice, sum_qty
         |FROM big
         |JOIN orders ON o_orderkey = l_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE sum_qty > 250
         |ORDER BY sum_qty DESC, o_orderkey ASC
         |LIMIT 100""".stripMargin,

    "composite_q10" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  ${Tables.sql.exprSum("l_extendedprice * (1 - l_discount)")}
         |    AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= DATE '1995-10-01'
         |  AND o_orderdate < DATE '1996-01-01'
         |GROUP BY c_custkey, c_name, n_name
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,

    "join_interval" ->
      s"""SELECT o_orderpriority, count(*) AS n,
         |  ${Tables.sql.moneySum("l_quantity")} AS sum_qty
         |FROM lineitem JOIN orders
         |  ON l_orderkey = o_orderkey
         | AND l_shipdate >= o_orderdate
         | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,

    "composite_dashboard" ->
      """SELECT * FROM (
        |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
        |    'revenue_cents' AS metric,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
        |    'n_orders' AS metric, CAST(count(*) AS BIGINT) AS v
        |  FROM orders GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    'n_events' AS metric, CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1
        |  UNION ALL
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
        |    'active_users' AS metric,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS v
        |  FROM events GROUP BY 1)
        |ORDER BY wk, metric""".stripMargin,

    "composite_pareto" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))
        |        * CAST(round((1 - l_discount) * 100) AS BIGINT))
        |      AS rev_bp
        |  FROM lineitem GROUP BY l_partkey),
        |r2 AS (
        |  SELECT rev_bp,
        |    sum(rev_bp) OVER (ORDER BY rev_bp DESC, l_partkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cum_bp,
        |    sum(rev_bp) OVER () AS tot_bp
        |  FROM rev),
        |r3 AS (
        |  SELECT rev_bp,
        |    CASE WHEN cp <= 800 THEN 'A' WHEN cp <= 950 THEN 'B'
        |         ELSE 'C' END AS abc
        |  FROM (SELECT rev_bp,
        |          CAST((CAST(cum_bp AS HUGEINT) * 1000)
        |            // CAST(tot_bp AS HUGEINT) AS BIGINT) AS cp
        |        FROM r2))
        |SELECT abc, CAST(count(*) AS BIGINT) AS n_parts,
        |  CAST(sum(rev_bp) AS DOUBLE) AS class_rev_bp
        |FROM r3 GROUP BY abc ORDER BY abc""".stripMargin,

    "composite_q1" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${Tables.sql.moneySum("l_quantity")} AS sum_qty,
         |  ${Tables.sql.moneySum("l_extendedprice")} AS sum_base_price,
         |  ${Tables.sql.exprSum("l_extendedprice * (1 - l_discount)")}
         |    AS sum_disc_price,
         |  ${Tables.sql.exprSum(
              "l_extendedprice * (1 - l_discount) * (1 + l_tax)")}
         |    AS sum_charge,
         |  ${Tables.sql.moneyAvg("l_quantity")} AS avg_qty,
         |  ${Tables.sql.moneyAvg("l_extendedprice")} AS avg_price,
         |  ${Tables.sql.moneyAvg("l_discount")} AS avg_disc,
         |  CAST(count(*) AS BIGINT) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= DATE '2000-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "composite_q4" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01'
        |  AND o_orderdate < DATE '1996-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "composite_q7" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS INT) AS l_year,
         |  ${Tables.sql.exprSum("l_extendedprice * (1 - l_discount)")}
         |    AS revenue
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE n1.n_name IN ('NATION_1', 'NATION_2')
         |  AND n2.n_name IN ('NATION_1', 'NATION_2')
         |  AND n1.n_name <> n2.n_name
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,

    "composite_q8" ->
      """WITH vol AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |    CAST(round(l_extendedprice * 100) AS DECIMAL(38,0))
        |      * CAST(round((1 - l_discount) * 100) AS BIGINT) AS vol_bp,
        |    n1.n_name AS supp_nation
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE c_nationkey IN (
        |    SELECT n_nationkey FROM nation JOIN region
        |      ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'))
        |SELECT o_year,
        |  CAST((CAST(sum(CASE WHEN supp_nation = 'NATION_3'
        |                      THEN vol_bp ELSE 0 END) AS HUGEINT) * 1000)
        |       // CAST(sum(vol_bp) AS HUGEINT) AS BIGINT) AS share_permille,
        |  CAST(sum(vol_bp) AS DOUBLE) AS den_bp
        |FROM vol GROUP BY o_year ORDER BY o_year""".stripMargin,

    "composite_q16" ->
      """WITH ps AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |  WHERE l_suppkey NOT IN (
        |    SELECT s_suppkey FROM supplier WHERE s_name LIKE '%0'))
        |SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM ps JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "composite_rank_shift" ->
      """WITH by AS (
        |  SELECT p_brand, year(l_shipdate) AS yr,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, year(l_shipdate)),
        |r AS (
        |  SELECT yr, p_brand, rev_c,
        |    CAST(rank() OVER (PARTITION BY yr
        |      ORDER BY rev_c DESC, p_brand ASC) AS BIGINT) AS rnk
        |  FROM by)
        |SELECT yr, rnk, p_brand, rev_c,
        |  lag(rnk, 1) OVER (PARTITION BY p_brand ORDER BY yr) - rnk
        |    AS rank_gain
        |FROM r ORDER BY yr, rnk, p_brand""".stripMargin,

    "composite_supplier_risk" ->
      """WITH a AS (
        |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_items,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_returned,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS rev_c,
        |    CAST(sum(CASE WHEN l_returnflag = 'R' THEN
        |      CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS rev_at_risk_c
        |  FROM lineitem GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, n_items, n_returned,
        |  CAST((n_returned * 1000) // n_items AS BIGINT) AS return_pm,
        |  rev_c, rev_at_risk_c
        |FROM a JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY return_pm DESC, rev_at_risk_c DESC, s_suppkey
        |LIMIT 20""".stripMargin,

    "join_band" ->
      """WITH c AS (
        |  SELECT c_custkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS cc
        |  FROM customer),
        |s AS (
        |  SELECT s_suppkey,
        |    CAST(round(s_acctbal * 100) AS BIGINT) AS sc
        |  FROM supplier)
        |SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(min(s_suppkey) AS BIGINT) AS min_suppkey
        |FROM c JOIN s ON abs(cc - sc) <= 5000
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin
  )
}
