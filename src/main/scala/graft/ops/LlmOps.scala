package graft.ops
import graft.Lineage.LineageOps

import graft.{SessionMemo, Tables}
import graft.Tables.moneyAvg
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators (SURVEY.md §2.2 "LLM-data-
  * pipeline"): dedup, similarity, text stats, kNN, multimodal join.
  *
  * Scale design per query:
  *  - exact dedup: one hash-shuffle on a 256-bit digest — never on the
  *    full text (at 100 TB the shuffle carries 32-byte keys, not docs);
  *  - near-dup: inverted-index token self-join inside (lang, source)
  *    blocks + integer Jaccard threshold — the all-pairs crossJoin
  *    never materializes; the MinHash-LSH variant for unblocked
  *    corpora is in `graft.operators.MinHashLsh`;
  *  - cosine/kNN: brute-force is blocked by label (kNN) or probe-
  *    broadcast (top-k), both rank-only outputs so no float crosses
  *    the oracle boundary except through ordering.
  */
object LlmOps extends OpPack {

  /** Session-scoped IVF index memo — the "build once, serve many"
    * shape an ANN index exists for: k-means|| seeding runs driver-side
    * Spark actions, so CacheManager plan substitution alone cannot
    * dedupe two `buildIndex` calls; this memo makes every query
    * against the same (session, corpus, numCells) reuse one built,
    * persisted index. */
  private def ivfIndex(s: SparkSession, dir: String,
      numCells: Int): graft.operators.AnnIvf.IvfIndex =
    SessionMemo(s, ("llm.ivf", dir, numCells)) {
      val e = Tables(s, dir, "embeddings")
      val built = graft.operators.AnnIvf.buildIndex(e, "vec_id", "embedding",
        numCells)
      graft.operators.AnnIvf.IvfIndex(
        built.assignments
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        built.centroids
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

  /** Cosine similarity in double precision, left-to-right accumulation
    * (matches DuckDB's list_cosine_similarity evaluation order).
    * Native codegen'd expression — see graft.functions.DotProduct. */
  private def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosineSim(a, b)

  // Persisted only while [[tokensCapped]] is built, which reads it
  // twice (the df agg and the anti-join).
  private def tokens(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(split(col("text"), " "))).as("w"))
      .filter(col("w") =!= "")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The df-capped token index llm_dedup_near rides (same shape as
    * DedupOps.shinglesCapped): hot-token removal is one aggregation on
    * the cached index plus an anti-join. Memoized per (session,
    * corpus) so repeated invocations return the SAME frame. */
  private def tokensCapped(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("llm.tokensCapped", dir)) {
      val t0 = tokens(s, dir)
      val hot = t0.groupBy(col("lang"), col("source"), col("w"))
        .agg(count(lit(1)).as("df"))
        .filter(col("df") > DedupOps.DfCap)
        .select(col("lang"), col("source"), col("w"))
      // An eager cut rather than persist: the lineage is truncated so
      // every consumer plans against a leaf instead of re-optimizing
      // the full build tree per run (see DedupOps), and it is eager so
      // the token index can be released as soon as the cut holds.
      val capped = t0.join(hot, Seq("lang", "source", "w"), "left_anti")
        .lineageCut(true)
      t0.unpersist()
      capped
    }

  /** The exact integer covariance cell frame shared by `llm_vec_cov`
    * (which hash-oracles it) and the PCA pair (`llm_pca_exact`
    * eigensolves it; `llm_pca_project` projects onto the result):
    * floats to integer micro-units first (exact: 24-bit significands
    * widen and scale losslessly), every (i<=j) dim pair's product
    * generated INSIDE the row — a narrow generate, NO self-join —
    * then one <=dim^2/2-cell map-side-combined hash agg;
    * cov*n^2 = n*Sxy − Sx*Sy on DECIMAL(38,0).
    *
    * Memoized per (session, corpus) like [[tokensCapped]]: the trio
    * shares ONE persisted <=2,080-cell frame, so the corpus is
    * scanned ONCE per run, not once per family member (at 100 TB,
    * the difference between one pass and three). */
  private def covCells(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("llm.covCells", dir))(
      // localCheckpoint (lazy): same caching as the old persist, but
      // the ≤2,080-cell frame becomes a plan LEAF — consumers stop
      // re-optimizing the corpus-explode build tree per run (r12).
      covCellsOf(Tables(s, dir, "embeddings"))
        .lineageCut(false))

  /** Memoized eigensolve: `llm_pca_exact` and `llm_pca_project` share
    * the ONE driver-side O(d^3) BigInt solve (and through [[covCells]]
    * the one corpus scan) instead of each re-deriving it. The result
    * is a 64-row LocalRelation — safe to reuse across queries within
    * a session. */
  private def pcaExactCached(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("llm.pcaExact", dir))(pcaExact(s, covCells(s, dir)))

  private[graft] def covCellsOf(embeddings: DataFrame): DataFrame =
    embeddings
      .withColumn("u", expr(
        "transform(embedding, x -> " +
          "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"))
      .select(explode(expr(
        "flatten(transform(sequence(0, size(u) - 1), i -> " +
          "transform(sequence(i, size(u) - 1), j -> " +
          "struct(i AS i, j AS j, u[i] AS xi, u[j] AS xj))))"))
        .as("c"))
      .select(col("c.i").as("i"), col("c.j").as("j"),
        col("c.xi").as("xi"), col("c.xj").as("xj"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(xi AS DECIMAL(38,0)) * xj")).as("sxy"),
        sum(col("xi")).as("sx"), sum(col("xj")).as("sy"))
      .select(col("i"), col("j"), col("n"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * sxy - " +
          "CAST(sx AS DECIMAL(38,0)) * sy) div " +
          "(CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
          .as("cov_microsq"))

  /** Spark half of `llm_pca_exact`: the corpus scan (the ONLY
    * data-proportional work) runs distributed and map-side-combines
    * to the <=2,080-cell covariance; the driver then finishes the
    * 64x64 eigensolve in EXACT BigInt arithmetic — precisely the
    * integer program `pcaExactSql` hands DuckDB (same squarings, same
    * truncate-toward-zero divisions, same md5-parity init), so the
    * two sides stay bit-identical while the driver work is O(dim^3 *
    * squarings) on a bounded frame (the GeoOps bounded-grid
    * union-find doctrine; the collect is dim-bounded, never
    * corpus-proportional). An earlier all-SQL Spark half was
    * hash-identical but inlined the 35-reference CTE chain into a
    * 2^5-fanout plan — minutes of planning for milliseconds of math;
    * this split keeps the semantics and drops the plan explosion. */
  private[graft] def pcaExact(s: SparkSession, cells: DataFrame)
      : DataFrame = {
    import s.implicits._
    val S6 = BigInt(1000000)
    val S12 = BigInt("1000000000000")
    val cellRows = cells.select(col("i"), col("j"), col("cov_microsq"))
      .collect()
    if (cellRows.isEmpty)
      return Seq.empty[(Int, Long, Long, Long)]
        .toDF("pos", "loading_u", "lambda_microsq", "evr_ppm")
    val d = cellRows.map(_.getInt(0)).max + 1
    val a = Array.fill(d, d)(BigInt(0))
    cellRows.foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), BigInt(r.getLong(2)))
      a(i)(j) = c; a(j)(i) = c
    }
    // trunc-toward-zero division — BigInt / already truncates
    def rescale(m: Array[Array[BigInt]], grid: BigInt)
        : Array[Array[BigInt]] = {
      val mx = m.flatten.map(_.abs).max.max(BigInt(1))
      m.map(_.map(x => x * grid / mx))
    }
    def matmul(x: Array[Array[BigInt]], y: Array[Array[BigInt]])
        : Array[Array[BigInt]] =
      Array.tabulate(d, d)((i, j) =>
        (0 until d).map(k => x(i)(k) * y(k)(j)).sum)
    var b = rescale(a, S12)
    for (_ <- 1 to 5) b = rescale(matmul(b, b), S12)
    // md5-parity Rademacher init (llm_vec_project sign convention)
    val md = java.security.MessageDigest.getInstance("MD5")
    var v = Array.tabulate(d) { i =>
      val h = md.digest(i.toString.getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) S6 else -S6
    }
    for (_ <- 1 to 12) {
      val w = Array.tabulate(d)(i =>
        (0 until d).map(j => b(i)(j) * v(j)).sum)
      val mx = w.map(_.abs).max.max(BigInt(1))
      v = w.map(x => x * S6 / mx)
    }
    val av = Array.tabulate(d)(i =>
      (0 until d).map(j => a(i)(j) * v(j)).sum)
    val lam = (0 until d).map(i => v(i) * av(i)).sum /
      (0 until d).map(i => v(i) * v(i)).sum.max(BigInt(1))
    val tr = (0 until d).map(i => a(i)(i)).sum
    val evr = lam * S6 / tr.max(BigInt(1))
    val top = v.indices.maxBy(i => (v(i).abs, BigInt(-i)))
    val sg = if (v(top) < 0) BigInt(-1) else BigInt(1)
    v.indices
      .map(i => (i, (v(i) * sg).toLong, lam.toLong, evr.toLong))
      .toDF("pos", "loading_u", "lambda_microsq", "evr_ppm")
      .orderBy(col("pos"))
  }

  /** The DuckDB oracle for `llm_pca_exact` — the SAME integer program
    * [[pcaExact]] runs, rendered as one generated SQL text (the
    * bpeTrainSql doctrine): dominant eigenpair of the exact integer
    * covariance via 5 RESCALED MATRIX SQUARINGS (B ~ A^32, entries
    * renormalized to the 10^12 grid by integral division —
    * eigenvectors are invariant under powers and positive scaling)
    * followed by a 12-round fixed-point power iteration on B —
    * effective power A^384, which converges even on this corpus's
    * near-degenerate spectrum (lambda2/lambda1 up to 0.987; a plain
    * 16-round iteration measurably does not). v_0 is an md5-parity
    * Rademacher vector (+-10^6 per the llm_vec_project sign
    * doctrine) — deterministic, engine-identical, and never
    * adversarially orthogonal to the top eigenvector the way
    * all-ones is on centered data. Every intermediate is
    * integer-exact: HUGEINT products (peak magnitude 64*10^24*10^12
    * = 6.4*10^37 < the ceiling), `//` truncates toward zero exactly
    * like BigInt division, max-norm renormalization. Eigenvalue =
    * integer Rayleigh quotient (v^T A v) intdiv (v^T v) on the
    * ORIGINAL A; sign canonicalization by the largest-|.|-loading
    * (first index on ties). Cross-checked against numpy.linalg.eigh
    * at sf0.001/0.01/0.1: |cos| > 0.9999997 and lambda within 1e-5
    * relative at all three scales. Cells re-derive from parquet via
    * a MATERIALIZED CTE so the many references don't re-run the
    * self-join. (An earlier revision rendered this same program in a
    * Spark dialect too — abandoned for the BigInt driver path when
    * the 35-reference CTE chain inlined into a 2^5-fanout Spark
    * plan; the cross-engine bit-equality is what the CORRECTNESS
    * hash gate checks end-to-end at every driver scale.) */
  private[graft] def pcaExactSql(): String = {
    val squarings = 5
    val rounds = 12
    def dec(e: String) = s"CAST($e AS HUGEINT)"
    val div = "//"
    val mat = " MATERIALIZED"
    // +-10^6 by md5 first-hex-digit parity of the dim index — the
    // llm_vec_project sign convention (0-7 => +1)
    val md5i = "md5(CAST(i AS VARCHAR))"
    val cells =
      s"""u AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
         |      AS BIGINT) AS xu
         |  FROM embeddings),
         |p AS (
         |  SELECT ua.i AS i, ub.i AS j, ua.xu AS xi, ub.xu AS xj
         |  FROM u ua JOIN u ub
         |    ON ua.vec_id = ub.vec_id AND ua.i <= ub.i),
         |g AS (
         |  SELECT i, j, count(*) AS n,
         |    sum(CAST(xi AS HUGEINT) * xj) AS sxy,
         |    CAST(sum(xi) AS HUGEINT) AS sx,
         |    CAST(sum(xj) AS HUGEINT) AS sy
         |  FROM p GROUP BY i, j),
         |cells AS$mat (
         |  SELECT i, j, CAST((CAST(n AS HUGEINT) * sxy - sx * sy)
         |    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS cov_microsq
         |  FROM g)""".stripMargin
    val sq = (1 to squarings).map { r =>
      s"""c$r AS (
         |  SELECT x.i AS i, y.j AS j, sum(${dec("x.b")} * y.b) AS c
         |  FROM b${r - 1} x JOIN b${r - 1} y ON x.j = y.i
         |  GROUP BY x.i, y.j),
         |b$r AS$mat (
         |  SELECT i, j, CAST((${dec("c")} * 1000000000000) $div
         |      greatest(${dec("m")}, ${dec("1")}) AS BIGINT) AS b
         |  FROM (SELECT i, j, c, max(abs(c)) OVER () AS m
         |        FROM c$r) s$r)""".stripMargin
    }.mkString(",\n")
    val iter = (1 to rounds).map { r =>
      s"""w$r AS (
         |  SELECT x.i AS i, sum(${dec("x.b")} * v${r - 1}.v) AS w
         |  FROM b$squarings x JOIN v${r - 1} ON x.j = v${r - 1}.i
         |  GROUP BY x.i),
         |v$r AS (
         |  SELECT i, CAST((${dec("w")} * 1000000) $div
         |      greatest(${dec("m")}, ${dec("1")}) AS BIGINT) AS v
         |  FROM (SELECT i, w, max(abs(w)) OVER () AS m FROM w$r) t$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $cells,
       |a AS$mat (
       |  SELECT i, j, cov_microsq AS c FROM cells
       |  UNION ALL
       |  SELECT j AS i, i AS j, cov_microsq AS c FROM cells
       |  WHERE i <> j),
       |b0 AS$mat (
       |  SELECT i, j, CAST((${dec("c")} * 1000000000000) $div
       |      greatest(${dec("m")}, ${dec("1")}) AS BIGINT) AS b
       |  FROM (SELECT i, j, c, max(abs(c)) OVER () AS m FROM a) s0),
       |$sq,
       |v0 AS (
       |  SELECT DISTINCT i,
       |    CAST(CASE WHEN substr($md5i, 1, 1)
       |        IN ('0','1','2','3','4','5','6','7')
       |      THEN 1000000 ELSE -1000000 END AS BIGINT) AS v
       |  FROM a),
       |$iter,
       |wf AS (
       |  SELECT a.i AS i, sum(${dec("a.c")} * v$rounds.v) AS av
       |  FROM a JOIN v$rounds ON a.j = v$rounds.i GROUP BY a.i),
       |ray AS (
       |  SELECT CAST(sum(${dec("z.v")} * wf.av) $div
       |      greatest(sum(${dec("z.v")} * z.v), ${dec("1")})
       |    AS BIGINT) AS lam
       |  FROM wf JOIN v$rounds z ON wf.i = z.i),
       |tr AS (SELECT sum(${dec("c")}) AS t FROM a WHERE i = j),
       |sgn AS (
       |  SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS sg
       |  FROM (SELECT v, row_number() OVER
       |          (ORDER BY abs(v) DESC, i ASC) AS rk
       |        FROM v$rounds) zz
       |  WHERE rk = 1)
       |SELECT z.i AS pos, CAST(z.v * sgn.sg AS BIGINT) AS loading_u,
       |  CAST(ray.lam AS BIGINT) AS lambda_microsq,
       |  CAST((${dec("ray.lam")} * 1000000) $div
       |    greatest(tr.t, ${dec("1")}) AS BIGINT) AS evr_ppm
       |FROM v$rounds z CROSS JOIN sgn CROSS JOIN ray CROSS JOIN tr
       |ORDER BY pos""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "llm_dedup_exact" -> ((s, dir) => {
      // Group on the digest of the normalized text; keep the smallest
      // doc_id per group as the canonical copy.
      Tables(s, dir, "documents")
        .groupBy(sha2(lower(trim(col("text"))), 256).as("h"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
        .select(col("doc_id"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    "llm_dedup_near" -> ((s, dir) => {
      // Inverted-index pair generation: docs sharing a token within
      // the same (lang, source) block, exact Jaccard over distinct
      // token sets, integer threshold inter/union >= 0.2.
      // Declared semantics (mirrored in the oracle): a token appearing
      // in more than DfCap documents of its block is dropped from the
      // index BEFORE sizes/intersections — similarity is measured over
      // discriminative tokens. This bounds the posting-list self-join:
      // without the cap one stop-word shared across a block yields
      // ~n² candidate pairs; with it no (token, block) contributes
      // more than K(K-1)/2. K=128 is above the max observed block-df
      // at both test scales (15 at sf0.01, 101 at sf0.1), so test
      // results are identical with or without the cap.
      val t = tokensCapped(s, dir)
      val sizes = t.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tok"))
      val a = t.select(col("doc_id").as("doc_a"), col("lang"),
        col("source"), col("w"))
      val b = t.select(col("doc_id").as("doc_b"), col("lang").as("lang_b"),
        col("source").as("source_b"), col("w").as("w_b"))
      val inter = a.join(b,
          a("w") === b("w_b") && a("lang") === b("lang_b") &&
            a("source") === b("source_b") && a("doc_a") < b("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_inter"))
      inter
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
          .withColumnRenamed("n_tok", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
          .withColumnRenamed("n_tok", "n_b"), "doc_b")
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .filter(col("n_inter") * 5 >= col("n_union"))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Preference-pair construction — RLHF/DPO data prep: within each
    // prompt group (source × doc_id mod 25, the probe-model grouping
    // convention), pair the highest-quality candidate (chosen)
    // against the lowest (rejected) by the deterministic lexical-
    // diversity metric (distinct words per 1000 tokens, integer);
    // ties break on doc_id through the packed arg-max/arg-min both
    // engines compute identically; singleton groups (nothing to
    // pair) drop. ONE (doc, word) agg + one group rollup — a single
    // shuffle spine at corpus scale.
    "llm_pref_pairs" -> ((s, dir) => {
      val q = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("toks"),
          countDistinct(col("w")).as("nd"))
        .withColumn("quality", expr("nd * 1000 div toks"))
        .withColumn("pgroup", expr("doc_id % 25"))
      q.groupBy(col("source"), col("pgroup"))
        .agg(count(lit(1)).as("n_cands"),
          max_by(col("doc_id"),
            expr("quality * 10000000000L + (9999999999L - doc_id)"))
            .as("chosen_id"),
          min_by(col("doc_id"),
            expr("quality * 10000000000L + doc_id")).as("rejected_id"),
          max(col("quality")).as("q_max"),
          min(col("quality")).as("q_min"))
        .filter(col("n_cands") >= 2)
        .select(col("source"), col("pgroup"), col("n_cands"),
          col("chosen_id"), col("rejected_id"),
          expr("q_max - q_min").as("margin_milli"))
        .orderBy(col("source"), col("pgroup"))
    }),

    // L2 nearest neighbors — the metric half llm_sim_cosine doesn't
    // cover (cosine ranks by angle; L2 is magnitude-aware, the
    // IVF-flat default): same broadcast-probe + TakeOrderedAndProject
    // shape, distances through the native codegen'd `l2_distance_sq`
    // expression (sqrt omitted — monotone, rankings identical, and
    // the squared sum stays one left-to-right double accumulation
    // matching DuckDB's evaluation order). Rank-only output (floats
    // never escape).
    "llm_sim_l2" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe_emb"))
      val top = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("dist", graft.functions.VectorFunctions
          .l2DistanceSq(col("embedding"), col("probe_emb")))
        .orderBy(asc("dist"), asc("vec_id"))
        .limit(10)
      top
        .withColumn("rank",
          row_number().over(Window.orderBy(asc("dist"), asc("vec_id"))))
        .select(col("rank"), col("vec_id"))
        .orderBy(col("rank"))
    }),

    "llm_text_stats" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("sum_tokens"),
          moneyAvg(col("n_chars")).as("avg_chars"))
        .orderBy(col("lang"), col("source"))
    }),

    "llm_sim_cosine" -> ((s, dir) => {
      // Top-10 most similar vectors to probe vec_id=0; the 1-row probe
      // side is broadcast, similarity orders but never escapes (rank
      // output only). The top-k is orderBy+limit — Spark plans
      // TakeOrderedAndProject (each partition keeps its own 10, the
      // driver merges 10×partitions rows); a global row_number window
      // here would instead sort the WHOLE corpus in one partition.
      // Only the ≤10 survivors see the ranking window.
      val e = Tables(s, dir, "embeddings")
      val probe = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("probe_emb"))
      val top = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("sim", cosine(col("embedding"), col("probe_emb")))
        .orderBy(desc("sim"), asc("vec_id"))
        .limit(10)
      top
        .withColumn("rank",
          row_number().over(Window.orderBy(desc("sim"), asc("vec_id"))))
        .select(col("rank"), col("vec_id"))
        .orderBy(col("rank"))
    }),

    "llm_knn_join" -> ((s, dir) => {
      // Exact k-NN join within BOUNDED label blocks — the declared
      // contract of this query: candidate pairs only inside a label
      // partition, and the operator FAILS FAST (before scheduling the
      // quadratic join) if any block exceeds its cardinality bound,
      // pointing at the IVF path (llm_ann_knn) for unbounded corpora.
      // Guard + join live in graft.operators.KnnJoin (KnnJoinSpec pins
      // both the bound and brute-force equality).
      graft.operators.KnnJoin.exactWithinBlocks(
          Tables(s, dir, "embeddings"), "vec_id", "label", "embedding",
          k = 3)
        .orderBy(col("vec_id"), col("rank"))
    }),

    // IVF ANN: probe scans only nprobe of numCells cells — the 100 TB
    // path where brute force (llm_sim_cosine) is the small-scale
    // baseline. Approximate ⇒ no DuckDB oracle (rows-only check);
    // exact-within-probed-cells is pinned by AnnIvfSpec.
    "llm_ann_ivf" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val idx = ivfIndex(s, dir, numCells = 16)
      val probe = e.filter(col("vec_id") === 0).select(col("embedding"))
      graft.operators.AnnIvf.query(idx, probe, "vec_id", "embedding",
          k = 10, nprobe = 4)
        .orderBy(col("rank"))
    }),

    // IVF-accelerated kNN JOIN over the whole corpus (no label
    // blocking) — the scale path of llm_knn_join. Approximate (cell
    // recall) ⇒ rows-only check; exactness-within-probed-cells pinned
    // by AnnIvfSpec.
    "llm_ann_knn" -> ((s, dir) => {
      val idx = ivfIndex(s, dir, numCells = 16)
      graft.operators.AnnIvf.knnJoin(idx, "vec_id", "embedding",
          k = 3, nprobe = 4)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // Exact-mode sibling of llm_ann_ivf: nprobe = numCells probes
    // EVERY cell, so the IVF plumbing degenerates to exact global
    // top-k — deterministic and hash-oracle-able against DuckDB's
    // brute-force cosine ranking (the cross-engine check the approx
    // mode can't have by rule ③; recall pins for approx mode stay in
    // AnnIvfSpec). The k-means `cell` column is index-dependent, so
    // the oracle-facing output is rank + id only.
    "llm_ann_ivf_exact" -> ((s, dir) => {
      val e = Tables(s, dir, "embeddings")
      val idx = ivfIndex(s, dir, numCells = 16)
      val probe = e.filter(col("vec_id") === 0).select(col("embedding"))
      graft.operators.AnnIvf.query(idx, probe, "vec_id", "embedding",
          k = 10, nprobe = 16)
        .select(col("rank"), col("vec_id"))
        .orderBy(col("rank"))
    }),

    // Exact-mode sibling of llm_ann_knn: every probe scans all 16
    // cells, so the cell-routed join covers the full corpus and the
    // result equals brute-force kNN — hash-checked against DuckDB.
    // The candidate frame is corpus² here BY CONSTRUCTION (that is
    // what exact verification means); production keeps nprobe ≪
    // numCells, which is the llm_ann_knn entry.
    "llm_ann_knn_exact" -> ((s, dir) => {
      val idx = ivfIndex(s, dir, numCells = 16)
      graft.operators.AnnIvf.knnJoin(idx, "vec_id", "embedding",
          k = 3, nprobe = 16)
        .orderBy(col("probe_id"), col("rank"))
    }),

    // 1-NN label-agreement audit (the classic "are these labels /
    // embeddings consistent" screen — leave-one-out 1-nearest-neighbor
    // accuracy, per label): for every vector, does its exact nearest
    // neighbor by cosine share its label? Low agreement for one label
    // ⇒ that class is mislabeled or its embedding region overlaps
    // another — the pre-training sanity check run before classifier
    // fine-tuning or llm_dedup_embed's label blocking is trusted.
    // Exact mode (nprobe = all cells) so the DuckDB brute-force oracle
    // applies; production audits through the same plumbing at
    // nprobe ≪ numCells. Label lookups are id-keyed equi-joins back
    // onto the 1-row-per-probe NN frame (corpus-sized, so NOT
    // broadcast — AQE picks the side); the rollup is one
    // |labels|-bounded hash agg.
    // Hard-negative mining census (contrastive training's sampler:
    // each vector's most-similar WRONG-label neighbor, the negatives
    // that actually move an InfoNCE loss; llm_knn_agreement asks "is
    // the nearest neighbor the same class", this asks "which WRONG
    // class sits closest" — the confusion structure of the embedding
    // space): AnnIvf.hardNegatives at nprobe = all cells ⇒ EXACT
    // (rank-only output, the knn_exact determinism doctrine), rolled
    // up to the ≤|labels|²-cell (probe_label, neg_label) matrix. The
    // corpus² candidate frame is the declared exact-audit cost (same
    // adjudication as llm_knn_agreement); production mining runs the
    // identical plumbing at nprobe ≪ numCells, cell-bounded.
    "llm_hard_negatives" -> ((s, dir) => {
      val idx = ivfIndex(s, dir, numCells = 16)
      val lab = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      graft.operators.AnnIvf
        .hardNegatives(idx, "vec_id", "embedding", lab, "label",
          nprobe = 16)
        .groupBy(col("probe_label"), col("neg_label"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("probe_label"), col("neg_label"))
    }),

    "llm_knn_agreement" -> ((s, dir) => {
      val idx = ivfIndex(s, dir, numCells = 16)
      val nn = graft.operators.AnnIvf.knnJoin(idx, "vec_id", "embedding",
        k = 1, nprobe = 16)
      val lab = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"))
      nn.join(lab.select(col("vec_id").as("probe_id"),
          col("label").as("probe_label")), "probe_id")
        .join(lab.select(col("vec_id").as("nbr_id"),
          col("label").as("nbr_label")), "nbr_id")
        .groupBy(col("probe_label"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("probe_label") === col("nbr_label"), 1L)
            .otherwise(0L)).as("n_agree"))
        .select(col("probe_label").as("label"), col("n_vectors"),
          col("n_agree"),
          expr("(n_agree * 1000) div n_vectors").as("agreement_pm"))
        .orderBy(col("label"))
    }),

    // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
    // with LEARNED blocking — the IVF index's k-means cells replace
    // llm_dedup_embed's label blocks, so near-duplicates are found
    // WITHOUT any label column: pairwise cosine only within each
    // cell (quadratic per cell, cells bounded by the clustering —
    // the SemDeDup trade), keep-min drop rule. Reuses the memoized
    // session index, so the marginal cost over the ANN queries is
    // one within-cell self-join. Approximate by design (cluster-
    // boundary pairs are unseen — cell recall, same rule ③ as the
    // ANN family) ⇒ rows-only; SemDedupSpec-style properties pinned
    // in AnnIvfSpec (determinism, sim ≥ threshold, within-cell only).
    "llm_dedup_semantic" -> ((s, dir) => {
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        graft.functions.VectorFunctions.dotProduct(x, y)
      val a = graft.functions.VectorFunctions.withUnitVector(
          ivfIndex(s, dir, numCells = 16).assignments, "embedding", "unit")
        .select(col("vec_id"), col("cell"), col("unit"))
      val l = a.select(col("cell"), col("vec_id").as("vec_a"),
        col("unit").as("unit_a"))
      val r = a.select(col("cell").as("cell_b"),
        col("vec_id").as("vec_b"), col("unit").as("unit_b"))
      val pairs = l.join(r,
          col("cell") === col("cell_b") && col("vec_a") < col("vec_b"))
        .withColumn("sim", dot(col("unit_a"), col("unit_b")))
        .filter(col("sim") >= 0.4)
        .select(col("cell"), col("vec_a"), col("vec_b"))
      a.groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
        .join(pairs.groupBy(col("cell"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("vec_b")).as("n_dropped")),
          Seq("cell"), "left_outer")
        .select(col("cell"), col("n_vectors"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
        .orderBy(col("cell"))
    }),

    // Exact-mode sibling of llm_dedup_semantic (the `_exact`
    // doctrine): SemDeDup's drop rule evaluated over EVERY pair — no
    // cluster blocking — on milli-quantized embeddings, so the cosine
    // threshold is exact integer arithmetic both engines compute
    // bit-identically (dot > 0 ∧ 25·dot² ≥ 4·‖a‖²‖b‖² ⇔ cos ≥ 0.4;
    // |xu| ≤ ~600, dim 64 ⇒ 25·dot² ≤ ~1.3e16, safely inside BIGINT).
    // All-pairs BY CONSTRUCTION (verification mode, exactly like
    // llm_ann_knn_exact's corpus² frame); the replicate-16 bucket
    // join keeps the quadratic inside one equi-join shuffle instead
    // of a broadcast-nested-loop cross. Production runs the
    // cell-blocked llm_dedup_semantic.
    "llm_dedup_semantic_exact" -> ((s, dir) => {
      // quantized values live in DOUBLE arrays so the per-pair dot is
      // the NATIVE codegen DotProduct (the HOF zip_with/aggregate fold
      // was ~40x slower on the corpus² frame); every product and sum
      // is integer-valued ≤ ~2.3e7 ≪ 2^53, so the double arithmetic
      // and the BIGINT cast are EXACT
      val qn = Tables(s, dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, " +
            "x -> round(CAST(x AS DOUBLE) * 1000))").as("qv"))
        .withColumn("n2", graft.functions.VectorFunctions
          .dotProduct(col("qv"), col("qv")).cast("long"))
      val l = qn.select(col("vec_id").as("vec_a"), col("qv").as("qa"),
          col("n2").as("na2"))
        .withColumn("bucket", explode(expr("sequence(0L, 15L)")))
      val r = qn.select((col("vec_id") % 16).as("bucket"),
        col("vec_id").as("vec_b"), col("qv").as("qb"), col("n2").as("nb2"))
      l.join(r, Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("dot", graft.functions.VectorFunctions
          .dotProduct(col("qa"), col("qb")).cast("long"))
        .filter(col("dot") > 0 &&
          col("dot") * col("dot") * 25 >= col("na2") * col("nb2") * 4)
        .groupBy(col("vec_b").as("dup_id"))
        .agg(min(col("vec_a")).as("kept_id"), count(lit(1)).as("n_better"))
        .orderBy(col("dup_id"))
    }),

    // RANGE similarity search — the third classic mode beside top-k
    // (llm_sim_cosine) and IVF (llm_ann_ivf): EVERY vector within a
    // similarity radius of the probe, rank-free. Same milli-quantized
    // exact-integer cosine test as llm_dedup_semantic_exact (native
    // codegen dot, 25·dot² ≥ 4·‖a‖²‖b‖² ⇔ cos ≥ 0.4), so the
    // radius predicate is bit-identical cross-engine. ONE broadcast
    // 1-row probe against the corpus scan (the llm_sim_cosine shape);
    // at 100 TB the same predicate runs inside IVF cells instead.
    "llm_ann_range" -> ((s, dir) => {
      val qn = Tables(s, dir, "embeddings").select(col("vec_id"),
          expr("transform(embedding, " +
            "x -> round(CAST(x AS DOUBLE) * 1000))").as("qv"))
        .withColumn("n2", graft.functions.VectorFunctions
          .dotProduct(col("qv"), col("qv")).cast("long"))
      val probe = qn.filter(col("vec_id") === 0)
        .select(col("qv").as("qp"), col("n2").as("np2"))
      qn.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(probe))
        .withColumn("dot", graft.functions.VectorFunctions
          .dotProduct(col("qv"), col("qp")).cast("long"))
        .filter(col("dot") > 0 &&
          col("dot") * col("dot") * 25 >= col("n2") * col("np2") * 4)
        .select(col("vec_id"), col("dot"), col("n2"))
        .orderBy(col("vec_id"))
    }),

    "llm_multimodal_join" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val e = Tables(s, dir, "embeddings")
      d.join(e, d("doc_id") === e("vec_id"))
        .select(col("doc_id"), col("lang"), col("label"), col("n_chars"),
          size(col("embedding")).as("dim"))
        .orderBy(col("doc_id"))
    }),

    // Exact per-label vector centroids — the class-prototype /
    // mean-pooling aggregate (nearest-class-mean classifiers, cluster
    // summaries, the user-facing form of what IVF training computes
    // internally). Floats are converted to integer micro-units BEFORE
    // summing (float→double widening and ·10⁶ are both exact: 24+14
    // significand bits < 53), so the elementwise sums are
    // order-independent and bit-identical cross-engine — a naive
    // float mean is neither. Shape at 100 TB: one (label, dim-index)
    // hash agg, map-side combined to |labels|·dim partials, then a
    // |labels|-row repack — never a driver-side vector loop.
    // EXACT covariance matrix of the embedding space (the input PCA
    // eigensolves — llm_pca_power's power iteration is declared
    // rows-only because eigenvectors have no cross-engine-exact form,
    // but its INPUT does: this oracles it bit-for-bit): floats to
    // integer micro-units first (exact: 24-bit significands widen and
    // scale losslessly — the llm_centroid doctrine), then every (i≤j)
    // dim pair's product is generated INSIDE the row by a nested
    // sequence transform — a narrow generate, NO self-join, no
    // shuffle before the single ≤dim²/2-cell map-side-combined hash
    // agg. cov·n² = n·Σxy − Σx·Σy on DECIMAL(38,0) (p ≈ 10¹⁰ per
    // row; its sum overflows int64 at ~10⁸ rows, so the cast sits
    // INSIDE the sum). At 100 TB: one scan × dim²/2 generated rows,
    // partial-aggregated to 2080 cells before any exchange.
    "llm_vec_cov" -> ((s, dir) =>
      covCells(s, dir).orderBy(col("i"), col("j"))),

    // EXACT dominant eigenpair of that covariance — the deterministic,
    // fully-oracled sibling of llm_pca_power (which stays float /
    // rows-only by rule (3)): 5 rescaled integer MATRIX SQUARINGS
    // (B ~ A^32) + a 12-round FIXED-POINT power iteration, run as ONE
    // generated SQL text in both engines (the bpeTrainSql doctrine
    // applied to linear algebra — see pcaExactSql for the numerics).
    // Every step is integer / decimal arithmetic — products on
    // DECIMAL(38) (HUGEINT in the oracle), max-norm renormalization
    // by integral division (both engines truncate toward zero) — so
    // there is NO float anywhere and the loadings hash-match
    // bit-for-bit, while the result provably IS the eigenvector
    // (|cos| > 0.9999997 vs numpy.linalg.eigh at all three test
    // scales). Output: max-normalized sign-canonical loadings in
    // micro-units, the Rayleigh-quotient eigenvalue (micro-sq units),
    // and explained-variance ppm vs the trace. Scale: the corpus is
    // touched ONCE (the persisted <=2,080-cell covariance — the same
    // frame llm_vec_cov hash-oracles); the squarings and all 12
    // rounds run over 64x64 / 64-row frames.
    "llm_pca_exact" -> ((s, dir) => pcaExactCached(s, dir)),

    // Per-vector projection onto that exact top component — the
    // score column PCA exists to produce (spectral outlier pruning,
    // 1-D embedding drift monitors, stratified sampling by principal
    // score). The loadings are a bounded CONSTANT (the llm_pca_exact
    // eigensolve), so they constant-fold into a 64-element literal
    // (the llm_vec_project matrix doctrine) and the projection is a
    // pure narrow integer map — score_u = (sum_i xu_i * loading_i)
    // intdiv 10^6, exact in both engines (|terms| <= 64 * 10^12,
    // long-safe). At 100 TB: scan-speed, NO shuffle, NO broadcast;
    // the oracle re-derives the identical loadings in SQL and joins.
    "llm_pca_project" -> ((s, dir) => {
      import s.implicits._
      val load = pcaExactCached(s, dir)
        .select(col("pos"), col("loading_u")).collect()
        .sortBy(_.getInt(0)).map(_.getLong(1))
      if (load.isEmpty)
        Seq.empty[(Long, Long)].toDF("vec_id", "score_u")
      else {
        val arr = load.map(l => s"${l}L")
          .mkString("array(", ", ", ")")
        Tables(s, dir, "embeddings")
          .withColumn("xu", expr(
            "transform(embedding, x -> " +
              "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"))
          .withColumn("score_u", expr(
            s"aggregate(zip_with(xu, $arr, (v, l) -> v * l), " +
              "0L, (acc, x) -> acc + x) div 1000000"))
          .select(col("vec_id"), col("score_u"))
          .orderBy(col("vec_id"))
      }
    }),

    "llm_centroid" -> ((s, dir) => {
      Tables(s, dir, "embeddings")
        .select(col("label"),
          posexplode(col("embedding")).as(Seq("idx", "x")))
        .withColumn("xu",
          expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
        .groupBy(col("label"), col("idx"))
        .agg(sum(col("xu")).as("s"), count(lit(1)).as("n"))
        .withColumn("mean_u", expr("s div n"))
        .groupBy(col("label"))
        .agg(min(col("n")).as("n_vecs"),
          collect_list(struct(col("idx"), col("mean_u"))).as("pairs"))
        .select(col("label"), col("n_vecs"),
          // Serialized (array_join) per the repo convention: raw
          // array cells are unhashable in the driver's pandas-based
          // compare, so the flat string is what makes this
          // oracle-checkable (agg_collect/fn_array_set precedent).
          array_join(
            transform(array_sort(col("pairs")), x => x.getField("mean_u")),
            ",").as("centroid_u"))
        .orderBy(col("label"))
    }),

    // Embedding outliers — the mislabeled/garbage-vector screen run
    // before SemDeDup or classifier training: per label, the 5
    // vectors farthest (integer squared L2) from the label centroid.
    // Same exact-micro-unit protocol as llm_centroid (float→double→µ
    // exact under 53 bits; centroid = floored per-dim mean); the
    // centroid frame is |labels|·d rows → broadcast back onto the
    // (vec, dim) stream, ONE vec-keyed hash agg sums the squares,
    // per-label top-5 rides the WindowGroupLimit pushdown. Distances
    // stay ≤ d·(2µ)² ≈ 2.6e14 — long-safe at any corpus size.
    "llm_embed_outlier" -> ((s, dir) => {
      val q = Tables(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("idx", "x")))
        .withColumn("xu",
          expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
      val cent = q.groupBy(col("label"), col("idx"))
        .agg(expr("sum(xu) div count(1)").as("c"))
      val dist = q.join(broadcast(cent), Seq("label", "idx"))
        .groupBy(col("vec_id"), col("label"))
        .agg(sum(expr("(xu - c) * (xu - c)")).as("dist2_u"))
      dist.withColumn("rk", row_number().over(
          Window.partitionBy(col("label"))
            .orderBy(desc("dist2_u"), asc("vec_id"))))
        .filter(col("rk") <= 5)
        .select(col("label"), col("rk"), col("vec_id"), col("dist2_u"))
        .orderBy(col("label"), col("rk"))
    }),

    // Embedding-distribution drift monitor: per-dimension mean of two
    // corpus cohorts (vec_id parity as the deterministic old/new
    // split stand-in) in exact integer micro-units, plus the
    // per-dimension delta — the check run before mixing a new crawl
    // batch into a training corpus or after re-embedding with a new
    // model. Same exactness argument as llm_centroid (float→double→µ
    // conversion exact under 53 bits). ONE (dim)-keyed hash agg with
    // conditional branches — drift over 100 TB of vectors shuffles
    // d·|map partitions| partials, output is d rows.
    "llm_vec_drift" -> ((s, dir) => {
      Tables(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("xu",
          expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"))
        .groupBy(col("pos"))
        .agg(
          expr("sum(CASE WHEN vec_id % 2 = 0 THEN xu END) " +
            "div sum(CASE WHEN vec_id % 2 = 0 THEN 1 END)").as("mean_a_u"),
          expr("sum(CASE WHEN vec_id % 2 = 1 THEN xu END) " +
            "div sum(CASE WHEN vec_id % 2 = 1 THEN 1 END)").as("mean_b_u"))
        .withColumn("drift_u", abs(col("mean_a_u") - col("mean_b_u")))
        .orderBy(col("pos"))
    }),

    // Dominant principal component of the embedding corpus
    // (PcaPower): 8 power-iteration rounds, each ONE broadcast pass +
    // one (dim)-keyed hash agg — see graft.operators.PcaPower for the
    // scale argument. Output is the d-row loading vector (sign-
    // canonical, 6-dp rounded) plus the explained-scatter share in
    // ppm. Approximate-by-design (iterative float convergence has no
    // SQL oracle); rows-only check + PcaPowerSpec's known-direction /
    // determinism / Rayleigh pins.
    "llm_pca_power" -> ((s, dir) => {
      val (v, lam, tot) = graft.operators.PcaPower
        .dominant(Tables(s, dir, "embeddings"), "embedding")
      val evrPpm = math.round(lam / tot * 1e6)
      import s.implicits._
      v.toSeq.zipWithIndex
        .map { case (l, p) => (p, math.rint(l * 1e6) / 1e6, evrPpm) }
        .toDF("pos", "loading", "evr_ppm")
        .orderBy(col("pos"))
    }),

    // Int8 embedding quantization (the 4× memory / bandwidth lever for
    // ANN serving): per-vector max-abs scaling to [-127, 127] in PURE
    // integer arithmetic over the exact micro-unit representation —
    // q = (x_u · 127) div maxabs_u, truncation toward zero in both
    // engines — plus the quantized L1 norm as the row checksum.
    // Zero vectors quantize to zeros (declared guard). Entirely
    // narrow per-row array expressions: quantizing 100 TB of vectors
    // is a scan-speed map, no shuffle anywhere.
    "llm_vec_quantize" -> ((s, dir) => {
      Tables(s, dir, "embeddings")
        .withColumn("xu", expr(
          "transform(embedding, " +
            "x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"))
        .withColumn("maxabs_u",
          expr("array_max(transform(xu, v -> abs(v)))"))
        .withColumn("q8", expr(
          "transform(xu, v -> CAST(CASE WHEN maxabs_u = 0 THEN 0 " +
            "ELSE (v * 127) div maxabs_u END AS INT))"))
        .select(col("vec_id"), col("maxabs_u"),
          // Serialized for the driver's pandas compare (see
          // llm_centroid); l1_q aggregates the raw array first.
          array_join(col("q8"), ",").as("q8"),
          expr("aggregate(q8, 0L, (acc, v) -> acc + abs(v))").as("l1_q"))
        .orderBy(col("vec_id"))
    }),

    // Johnson-Lindenstrauss sign random projection 64→16 dims
    // (Achlioptas 2003: ±1 entries preserve pairwise distances in
    // expectation with no Gaussians) over the exact micro-unit
    // representation. The "random" matrix is a PURE FUNCTION of
    // (input dim, output dim) via md5 first-hex-digit parity — no
    // seed state, no stored matrix, both engines derive the same ±1
    // — so the projection is deterministic, mergeable, and needs
    // zero driver coordination. Entirely narrow nested array
    // expressions (zip_with index + aggregate per output dim): at
    // 100 TB the dimensionality reduction is a scan-speed map with
    // NO shuffle and no broadcast — the cheap front half of an
    // ANN/cluster pipeline (project, then index 4× less data).
    "llm_vec_project" -> ((s, dir) => {
      // The ±1 matrix is a pure function of (i, j) — so it is a
      // CONSTANT: derive it once driver-side (same md5 the oracle
      // computes in SQL — identical hex) and embed it as a ~1 KB
      // nested array literal. The runtime is then a pure
      // multiply-accumulate per row; the md5-in-lambda alternative
      // hashes 16×64 times PER ROW — a real cost at 10⁹ vectors.
      val md = java.security.MessageDigest.getInstance("MD5")
      def sign(i: Int, j: Int): Int = {
        val h = md.digest(s"${i}_$j".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) < 8) 1 else -1
      }
      val mat = (0 until 16).map(j => (0 until 64)
        .map(i => s"${sign(i, j)}L").mkString("array(", ", ", ")"))
        .mkString("array(", ", ", ")")
      Tables(s, dir, "embeddings")
        .withColumn("xu", expr(
          "transform(embedding, " +
            "x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"))
        .withColumn("proj_u", expr(
          s"transform(sequence(0, 15), j -> aggregate(" +
            s"zip_with(xu, element_at($mat, j + 1), " +
            "(v, sg) -> v * sg), 0L, (acc, x) -> acc + x))"))
        .select(col("vec_id"),
          // Serialized for the driver's pandas compare (see
          // llm_centroid) — this is also what finally makes the
          // sign-matrix derivation cross-engine hash-verified.
          array_join(col("proj_u"), ",").as("proj_u"))
        .orderBy(col("vec_id"))
    }),

    "llm_lang_partition" -> ((s, dir) => {
      // Skew-aware two-stage aggregation: pre-aggregate on a salted
      // key, then combine — the partial results are tiny regardless of
      // how skewed the language distribution is.
      Tables(s, dir, "documents")
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .groupBy(col("lang"), pmod(col("doc_id"), lit(8)).as("salt"))
        .agg(count(lit(1)).as("pn"), sum(col("n_tokens")).as("pt"),
          sum(col("n_chars")).as("pc"))
        .groupBy(col("lang"))
        .agg(sum(col("pn")).as("n_docs"), sum(col("pt")).as("sum_tokens"),
          sum(col("pc")).as("sum_chars"))
        .orderBy(col("lang"))
    })
  )

  def oracle: Map[String, String] = Map(
    "llm_pref_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |t2 AS (SELECT * FROM tok WHERE w <> ''),
        |q AS (
        |  SELECT doc_id, source, count(*) AS toks,
        |    count(DISTINCT w) AS nd,
        |    count(DISTINCT w) * 1000 // count(*) AS quality,
        |    doc_id % 25 AS pgroup
        |  FROM t2 GROUP BY doc_id, source)
        |SELECT source, pgroup, count(*) AS n_cands,
        |  arg_max(doc_id,
        |    quality * 10000000000 + (9999999999 - doc_id)) AS chosen_id,
        |  arg_min(doc_id, quality * 10000000000 + doc_id) AS rejected_id,
        |  CAST(max(quality) - min(quality) AS BIGINT) AS margin_milli
        |FROM q GROUP BY source, pgroup
        |HAVING count(*) >= 2
        |ORDER BY source, pgroup""".stripMargin,

    "llm_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY lower(trim(text))
        |ORDER BY doc_id""".stripMargin,

    "llm_dedup_near" ->
      s"""WITH tok AS (
        |  SELECT DISTINCT doc_id, lang, source,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tok2 AS (SELECT * FROM tok WHERE w <> ''),
        |dfc AS (SELECT lang, source, w, count(DISTINCT doc_id) AS df
        |        FROM tok2 GROUP BY lang, source, w),
        |tokf AS (
        |  SELECT tok2.doc_id, tok2.lang, tok2.source, tok2.w
        |  FROM tok2 JOIN dfc USING (lang, source, w)
        |  WHERE df <= ${DedupOps.DfCap}
        |), sz AS (SELECT doc_id, count(*) AS n_tok FROM tokf GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM tokf a JOIN tokf b
        |    ON a.w = b.w AND a.lang = b.lang AND a.source = b.source
        |   AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, n_inter,
        |  sa.n_tok + sb.n_tok - n_inter AS n_union
        |FROM pair
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE n_inter * 5 >= sa.n_tok + sb.n_tok - n_inter
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_text_stats" ->
      s"""SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
         |  ${Tables.sql.moneyAvg("n_chars")} AS avg_chars
         |FROM documents
         |GROUP BY lang, source
         |ORDER BY lang, source""".stripMargin,

    "llm_sim_l2" ->
      """SELECT CAST(row_number() OVER (ORDER BY dist ASC, vec_id ASC)
        |    AS INT) AS rank, vec_id
        |FROM (
        |  SELECT e.vec_id,
        |    list_distance(e.embedding, p.embedding) AS dist
        |  FROM embeddings e, (SELECT embedding FROM embeddings
        |                      WHERE vec_id = 0) p
        |  WHERE e.vec_id <> 0)
        |QUALIFY rank <= 10
        |ORDER BY rank""".stripMargin,

    "llm_sim_cosine" ->
      """SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS INT)
        |    AS rank, vec_id
        |FROM (
        |  SELECT e.vec_id,
        |    list_cosine_similarity(e.embedding, p.embedding) AS sim
        |  FROM embeddings e, (SELECT embedding FROM embeddings
        |                      WHERE vec_id = 0) p
        |  WHERE e.vec_id <> 0)
        |QUALIFY rank <= 10
        |ORDER BY rank""".stripMargin,

    // Probe vec_id=0 ranks FIRST (sim(p,p)=1): the probe is part of the
    // indexed corpus and exact mode must return exactly what a full
    // scan returns — including self.
    "llm_ann_ivf_exact" ->
      """SELECT CAST(row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS INT)
        |    AS rank, vec_id
        |FROM (
        |  SELECT e.vec_id,
        |    list_cosine_similarity(e.embedding, p.embedding) AS sim
        |  FROM embeddings e, (SELECT embedding FROM embeddings
        |                      WHERE vec_id = 0) p)
        |QUALIFY rank <= 10
        |ORDER BY rank""".stripMargin,

    "llm_ann_range" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |  CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q),
        |p AS (SELECT qv AS qp, n2 AS np2 FROM n WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  CAST(list_dot_product(e.qv, p.qp) AS BIGINT) AS dot, e.n2
        |FROM n e, p
        |WHERE e.vec_id <> 0
        |  AND CAST(list_dot_product(e.qv, p.qp) AS BIGINT) > 0
        |  AND 25 * CAST(list_dot_product(e.qv, p.qp) AS BIGINT)
        |      * CAST(list_dot_product(e.qv, p.qp) AS BIGINT)
        |      >= 4 * e.n2 * p.np2
        |ORDER BY e.vec_id""".stripMargin,

    "llm_dedup_semantic_exact" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings),
        |n AS (SELECT vec_id, qv,
        |  CAST(list_dot_product(qv, qv) AS BIGINT) AS n2 FROM q),
        |p AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    CAST(list_dot_product(a.qv, b.qv) AS BIGINT) AS dot,
        |    a.n2 AS na2, b.n2 AS nb2
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |SELECT vec_b AS dup_id, CAST(min(vec_a) AS BIGINT) AS kept_id,
        |  CAST(count(*) AS BIGINT) AS n_better
        |FROM p
        |WHERE dot > 0 AND 25 * dot * dot >= 4 * na2 * nb2
        |GROUP BY dup_id
        |ORDER BY dup_id""".stripMargin,

    "llm_ann_knn_exact" ->
      """SELECT probe_id, rank, nbr_id FROM (
        |  SELECT l.vec_id AS probe_id,
        |    CAST(row_number() OVER (PARTITION BY l.vec_id
        |      ORDER BY list_cosine_similarity(l.embedding, r.embedding) DESC,
        |               r.vec_id ASC) AS INT) AS rank,
        |    r.vec_id AS nbr_id
        |  FROM embeddings l JOIN embeddings r ON l.vec_id <> r.vec_id)
        |WHERE rank <= 3
        |ORDER BY probe_id, rank""".stripMargin,

    "llm_hard_negatives" ->
      """WITH nn AS (
        |  SELECT probe_id, neg_id FROM (
        |    SELECT l.vec_id AS probe_id, r.vec_id AS neg_id,
        |      row_number() OVER (PARTITION BY l.vec_id
        |        ORDER BY list_cosine_similarity(l.embedding,
        |          r.embedding) DESC, r.vec_id ASC) AS rank
        |    FROM embeddings l JOIN embeddings r
        |      ON l.vec_id <> r.vec_id AND l.label <> r.label)
        |  WHERE rank = 1)
        |SELECT pl.label AS probe_label, nl.label AS neg_label,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM nn
        |JOIN embeddings pl ON nn.probe_id = pl.vec_id
        |JOIN embeddings nl ON nn.neg_id = nl.vec_id
        |GROUP BY probe_label, neg_label
        |ORDER BY probe_label, neg_label""".stripMargin,

    "llm_knn_agreement" ->
      """WITH nn AS (
        |  SELECT probe_id, nbr_id FROM (
        |    SELECT l.vec_id AS probe_id, r.vec_id AS nbr_id,
        |      row_number() OVER (PARTITION BY l.vec_id
        |        ORDER BY list_cosine_similarity(l.embedding,
        |          r.embedding) DESC, r.vec_id ASC) AS rank
        |    FROM embeddings l JOIN embeddings r
        |      ON l.vec_id <> r.vec_id)
        |  WHERE rank = 1),
        |j AS (
        |  SELECT pl.label AS label,
        |    CASE WHEN pl.label = nl.label THEN 1 ELSE 0 END AS agree
        |  FROM nn
        |  JOIN embeddings pl ON nn.probe_id = pl.vec_id
        |  JOIN embeddings nl ON nn.nbr_id = nl.vec_id)
        |SELECT label, count(*) AS n_vectors,
        |  CAST(sum(agree) AS BIGINT) AS n_agree,
        |  CAST((sum(agree) * 1000) // count(*) AS BIGINT)
        |    AS agreement_pm
        |FROM j GROUP BY label ORDER BY label""".stripMargin,

    "llm_knn_join" ->
      """SELECT vec_id, rank, nbr_id FROM (
        |  SELECT l.vec_id,
        |    CAST(row_number() OVER (PARTITION BY l.vec_id
        |      ORDER BY list_cosine_similarity(l.embedding, r.embedding) DESC,
        |               r.vec_id ASC) AS INT) AS rank,
        |    r.vec_id AS nbr_id
        |  FROM embeddings l JOIN embeddings r
        |    ON l.label = r.label AND l.vec_id <> r.vec_id)
        |WHERE rank <= 3
        |ORDER BY vec_id, rank""".stripMargin,

    "llm_multimodal_join" ->
      """SELECT doc_id, lang, label, n_chars,
        |  CAST(len(embedding) AS INT) AS dim
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,

    "llm_embed_outlier" ->
      """WITH e AS (
        |  SELECT vec_id, label,
        |    generate_subscripts(embedding, 1) - 1 AS idx,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |a AS (
        |  SELECT vec_id, label, idx,
        |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xu
        |  FROM e),
        |cent AS (
        |  SELECT label, idx, CAST(sum(xu) // count(*) AS BIGINT) AS c
        |  FROM a GROUP BY label, idx),
        |d AS (
        |  SELECT a.vec_id, a.label,
        |    CAST(sum((xu - c) * (xu - c)) AS BIGINT) AS dist2_u
        |  FROM a JOIN cent ON a.label = cent.label AND a.idx = cent.idx
        |  GROUP BY a.vec_id, a.label),
        |r AS (
        |  SELECT label, vec_id, dist2_u,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY dist2_u DESC, vec_id ASC) AS rk
        |  FROM d)
        |SELECT label, CAST(rk AS INT) AS rk, vec_id, dist2_u
        |FROM r WHERE rk <= 5 ORDER BY label, rk""".stripMargin,

    "llm_vec_cov" ->
      """WITH u AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
        |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
        |      AS BIGINT) AS xu
        |  FROM embeddings),
        |p AS (
        |  SELECT a.i AS i, b.i AS j, a.xu AS xi, b.xu AS xj
        |  FROM u a JOIN u b
        |    ON a.vec_id = b.vec_id AND a.i <= b.i),
        |g AS (
        |  SELECT i, j, count(*) AS n,
        |    sum(CAST(xi AS HUGEINT) * xj) AS sxy,
        |    CAST(sum(xi) AS HUGEINT) AS sx,
        |    CAST(sum(xj) AS HUGEINT) AS sy
        |  FROM p GROUP BY i, j)
        |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
        |  CAST(n AS BIGINT) AS n,
        |  CAST((CAST(n AS HUGEINT) * sxy - sx * sy)
        |    // (CAST(n AS HUGEINT) * n) AS BIGINT) AS cov_microsq
        |FROM g ORDER BY i, j""".stripMargin,

    // the same generated fixed-point power iteration, DuckDB dialect
    // (HUGEINT + `//`), re-deriving the covariance cells from parquet
    "llm_pca_exact" -> pcaExactSql(),

    // re-derive the identical loadings in SQL, join on dim index,
    // integer intdiv — truncation matches Spark's `div` exactly
    "llm_pca_project" ->
      s"""WITH pca AS (
         |${pcaExactSql()}
         |),
         |u AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
         |      AS BIGINT) AS xu
         |  FROM embeddings)
         |SELECT u.vec_id,
         |  CAST(sum(CAST(u.xu AS HUGEINT) * pca.loading_u) // 1000000
         |    AS BIGINT) AS score_u
         |FROM u JOIN pca ON u.i = pca.pos
         |GROUP BY u.vec_id ORDER BY u.vec_id""".stripMargin,

    "llm_centroid" ->
      """WITH e AS (
        |  SELECT label,
        |    generate_subscripts(embedding, 1) - 1 AS idx,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |a AS (
        |  SELECT label, idx,
        |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xu
        |  FROM e),
        |g AS (
        |  SELECT label, idx, sum(xu) AS s, count(*) AS n
        |  FROM a GROUP BY label, idx)
        |SELECT label, CAST(min(n) AS BIGINT) AS n_vecs,
        |  string_agg(CAST(CAST(s // n AS BIGINT) AS VARCHAR), ','
        |    ORDER BY idx) AS centroid_u
        |FROM g GROUP BY label ORDER BY label""".stripMargin,

    "llm_vec_drift" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    generate_subscripts(embedding, 1) - 1 AS pos,
        |    unnest(embedding) AS x
        |  FROM embeddings),
        |a AS (
        |  SELECT vec_id, pos,
        |    CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xu
        |  FROM e),
        |g AS (
        |  SELECT CAST(pos AS INT) AS pos,
        |    CAST(sum(CASE WHEN vec_id % 2 = 0 THEN xu END)
        |      // sum(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT)
        |      AS mean_a_u,
        |    CAST(sum(CASE WHEN vec_id % 2 = 1 THEN xu END)
        |      // sum(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS BIGINT)
        |      AS mean_b_u
        |  FROM a GROUP BY pos)
        |SELECT pos, mean_a_u, mean_b_u,
        |  abs(mean_a_u - mean_b_u) AS drift_u
        |FROM g ORDER BY pos""".stripMargin,

    "llm_vec_quantize" ->
      """WITH u AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |      AS xu
        |  FROM embeddings),
        |m AS (
        |  SELECT vec_id, xu,
        |    list_max(list_transform(xu, v -> abs(v))) AS maxabs_u
        |  FROM u),
        |q AS (
        |  SELECT vec_id, CAST(maxabs_u AS BIGINT) AS maxabs_u,
        |    list_transform(xu,
        |      v -> CAST(CASE WHEN maxabs_u = 0 THEN 0
        |           ELSE (CAST(v AS HUGEINT) * 127) // maxabs_u
        |           END AS INT)) AS q8
        |  FROM m)
        |SELECT vec_id, maxabs_u, array_to_string(q8, ',') AS q8,
        |  CAST(list_sum(list_transform(q8, v -> abs(v))) AS BIGINT)
        |    AS l1_q
        |FROM q ORDER BY vec_id""".stripMargin,

    "llm_vec_project" ->
      """WITH u AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
        |      AS xu
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id,
        |    generate_subscripts(xu, 1) - 1 AS i,
        |    unnest(xu) AS v
        |  FROM u),
        |js AS (SELECT unnest(generate_series(0, 15)) AS j),
        |p AS (
        |  SELECT vec_id, j,
        |    sum(CASE WHEN substr(md5(CAST(i AS VARCHAR) || '_' ||
        |          CAST(j AS VARCHAR)), 1, 1)
        |          IN ('0','1','2','3','4','5','6','7')
        |        THEN v ELSE -v END) AS o
        |  FROM e CROSS JOIN js GROUP BY vec_id, j)
        |SELECT vec_id,
        |  string_agg(CAST(CAST(o AS BIGINT) AS VARCHAR), ','
        |    ORDER BY j) AS proj_u
        |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "llm_lang_partition" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY lang
        |ORDER BY lang""".stripMargin
  )
}
