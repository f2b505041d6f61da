package graft.ops
import graft.Lineage.LineageOps

import graft.{SessionMemo, Tables}
import graft.operators.{MinHashLsh, SimHash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalable near-duplicate detection suite over `documents` (the
  * training-data dedup battery from the task brief, extending
  * SURVEY.md §2.2 "LLM-data-pipeline").
  *
  * Candidate generation is always sub-quadratic (LSH bands, simhash
  * segment pigeonhole, shingle inverted index); each query then
  * *exactly verifies* candidates with an integer Jaccard test, so the
  * output is oracle-checkable against a brute-force DuckDB query:
  * equality holds because the verified threshold sits where the LSH
  * miss probability is ≪ 1/dataset-size (minhash: P(miss | J=0.9) =
  * (1-0.9⁴)³² ≈ 1e-15) or is structurally zero (simhash: identical
  * token sets hash identically, so J=1 pairs always collide).
  */
object DedupOps extends OpPack {

  // Both relations are persisted: every dedup query reads its token /
  // shingle index several times (candidates, verification intersect,
  // sizes), and Spark's CacheManager substitutes the cached relation
  // into every equal subplan — the "build the index once, run many
  // dedup passes" shape a production pipeline uses. (Repeated persist
  // of an equal plan is a no-op.)
  // Optimization r12: the index frames are memoized per (session,
  // corpus) and localCheckpoint'ed (lazy) instead of merely persisted.
  // Persist alone kept the FULL build lineage in every consumer's
  // logical plan — execution read the cache, but each of the ~20
  // family queries re-analyzed/re-optimized a 100-180 KB plan per run
  // (driver-side planning, measured as the dominant steady-state cost
  // on cached data). The checkpoint truncates the lineage to a
  // LogicalRDD, so consumers plan against a leaf. Blocks live in the
  // block manager exactly like the old persist (MEMORY_AND_DISK).
  private def tokens(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("dedup.tokens", dir))(
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("w"))
        .filter(col("w") =!= "")
        .lineageCut(false))

  private def shingles(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("dedup.shingles", dir))(
      Tables(s, dir, "documents")
        .withColumn("arr", split(col("text"), " "))
        .filter(size(col("arr")) >= 3)
        .select(col("doc_id"), explode(array_distinct(
          transform(sequence(lit(0), size(col("arr")) - 3),
            i => concat_ws(" ", element_at(col("arr"), i + 1),
              element_at(col("arr"), i + 2), element_at(col("arr"), i + 3)))))
          .as("sh"))
        .lineageCut(false))

  /** Document-frequency cap on inverted-index posting lists — the
    * declared semantics of the ENTIRE shingle-Jaccard family
    * (minhash, ngram, edit, cluster, bigstar, pagerank, triangles,
    * keep — everything that derives from the shingle index), mirrored
    * in every oracle: a shingle appearing in more than [[DfCap]]
    * distinct documents is dropped from the index BEFORE signatures,
    * sizes and intersections are computed, so similarity is measured
    * over discriminative grams only. This is what bounds the
    * posting-list self-join at 100 TB — without it one boilerplate
    * trigram ("all rights reserved") yields ~n² candidate pairs; with
    * it no gram contributes more than K(K-1)/2 ≈ 8k pairs.
    *
    * The cap is applied UNIFORMLY across the family (including the
    * MinHash-LSH variant, whose signatures are computed over the
    * capped shingle sets) so every member sees the same similarity
    * space — a pair is either visible to all of them or to none.
    * Declared corollary (pinned by DfCapFamilySpec): a document whose
    * every shingle is boilerplate (df > K) has an empty capped set
    * and participates in no near-dup pair; such documents are covered
    * by `llm_dedup_exact` (identical copies),
    * `llm_dedup_paragraph` (chunk-level repeats),
    * `llm_dedup_substr` (long shared runs inside otherwise-distinct
    * docs — aligned window fingerprints, no posting-list join, so no
    * cap needed) and `llm_dedup_prefix` (EXACT high-threshold Jaccard
    * via AllPairs prefix filtering — sub-quadratic with NO gram
    * dropped; see [[graft.operators.PrefixFilterJoin]]), and remain
    * singleton clusters in the CC labelings. K = 128 sits far above
    * the observed max df at both test scales (7 at sf0.01, 25 at
    * sf0.1), so test results are byte-identical with or without the
    * cap. */
  private[graft] val DfCap = 128

  /** The df-capped shingle index every pairCounts consumer rides.
    * Hot-gram removal is one aggregation on the (cached) index plus a
    * key-co-partitioned anti-join; persisted because the pair join
    * reads it three times (a-side, b-side, sizes). */
  private def shinglesCapped(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("dedup.shinglesCapped", dir)) {
      val sh = shingles(s, dir)
      val hot = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > DfCap).select(col("sh"))
      sh.join(hot, Seq("sh"), "left_anti")
        .lineageCut(false)
    }

  def queries: Map[String, Q] = Map(
    // MinHash(128) + 32-band LSH over df-capped 3-gram shingles,
    // exact-verified at shingle Jaccard >= 0.5. Shingles (not tokens)
    // make candidate generation genuinely sparse: unrelated docs share
    // few trigrams, so band collisions — and therefore shuffle volume —
    // track the true near-dup rate instead of the vocabulary overlap.
    // Rides the SAME capped index as the rest of the family ([[DfCap]]:
    // signatures, sizes and verification all over grams with df <= K),
    // so minhash and the exact inverted-index variants agree on which
    // similarity space they measure. Recall at the verified threshold:
    // observed near-dup pairs sit at J≈0.95+, where
    // P(miss) = (1-J⁴)³² < 1e-15.
    "llm_dedup_minhash" -> ((s, dir) => {
      val sh = shinglesCapped(s, dir)
      // The banded signature index (|docs|·32 rows) is memoized per
      // (session, corpus) like the IVF index: the 128-mix signature
      // pass over the full shingle frame is the BUILD cost of an LSH
      // index a production pipeline pays once and serves many dedup
      // passes from — repeated queries ride the tiny persisted index
      // and pay only the band join + exact verify.
      val bs = SessionMemo(s, ("dedup.bandSig", dir))(
        MinHashLsh.bandSignatures(sh, "doc_id", "sh",
          numHashes = 128, bands = 32)
          .lineageCut(false))
      val cand = MinHashLsh.pairsFromBands(bs, "doc_id")
      MinHashLsh.verifyJaccard(cand, sh, "doc_id", "sh", num = 1, den = 2)
        .select(col("doc_a"), col("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Incremental corpus-ingestion dedup — the production shape: a
    // new shard ("tonight's crawl", doc_id % 10 == 0 as the stand-in)
    // is deduped against the ALREADY-INDEXED corpus without ever
    // re-joining the old corpus against itself. Candidates come from
    // the df-capped inverted shingle index restricted to postings
    // that touch a NEW doc, so shuffle volume is |new postings| ×
    // bounded df — the nightly cost tracks the INGEST size, not the
    // corpus size (old×old pairs, the quadratic bulk, are never
    // generated). Same J≥0.05 similarity space as llm_dedup_ngram;
    // new↔new pairs surface in both directions by declared contract
    // (each new doc reports everything it collides with). The oracle
    // brute-forces the same restricted join.
    "llm_dedup_incremental" -> ((s, dir) => {
      val sh = shinglesCapped(s, dir)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val a = sh.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("doc_new"), col("sh"))
      val b = sh.select(col("doc_id").as("doc_other"),
        col("sh").as("sh_b"))
      a.join(b, col("sh") === col("sh_b") &&
          col("doc_new") =!= col("doc_other"))
        .groupBy(col("doc_new"), col("doc_other"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.select(col("doc_id").as("doc_new"),
          col("n_sh").as("n_a")), "doc_new")
        .join(sizes.select(col("doc_id").as("doc_other"),
          col("n_sh").as("n_b")), "doc_other")
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .filter(col("n_inter") * 20 >= col("n_union"))
        .select(col("doc_new"), col("doc_other"), col("n_inter"),
          col("n_union"))
        .orderBy(col("doc_new"), col("doc_other"))
    }),

    // SimHash(64-bit) fingerprints verified to exact token-set
    // equality (J = 1). Two scale lessons are load-bearing here:
    // (1) at J = 1 the FULL fingerprint is a perfect blocking key —
    // identical sets ⇒ identical fingerprints — so the pair join
    // groups on the whole 64-bit value and its volume is OUTPUT-
    // proportional (Σ family², i.e. the answer itself) at every
    // scale; the pigeonhole SEGMENT join exists for near-threshold
    // recall and its candidate volume tracks true near-dup density —
    // quadratic by construction on a corpus of hamming-≤3 sibling
    // families (pinned as machinery in SimHashSpec, not spent here
    // where exact verification would discard every cross-fingerprint
    // candidate anyway); (2) verification at J = 1 is one canonical
    // per-doc digest (md5 over space-joined sorted distinct tokens —
    // tokens cannot contain the space they were split on) and an
    // O(pairs) compare, never the pairs×tokens join. Fingerprint
    // collision across different sets is caught by the digest filter.
    "llm_dedup_simhash" -> ((s, dir) => {
      val t = tokens(s, dir)
      val dig = t.groupBy(col("doc_id")).agg(
        md5(concat_ws(" ", sort_array(collect_set(col("w")))))
          .as("dg"))
      val fd = SimHash.fingerprints(t, "doc_id", "w")
        .join(dig, Seq("doc_id"))
      val l = fd.select(col("simhash"), col("doc_id").as("doc_a"),
        col("dg").as("dg_a"))
      val r = fd.select(col("simhash"), col("doc_id").as("doc_b"),
        col("dg").as("dg_b"))
      l.join(r, Seq("simhash"))
        .filter(col("doc_a") < col("doc_b") && col("dg_a") === col("dg_b"))
        .select(col("doc_a"), col("doc_b"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // 3-gram shingle Jaccard >= 0.05 via shingle inverted-index join —
    // no LSH approximation anywhere, exact by construction.
    "llm_dedup_ngram" -> ((s, dir) => {
      pairCounts(s, dir)
        .withColumn("n_union", col("n_a") + col("n_b") - col("n_inter"))
        .filter(col("n_inter") * 20 >= col("n_union"))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Dedup-quality audit (the blocking-recall measurement every
    // production dedup pipeline runs beside its capped path): pair
    // precision/recall of df-capped candidate generation against the
    // UNCAPPED exact inverted-index truth at the family's J >= 0.05
    // threshold. Two declared audit knobs make it honest AND bounded:
    // (1) it runs on a deterministic hash SAMPLE (doc_id mod 2 = 0) —
    // ground truth is posting-list-quadratic in the hottest gram, so
    // the audit is the thing you sample, never the production path;
    // (2) the audited cap is a STRESSED df <= 2, not the production
    // [[DfCap]] = 128 — the production cap never bites at test scales
    // (max observed df 25), so auditing it would measure nothing;
    // stressing the cap exercises the exact recall-loss machinery the
    // audit exists to measure. Capped Jaccard is computed over capped
    // sizes (the llm_dedup_ngram semantics), so both false positives
    // (capped-J inflated past threshold) and false negatives (evidence
    // grams dropped) genuinely occur. One full-outer pair join → one
    // global 7-column census row.
    "llm_dedup_eval" -> ((s, dir) => {
      val sample = shingles(s, dir)
        .filter(pmod(col("doc_id"), lit(2)) === 0)
      def pairsOf(index: DataFrame): DataFrame = {
        val sizes = index.groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_sh"))
        val a = index.select(col("doc_id").as("doc_a"), col("sh"))
        val b = index.select(col("doc_id").as("doc_b"),
          col("sh").as("sh_b"))
        a.join(b, col("sh") === col("sh_b") && col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(count(lit(1)).as("n_inter"))
          .join(sizes.select(col("doc_id").as("doc_a"),
            col("n_sh").as("n_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"),
            col("n_sh").as("n_b")), "doc_b")
          .filter(col("n_inter") * 20 >=
            col("n_a") + col("n_b") - col("n_inter"))
          .select(col("doc_a"), col("doc_b"))
      }
      val truth = pairsOf(sample).withColumn("in_t", lit(1L))
      val hot = sample.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > 2).select(col("sh"))
      val cand = pairsOf(sample.join(hot, Seq("sh"), "left_anti"))
        .withColumn("in_c", lit(1L))
      truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
        .agg(
          sum(coalesce(col("in_t"), lit(0L))).as("n_truth"),
          sum(coalesce(col("in_c"), lit(0L))).as("n_cand"),
          sum(when(col("in_t").isNotNull && col("in_c").isNotNull, 1L)
            .otherwise(0L)).as("tp"),
          sum(when(col("in_t").isNull, 1L).otherwise(0L)).as("fp"),
          sum(when(col("in_c").isNull, 1L).otherwise(0L)).as("fn"))
        .select(col("n_truth"), col("n_cand"), col("tp"), col("fp"),
          col("fn"),
          when(col("n_cand") > 0, expr("tp * 1000 div n_cand"))
            .as("precision_permille"),
          when(col("n_truth") > 0, expr("tp * 1000 div n_truth"))
            .as("recall_permille"))
    }),

    // EXACT Jaccard >= 0.8 near-dup join via AllPairs/PPJoin prefix
    // filtering — the family's exactness-preserving scale path: unlike
    // the DfCap index, NO gram and NO document is dropped from the
    // similarity space; candidates come from each doc's
    // (n - ceil(0.8n) + 1) globally-RAREST shingles only (theorem: a
    // J>=tau pair must collide inside those prefixes under the shared
    // df-ascending order), then every candidate is re-verified against
    // the FULL shingle sets. The oracle brute-forces the uncapped
    // inverted-index join — independently confirming that prefix
    // pruning loses nothing. See PrefixFilterJoin for the scale bound.
    "llm_dedup_prefix" -> ((s, dir) => {
      val sh = shingles(s, dir)
      val cand = graft.operators.PrefixFilterJoin.candidatePairs(
        sh, "doc_id", "sh", num = 4, den = 5)
      MinHashLsh.verifyJaccard(cand, sh, "doc_id", "sh", num = 4, den = 5)
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Asymmetric CONTAINMENT dedup (Broder 1997's second resemblance
    // measure): C = |A∩B| / min(|A|,|B|) ≥ 0.8 — catches a short doc
    // embedded verbatim inside a long one, which symmetric Jaccard
    // misses (the union is dominated by the long doc, J stays tiny).
    // The quote/excerpt/boilerplate-wrapper case of corpus dedup.
    // Rides the SAME persisted pairCounts frame as the Jaccard family
    // (df-capped shingle index — identical declared cap semantics):
    // marginal cost is one filter, and the direction column names
    // which doc is the contained one. Integer threshold only.
    "llm_dedup_containment" -> ((s, dir) => {
      pairCounts(s, dir)
        .filter(col("n_inter") * 5 >= least(col("n_a"), col("n_b")) * 4)
        .withColumn("containment_permille",
          expr("(n_inter * 1000) div least(n_a, n_b)"))
        .withColumn("contained",
          when(col("n_a") <= col("n_b"), col("doc_a"))
            .otherwise(col("doc_b")))
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_a"),
          col("n_b"), col("containment_permille"), col("contained"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Cross-source near-dup leakage matrix (the "which corpus leaks
    // into which" curation census — e.g. a web crawl re-hosting an
    // encyclopedia: per SOURCE PAIR, how many near-dup pairs cross
    // the boundary and how similar they are; llm_source_overlap is
    // the gram-distribution sibling, this counts actual J≥0.05
    // document pairs): rides the SAME persisted pairCounts frame and
    // family threshold as llm_dedup_ngram, labels each pair with its
    // (least, greatest) source pair, one ≤|sources|²-group hash agg.
    // Per-pair J in permille (declared truncation), average = Σj_pm
    // div n on the bounded matrix frame. Marginal cost over the
    // shared index: two broadcast-joinable doc→source lookups + a
    // bounded agg — the census is free once the dedup index exists.
    "llm_dedup_cross_source" -> ((s, dir) => {
      val src = Tables(s, dir, "documents")
        .select(col("doc_id"), col("source"))
      pairCounts(s, dir)
        .filter(col("n_inter") * 20 >=
          (col("n_a") + col("n_b") - col("n_inter")))
        .withColumn("j_pm",
          expr("(n_inter * 1000) div (n_a + n_b - n_inter)"))
        .join(src.select(col("doc_id").as("doc_a"),
          col("source").as("src_a")), "doc_a")
        .join(src.select(col("doc_id").as("doc_b"),
          col("source").as("src_b")), "doc_b")
        .select(least(col("src_a"), col("src_b")).as("source_lo"),
          greatest(col("src_a"), col("src_b")).as("source_hi"),
          col("j_pm"))
        .groupBy(col("source_lo"), col("source_hi"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("j_pm")).as("sum_j_pm"))
        .select(col("source_lo"), col("source_hi"), col("n_pairs"),
          expr("CAST(CAST(sum_j_pm AS DECIMAL(38,0)) div n_pairs " +
            "AS BIGINT)").as("avg_j_pm"))
        .orderBy(col("source_lo"), col("source_hi"))
    }),

    // Edit-distance near-dup: ORDER-SENSITIVE trigram-shingle Jaccard
    // (>= 0.3, exact inverted-index join on the persisted shingle
    // index) gates the expensive levenshtein verification — the
    // production fuzzy-dedup shape. Token-SET similarity cannot gate
    // here (same-vocabulary word salads put ~every same-block pair at
    // token-J >= 0.5), and ungated levenshtein on all pairs is
    // O(pairs × len²) ≈ 220 s at sf0.1; shingle overlap tracks edit
    // locality, cutting candidates to the few hundred true near-dups.
    // Both predicates are part of the declared semantics, mirrored
    // exactly in the oracle.
    "llm_dedup_edit" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val cand = pairCounts(s, dir)
        .filter(col("n_inter") * 10 >=
          (col("n_a") + col("n_b") - col("n_inter")) * 3)
        .select(col("doc_a"), col("doc_b"))
      cand
        .join(d.select(col("doc_id").as("doc_a"), col("text").as("text_a"),
          col("n_chars").as("len_a")), "doc_a")
        .join(d.select(col("doc_id").as("doc_b"), col("text").as("text_b"),
          col("n_chars").as("len_b")), "doc_b")
        .withColumn("lev", levenshtein(col("text_a"), col("text_b")))
        .filter(col("lev") * 2 <= greatest(col("len_a"), col("len_b")))
        .select(col("doc_a"), col("doc_b"), col("lev"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),

    // Embedding-cosine near-dup inside label blocks (cosine >= 0.4;
    // rank-free integer-pair output, similarity never escapes).
    "llm_dedup_embed" -> ((s, dir) => {
      def dot(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
        graft.functions.VectorFunctions.dotProduct(x, y)
      val e = graft.functions.VectorFunctions.withUnitVector(
        Tables(s, dir, "embeddings"), "embedding", "unit")
      val l = e.select(col("vec_id").as("vec_a"), col("label"),
        col("unit").as("unit_a"))
      val r = e.select(col("vec_id").as("vec_b"), col("label").as("label_b"),
        col("unit").as("unit_b"))
      l.join(r, col("label") === col("label_b") && col("vec_a") < col("vec_b"))
        .withColumn("sim", dot(col("unit_a"), col("unit_b")))
        .filter(col("sim") >= 0.4)
        .select(col("vec_a"), col("vec_b"), col("label"))
        .orderBy(col("vec_a"), col("vec_b"))
    }),

    // Duplicate-cluster assignment: connected components over the
    // 3-gram-Jaccard >= 0.05 pair graph (the llm_dedup_ngram edges),
    // every document labeled with the min doc_id of its component —
    // the "keep one per cluster" step that follows pair generation in
    // a production dedup pipeline. The propagation loop lives in
    // [[graft.operators.ConnectedComponents]] (property-tested against
    // a sequential union-find model); docs outside every pair stay
    // their own singleton cluster.
    "llm_dedup_cluster" -> ((s, dir) => {
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(ccLabels(s, dir), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // The dedup REPORT — what a curation run actually publishes:
    // cluster-size histogram (size → how many clusters, how many docs,
    // how many are removable duplicates) over the same memoized CC
    // labels as llm_dedup_cluster/keep, so its marginal cost is two
    // tiny aggregations on an already-persisted frame. Singletons
    // (docs with no near-dup edge) appear as size-1 clusters — the
    // histogram always accounts for every doc. At 100 TB the first
    // groupBy is |docs| → |clusters| and the second is |distinct
    // sizes| (~log-scale few) — nothing here outweighs the label run.
    "llm_dedup_stats" -> ((s, dir) => {
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(ccLabels(s, dir), Seq("doc_id"), "left_outer")
        .select(coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .groupBy(col("cluster_id")).agg(count(lit(1)).as("size"))
        .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("size") * col("n_clusters"))
        .withColumn("dup_docs", (col("size") - 1) * col("n_clusters"))
        .orderBy(col("size"))
    }),

    // SoftDeDup-style duplicate DOWN-WEIGHTING (the remove-nothing
    // alternative: train-time example weight 1/cluster_size instead
    // of dropping copies — preserves coverage while neutralizing
    // template mass). Rides the memoized CC labels; marginal cost is
    // one size agg + one key join; weight in integer ppm (truncating
    // div, engines identical). Singletons weigh 10⁶.
    "llm_dedup_weight" -> ((s, dir) => {
      val lbl = Tables(s, dir, "documents").select(col("doc_id"))
        .join(ccLabels(s, dir), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
      val sizes = lbl.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      lbl.join(sizes, "cluster_id")
        .withColumn("weight_ppm", expr("1000000 div cluster_size"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("weight_ppm"))
        .orderBy(col("doc_id"))
    }),

    // Bounded-hop reachability (multi-source BFS, 3 rounds) from a
    // scale-free seed set (doc_id % 97) over the near-dup graph — the
    // "blast radius" audit: if these documents are contaminated /
    // recalled, what's within 3 duplicate-hops? Each round is one
    // frontier semi-join + distinct + anti-join vs reached — O(E) per
    // round, fixed rounds, no driver convergence loop (the same
    // doctrine as llm_communities / kcore). Unreached docs drop out
    // (declared). | dist | is exact: a node enters at its true BFS
    // level because earlier levels are anti-joined away.
    "llm_graph_bfs" -> ((s, dir) => {
      val e0 = nearDupPairs(s, dir)
      val sym = e0.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(e0.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val seeds = Tables(s, dir, "documents")
        .filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("id"))
      // Each level is eagerly localCheckpoint'ed (tiny id frames):
      // without it the level-i plan re-derives every earlier level
      // once per later anti-join — 6 recomputes across 3 rounds (the
      // AnnIvf k-means|| pattern; measured 8.1 s → checkpointed ~1 s
      // at sf0.1).
      var levels = List(seeds.lineageCut(true))
      for (_ <- 1 to 3) {
        val prev = levels.head
        val anti = levels.reduce(_ union _)
        val next = sym
          .join(prev.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
          .select(col("v").as("id")).distinct()
          .join(anti, Seq("id"), "left_anti")
          .lineageCut(true)
        levels = next :: levels
      }
      levels.reverse.zipWithIndex
        .map { case (df, i) => df.withColumn("dist", lit(i)) }
        .reduce(_ union _)
        .select(col("id").as("doc_id"), col("dist"))
        .orderBy(col("doc_id"))
    }),

    // Same BFS semantics, computed by the engine's OWN recursive-CTE
    // machinery (Catalyst UnionLoop, `WITH RECURSIVE` — SQL:1999
    // surface a migrating warehouse user expects): depth-bounded
    // UNION ALL walk + min(depth) per node ≡ BFS level. The bounded
    // depth (< 3 hops) makes the recursion terminate under UNION ALL
    // even though the near-dup graph has cycles; each iteration is
    // one join of the frontier against the bounded edge frame. Same
    // oracle as llm_graph_bfs (DuckDB runs its own recursion) — two
    // engines' recursive evaluators cross-checked row for row. SCALE
    // NOTE: recursion materializes per-iteration frontiers like the
    // checkpointed loop in llm_graph_bfs; for diameter-unbounded
    // closure the log-round llm_cc_bigstar remains the declared path.
    "llm_graph_bfs_recursive" -> ((s, dir) => {
      val e0 = nearDupPairs(s, dir)
      e0.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(e0.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .createOrReplaceTempView("ndp_edges_rec")
      Tables(s, dir, "documents").select(col("doc_id"))
        .createOrReplaceTempView("docs_rec")
      // DISTINCT inside the recursive step: each level is a set of
      // (id, dist) pairs ≤ |V| — WITHOUT it the UNION ALL walk
      // enumerates PATHS and the frontier explodes combinatorially
      // (sf1 tripped Spark's 1M-row recursion guard; min(dist) after
      // the loop is unchanged by the dedup). Spark's UnionLoop has no
      // UNION-dedup across levels yet, so cross-level revisits remain
      // — bounded by levels·|V|, never by path count.
      s.sql("""
        WITH RECURSIVE walk(id, dist) AS (
          SELECT doc_id AS id, 0 AS dist FROM docs_rec WHERE doc_id % 97 = 0
          UNION ALL
          SELECT DISTINCT e.v AS id, w.dist + 1
          FROM walk w JOIN ndp_edges_rec e ON e.u = w.id
          WHERE w.dist < 3
        )
        SELECT id AS doc_id, CAST(min(dist) AS INT) AS dist
        FROM walk GROUP BY id ORDER BY id""")
    }),

    // Same cluster assignment, computed by large-star/small-star
    // contraction ([[graft.operators.BigStarCC]]) instead of label
    // propagation: O(log n) rounds independent of component diameter —
    // the variant to reach for when duplicate chains can be long
    // (template families, boilerplate ladders). Identical output, same
    // oracle closure.
    "llm_cc_bigstar" -> ((s, dir) => {
      val labels = graft.operators.BigStarCC
        .run(nearDupPairs(s, dir), "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // Integer PageRank (3 fixed iterations, damping 0.85, scores
    // scaled ×10⁶, every step integer division ⇒ bit-identical in
    // both engines) over the symmetric near-dup graph — centrality of
    // a document inside its duplicate family (the "pick the canonical
    // page of a template cluster" signal). Each iteration is one
    // edge-side join + one aggregation — O(edges) per round, the
    // standard distributed PR shape; dangling mass is deliberately
    // not redistributed (documented determinism trade).
    // Degree distribution of the near-dup graph — the first diagnostic
    // run on any duplicate graph (a heavy tail means template farms /
    // boilerplate hubs; mass at 0 means the corpus is mostly clean) and
    // the input to choosing DfCap-style bounds. Rides the shared
    // persisted pair frame; isolated documents appear as degree 0 via
    // the left join. Two hash aggs — the histogram of a 100 TB corpus
    // graph is \|distinct degrees\| rows out of a map-side-combined
    // shuffle.
    "llm_graph_degree" -> ((s, dir) => {
      val e = nearDupPairs(s, dir)
      val deg = e.select(col("doc_a").as("id"))
        .union(e.select(col("doc_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(deg, col("doc_id") === col("id"), "left_outer")
        .withColumn("degree", coalesce(col("degree"), lit(0L)))
        .groupBy(col("degree"))
        .agg(count(lit(1)).as("n_nodes"))
        .orderBy(col("degree"))
    }),

    // Degree-mixing (assortativity) of the near-dup graph: the OLS
    // slope of neighbor degree on node degree over every directed
    // edge — positive slope ⇒ template farms clump with template
    // farms (one gigantic near-dup core), negative ⇒ hub-and-spoke
    // boilerplate. Integer closed form like agg_regression (5 moment
    // sums, DECIMAL(38,0)/HUGEINT — k·Σxy passes 2^63 at corpus
    // scale); degrees attach via two node-keyed co-partitioned joins
    // on the shared pair frame; output is ONE row, denominator-zero
    // graphs NULL through the CASE.
    "llm_graph_assort" -> ((s, dir) => {
      val e = nearDupPairs(s, dir)
      val both = e.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(e.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = both.groupBy(col("u")).agg(count(lit(1)).as("d"))
      both
        .join(deg, Seq("u"))
        .join(deg.select(col("u").as("v"), col("d").as("dv")), Seq("v"))
        .agg(count(lit(1)).as("n_edges"),
          expr("sum(CAST(d AS DECIMAL(38,0)))").as("sx"),
          expr("sum(CAST(dv AS DECIMAL(38,0)))").as("sy"),
          expr("sum(CAST(d AS DECIMAL(38,0)) * d)").as("sxx"),
          expr("sum(CAST(d AS DECIMAL(38,0)) * dv)").as("sxy"))
        .select(col("n_edges"),
          col("sx").cast("long").as("sum_deg"),
          expr("CASE WHEN n_edges * sxx - sx * sx = 0 THEN NULL " +
            "ELSE CAST(((n_edges * sxy - sx * sy) * 1000) " +
            "div (n_edges * sxx - sx * sx) AS BIGINT) END")
            .as("assort_slope_milli"))
    }),

    // 2-core of the near-dup graph by 3 fixed peel rounds (each:
    // drop nodes of degree < 2, restrict edges to survivors) — the
    // "dense duplicate neighborhoods" extractor: pendant docs that
    // merely touch a cluster peel away, leaving the template-farm
    // cores that degree alone overstates. Fixed-round semantics like
    // llm_communities (a full peel iterates to a fixpoint; 3 rounds
    // is the declared contract, enough for every test corpus — and
    // each round is one hash agg + two key-co-partitioned semi-joins
    // on the SAME u/v keys, O(E) per round, no driver loop, no
    // convergence action). Rides the shared persisted pair frame.
    "llm_graph_kcore" -> ((s, dir) => {
      val e0 = nearDupPairs(s, dir)
      val sym = e0.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(e0.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = kcorePeel(sym, k = 2, rounds = 3)
        .groupBy(col("u")).agg(count(lit(1)).as("core_degree"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(deg, col("doc_id") === col("u"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("core_degree"), lit(0L)).as("core_degree"),
          col("u").isNotNull.as("in_core2"))
        .orderBy(col("doc_id"))
    }),

    // Strict 2-hop neighborhood size per document over the near-dup
    // graph — the "friends-of-friends" cluster-periphery signal (how
    // much MORE a transitive dedup pass would sweep in than the direct
    // edges show; complements llm_graph_bfs's seeded reach with an
    // every-node statistic). Strict = reachable in exactly 2 hops and
    // NOT a direct neighbor and not self. The DfCap-bounded degree is
    // what makes this scale-safe: the edge-edge join is O(Σ deg(v)²),
    // bounded per node — never corpus². One self-join + distinct +
    // anti-join + hash agg, all on the u/v key exchanges.
    "llm_graph_2hop" -> ((s, dir) => {
      val e0 = nearDupPairs(s, dir)
      val sym = e0.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(e0.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val two = sym
        .join(sym.select(col("u").as("m"), col("v").as("w2")),
          col("v") === col("m"))
        .filter(col("w2") =!= col("u"))
        .select(col("u"), col("w2")).distinct()
      val strict = two.join(sym.select(col("u"), col("v").as("w2")),
        Seq("u", "w2"), "left_anti")
      val n2 = strict.groupBy(col("u")).agg(count(lit(1)).as("n_2hop"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(n2, col("doc_id") === col("u"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_2hop"), lit(0L)).as("n_2hop"))
        .orderBy(col("doc_id"))
    }),

    // STRONGLY connected components of a DIRECTED graph — the
    // recurrent-state analysis the undirected CC family
    // (llm_cc_bigstar/llm_communities) cannot express: u and v are in
    // one SCC iff each reaches the other FOLLOWING edge direction.
    // Graph: the user-journey state machine over events — node =
    // event_type/value-bucket (bounded domain: 5 types × 8 buckets),
    // edge = observed consecutive transition, thresholded to > 1‰ of
    // all transitions so rare hops don't glue everything together.
    // The fact table pays ONE per-user lag window + ONE hash agg;
    // everything after is bounded by the ≤40-node domain: transitive
    // closure by PATH-DOUBLING (6 statically-unrolled squarings reach
    // paths of length 2⁶ = 64 > |V|, no convergence action), SCC id =
    // min node in the mutual-reachability intersection. At 100 TB the
    // closure frames never grow with data — only the two fact passes
    // do. Oracle: DuckDB runs its own WITH RECURSIVE closure.
    "llm_graph_scc" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          concat(col("event_type"), lit("/"),
            pmod(abs(expr("CAST(round(value * 100) AS BIGINT)")), lit(8)))
            .as("node"))
        .filter(col("node").isNotNull)
      val trans = ev
        .withColumn("src", lag(col("node"), 1).over(w))
        .filter(col("src").isNotNull)
        .select(col("src"), col("node").as("dst"))
      val counted = trans.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      // permille threshold over the BOUNDED edge-count frame (global
      // window on ≤ 40² rows, never fact-proportional)
      val kept = counted
        .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
        .filter(col("n") * 1000 > col("tot"))
        .select(col("src"), col("dst"))
      val assigned = graft.operators.Scc.components(kept, rounds = 6)
      // isolated nodes (no surviving edge) are their own SCC
      ev.select(col("node")).distinct()
        .join(assigned, Seq("node"), "left_outer")
        .select(col("node"),
          coalesce(col("scc_id"), col("node")).as("scc_id"))
        .withColumn("scc_size",
          count(lit(1)).over(Window.partitionBy(col("scc_id"))))
        .orderBy(col("node"))
    }),

    // Closeness centrality on the SAME bounded directed transition
    // graph as llm_graph_scc (which states a node's recurrence; this
    // states its REACH EFFICIENCY — how few hops to everything it can
    // reach): exact shortest-path distances by MIN-PLUS path doubling
    // — 6 squarings of the distance relation (new d = min(old, old⊕
    // old)) cover shortest paths ≤ 2⁶ = 64 > |V|, each round one
    // equi-join + one min-agg on the ≤|V|²-row frame,
    // localCheckpoint'd (the iterative-loop doctrine). Closeness =
    // 10⁶·|reachable| div Σdist (classic Bavelas form in ppm, exact
    // integers); unreachable-from nodes declared NULL. The fact table
    // pays the same ONE lag window + ONE hash agg as the scc query;
    // every later frame is domain-bounded — nothing grows at 100 TB.
    // Oracle: DuckDB recursive BFS with a depth cap (independent
    // algorithm).
    "llm_graph_closeness" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      val ev = Tables(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          concat(col("event_type"), lit("/"),
            pmod(abs(expr("CAST(round(value * 100) AS BIGINT)")), lit(8)))
            .as("node"))
        .filter(col("node").isNotNull)
      val trans = ev
        .withColumn("src", lag(col("node"), 1).over(w))
        .filter(col("src").isNotNull)
        .select(col("src"), col("node").as("dst"))
      val counted = trans.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n"))
      val kept = counted
        .withColumn("tot", sum(col("n")).over(Window.partitionBy()))
        .filter(col("n") * 1000 > col("tot"))
        .select(col("src"), col("dst"))
      var dist = kept.withColumn("d", lit(1L)).lineageCut(false)
      for (_ <- 1 to 6) {
        val hop = dist.select(col("src"), col("dst").as("mid"),
            col("d").as("d1"))
          .join(dist.select(col("src").as("mid"), col("dst"),
            col("d").as("d2")), "mid")
          .select(col("src"), col("dst"), (col("d1") + col("d2")).as("d"))
        dist = dist.union(hop).groupBy(col("src"), col("dst"))
          .agg(min(col("d")).as("d")).lineageCut(false)
      }
      val reach = dist.filter(col("src") =!= col("dst"))
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("n_reachable"), sum(col("d")).as("sum_dist"))
      ev.select(col("node")).distinct()
        .join(reach, Seq("node"), "left_outer")
        .select(col("node"),
          coalesce(col("n_reachable"), lit(0L)).as("n_reachable"),
          coalesce(col("sum_dist"), lit(0L)).as("sum_dist"))
        .withColumn("closeness_ppm",
          expr("CAST(CASE WHEN sum_dist = 0 THEN NULL ELSE " +
            "(1000000 * n_reachable) div sum_dist END AS BIGINT)"))
        .orderBy(col("node"))
    }),

    "llm_pagerank" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir)
      val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val nodes = Tables(s, dir, "documents").select(col("doc_id"))
      var pr = nodes.withColumn("pr", lit(1000000L))
      for (_ <- 1 to 3) {
        val contrib = edges.join(deg, "u")
          .join(pr.withColumnRenamed("doc_id", "u"), "u")
          .select(col("v"), expr("pr div d").as("c"))
          .groupBy(col("v")).agg(sum(col("c")).as("csum"))
        pr = nodes.join(contrib, col("doc_id") === col("v"), "left_outer")
          .select(col("doc_id"),
            expr("CAST(150000 + (850 * coalesce(csum, 0L)) div 1000 AS BIGINT)")
              .as("pr"))
      }
      pr.orderBy(col("doc_id"))
    }),

    // Synchronous label-propagation community detection (Raghavan et
    // al. 2007) over the near-dup graph, 3 rounds, FULLY deterministic:
    // every node starts as its own label; each round it adopts the
    // most frequent label among its neighbors with the tie broken by
    // smallest label (a strict total order — classic LPA's random
    // tie-break would be irreproducible across partitionings);
    // neighborless nodes keep their own id. Unlike the CC labelings
    // (pure reachability) LPA is density-driven: two clusters bridged
    // by one spurious near-dup edge stay separate communities because
    // votes, not connectivity, decide. Per round: one neighbor-label
    // hash join (O(E)), one per-node vote agg, one window bounded by
    // degree — pagerank's exact shuffle shape, nothing
    // corpus-quadratic; fixed 3 rounds keeps the plan statically
    // unrolled (no convergence action needed at any scale).
    "llm_communities" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir)
      val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val nodes = Tables(s, dir, "documents").select(col("doc_id"))
      var lab = nodes.withColumn("lbl", col("doc_id"))
      for (_ <- 1 to 3) {
        val votes = edges
          .join(lab.select(col("doc_id").as("v"), col("lbl")), "v")
          .groupBy(col("u"), col("lbl")).agg(count(lit(1)).as("n"))
        val best = votes
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("u"))
              .orderBy(desc("n"), asc("lbl"))))
          .filter(col("rk") === 1)
          .select(col("u").as("doc_id"), col("lbl").as("won"))
        lab = nodes.join(best, Seq("doc_id"), "left_outer")
          .select(col("doc_id"),
            coalesce(col("won"), col("doc_id")).as("lbl"))
      }
      lab.select(col("doc_id"), col("lbl").as("community"))
        .orderBy(col("doc_id"))
    }),

    // Triangle census of the near-dup graph: triangles vs open wedges
    // measure how clique-like duplicate families are (template
    // clusters close their triangles; chain-shaped boilerplate does
    // not). Canonical-ordered edges (a<b<c) make each triangle count
    // exactly once; two hash joins on the (persisted) pair list —
    // the standard distributed triangle enumeration.
    "llm_triangles" -> ((s, dir) => {
      val e = nearDupPairs(s, dir) // doc_a < doc_b, persisted upstream
      val ab = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      val bc = e.select(col("doc_a").as("b"), col("doc_b").as("c"))
      val ac = e.select(col("doc_a").as("a2"), col("doc_b").as("c2"))
      val tri = ab.join(bc, "b")
        .join(ac, col("a") === col("a2") && col("c") === col("c2"))
        .agg(count(lit(1)).as("n_triangles"))
      val wedges = e.select(col("doc_a").as("id"))
        .union(e.select(col("doc_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("deg"))
        .agg(sum(expr("deg * (deg - 1) div 2")).as("n_wedges"))
      tri.crossJoin(wedges)
        .select(col("n_triangles"), col("n_wedges"),
          expr("CAST(CASE WHEN n_wedges > 0 THEN n_triangles * 3000 div n_wedges ELSE 0 END AS BIGINT)")
            .as("closure_permille"))
    }),

    // Template extraction per near-dup cluster: the shared character
    // prefix all members of a duplicate family start with (the
    // boilerplate header a template stamped onto every instance).
    // LCP-of-a-set = LCP(lexicographic min, lexicographic max) — so
    // ONE hash agg over the memoized CC labels reduces each cluster
    // to two witness strings, and the per-cluster character scan
    // (capped at 64 chars, declared) runs on the |clusters| frame,
    // never the corpus. The prefix-match test is the same monotone
    // substring filter in both engines.
    "llm_template_prefix" -> ((s, dir) => {
      val lab = ccLabels(s, dir)
      val cl = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
        .join(lab, Seq("doc_id"))
        .groupBy(col("component").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(col("text")).as("tmin"), max(col("text")).as("tmax"))
        .filter(col("n_members") >= 2)
      cl.withColumn("m",
          least(least(length(col("tmin")), length(col("tmax"))), lit(64)))
        // m = 0 (empty witness string) must yield lcp 0: DuckDB's
        // range(1, m + 1) is empty there, but Spark's sequence(1, 0)
        // steps DOWN to [1, 0] — gate the branch and clamp the bound
        // so the operator is safe outside the non-empty-text contract.
        .withColumn("lcp_len",
          expr("CASE WHEN m = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE CAST(size(filter(sequence(1, greatest(m, 1)), " +
            "i -> substring(tmin, 1, i) = substring(tmax, 1, i))) " +
            "AS BIGINT) END"))
        .select(col("cluster_id").cast("long").as("cluster_id"),
          col("n_members"), col("lcp_len"),
          expr("substring(tmin, 1, CAST(lcp_len AS INT))")
            .as("template_prefix"))
        .orderBy(col("cluster_id"))
    }),

    // Per-node local clustering coefficient over the near-dup graph —
    // llm_triangles' census localized: for each document, its degree,
    // the triangles THROUGH it, and 2T·10⁶ div d(d−1) ppm (NULL below
    // degree 2). Separates clique members (template families, ppm→1e6)
    // from bridge/hub nodes (ppm→0) that the global closure rate
    // averages away. Same two hash joins enumerate each canonical
    // triangle once (a<b<c); per-node counts fall out of ONE 3-way
    // explode + hash agg; the ratio rides DECIMAL(38,0)/HUGEINT (a
    // boilerplate hub's d² passes 2^63 headroom at corpus scale).
    "llm_graph_clustcoef" -> ((s, dir) => {
      val e = nearDupPairs(s, dir) // doc_a < doc_b, persisted upstream
      val deg = e.select(col("doc_a").as("id"))
        .union(e.select(col("doc_b").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      val ab = e.select(col("doc_a").as("a"), col("doc_b").as("b"))
      val bc = e.select(col("doc_a").as("b"), col("doc_b").as("c"))
      val ac = e.select(col("doc_a").as("a2"), col("doc_b").as("c2"))
      val tri = ab.join(bc, "b")
        .join(ac, col("a") === col("a2") && col("c") === col("c2"))
        .select(col("a"), col("b"), col("c"))
      val tpn = tri.select(explode(array(col("a"), col("b"), col("c")))
          .as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
      Tables(s, dir, "documents").select(col("doc_id"))
        .join(deg, col("doc_id") === deg("id"), "left_outer").drop("id")
        .withColumn("degree", coalesce(col("degree"), lit(0L)))
        .join(tpn, col("doc_id") === tpn("id"), "left_outer").drop("id")
        .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
        .withColumn("clust_ppm",
          expr("CASE WHEN degree >= 2 THEN " +
            "CAST((CAST(n_tri AS DECIMAL(38,0)) * 2000000) " +
            "div (CAST(degree AS DECIMAL(38,0)) * (degree - 1)) " +
            "AS BIGINT) END"))
        .orderBy(col("doc_id"))
    }),

    // Common-neighbor link prediction over the CHUNK-SHARING graph —
    // the transitive-template-family signal: docs connected when they
    // share ≥1 exact 10-token chunk (the llm_dedup_paragraph
    // relation), then pairs NOT directly sharing a chunk are ranked
    // by how many neighbors vouch for them (A shares chunk₁ with B, B
    // shares chunk₂ with C ⇒ A and C likely instantiate the same
    // template even with zero verbatim overlap — invisible to every
    // direct-similarity member of the family). NOT run on the
    // near-dup Jaccard graph: near-identical copies form cliques, so
    // that graph has no open wedge to predict (verified at both test
    // scales) — chunk sharing is hub/chain-shaped, which is exactly
    // where common-neighbor evidence adds information. Two declared
    // caps bound the plan at 100 TB: chunk df ≤ 64 (a boilerplate
    // chunk in K docs would emit K²/2 edge pairs) and serving-node
    // degree ≤ 64 (a hub contributes deg² wedges; its own pairs are
    // already direct edges), so edge generation and the two-hop
    // self-join are both ≤ cap·|rows|. Top-20 by (count desc, pair) —
    // TakeOrderedAndProject, never a global sort.
    "llm_graph_linkpred" -> ((s, dir) => {
      val W = 10; val dfCap = 64; val degCap = 64
      val dc = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(array_distinct(expr(
          s"transform(sequence(0, (size(toks) + $W - 1) div $W - 1), " +
            s"i -> array_join(slice(toks, i * $W + 1, $W), ' '))")))
          .as("chunk"))
      val rare = dc.groupBy(col("chunk")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= dfCap).select(col("chunk"))
      val dcf = dc.join(rare, Seq("chunk"))
      val pairs = dcf.select(col("doc_id").as("doc_a"), col("chunk"))
        .join(dcf.select(col("doc_id").as("doc_b"),
          col("chunk").as("chunk_b")),
          col("chunk") === col("chunk_b") && col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b")).distinct()
      val e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val serving = e.join(deg.filter(col("d") <= degCap), Seq("u"))
        .select(col("u").as("w"), col("v").as("nbr"))
      val wedges = serving.as("a")
        .join(serving.as("b"),
          col("a.w") === col("b.w") && col("a.nbr") < col("b.nbr"))
        .select(col("a.nbr").as("doc_a"), col("b.nbr").as("doc_b"))
      wedges.groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(pairs, Seq("doc_a", "doc_b"), "left_anti")
        .orderBy(desc("n_common"), asc("doc_a"), asc("doc_b"))
        .limit(20)
    }),

    // Neighbor-set Jaccard similarity over the near-dup graph (the
    // degree-normalized cousin of llm_graph_linkpred's raw
    // common-neighbor count, on the shingle graph instead of the
    // chunk graph): for every wedge-connected pair, jac_pm =
    // |N(a)∩N(b)|·1000 div (deg a + deg b − common). SCALE: wedge
    // expansion is Σdeg² over the df-capped shingle graph (bounded
    // per the blocking contract); top-30 collapses to
    // TakeOrderedAndProject. Ties break on the unique (doc_a, doc_b).
    "llm_graph_jaccard" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir)
      val e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      val deg = e.groupBy(col("u")).agg(count(lit(1)).as("d"))
      val wedges = e.as("a")
        .join(e.as("b"),
          col("a.u") === col("b.u") && col("a.v") < col("b.v"))
        .select(col("a.v").as("doc_a"), col("b.v").as("doc_b"))
      wedges.groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(deg.select(col("u").as("doc_a"), col("d").as("da")),
          "doc_a")
        .join(deg.select(col("u").as("doc_b"), col("d").as("db")),
          "doc_b")
        .select(col("doc_a"), col("doc_b"), col("n_common"),
          expr("CAST((n_common * 1000) div (da + db - n_common) " +
            "AS BIGINT)").as("jac_pm"))
        .orderBy(desc("jac_pm"), desc("n_common"),
          asc("doc_a"), asc("doc_b"))
        .limit(30)
    }),

    // Cross-language leakage matrix (the contamination audit a
    // per-language dedup CANNOT see — identical openings copied
    // across language shards mean mislabeled or machine-translated
    // duplicates): docs keyed by their first-5-token prefix, lang
    // pairs sharing a key counted as shared keys AND doc pairs.
    // SCALE: one hash agg to (key, lang) — the self-join runs on the
    // collapsed group frame (≤|langs| rows per key), never doc×doc;
    // output bounded by |langs|².
    "llm_crosslingual_leakage" -> ((s, dir) => {
      val g = Tables(s, dir, "documents")
        .select(expr("array_join(slice(split(text, ' '), 1, 5), ' ')")
          .as("pfx"), col("lang"))
        .groupBy(col("pfx"), col("lang"))
        .agg(count(lit(1)).as("n"))
      g.as("a").join(g.as("b"),
          col("a.pfx") === col("b.pfx") &&
            col("a.lang") < col("b.lang"))
        .groupBy(col("a.lang").as("lang_a"), col("b.lang").as("lang_b"))
        .agg(count(lit(1)).as("n_shared_prefixes"),
          sum(col("a.n") * col("b.n")).as("n_doc_pairs"))
        .orderBy(col("lang_a"), col("lang_b"))
    }),

    // The "so what" of the dedup family: materialize the deduplicated
    // corpus stats — one representative (min doc_id) per near-dup
    // cluster survives, unclustered docs survive — per language. Rides
    // the same persisted pair graph + CC labels as the cluster
    // queries, so the marginal cost is one groupBy.
    // URL canonicalization dedup — the CommonCrawl pipeline stage
    // that runs BEFORE any content hashing (most crawl dups are the
    // same page behind tracking params / scheme / www variants):
    // data-derived URLs (the join_fuzzy probe-model convention) are
    // canonicalized by stripping scheme and www and dropping utm_*
    // tracking params while KEEPING meaningful ones, then exact-
    // grouped. Entirely narrow per-row string expressions + ONE hash
    // agg on the canonical key — scan-speed at any crawl size.
    "llm_dedup_url" -> ((s, dir) => {
      Tables(s, dir, "documents").select(col("doc_id"), col("source"))
        .withColumn("url", concat(lit("https://www."), col("source"),
          lit(".example.com/p/"), (col("doc_id") % 40).cast("string"),
          lit("?id="), (col("doc_id") % 40).cast("string"),
          lit("&utm_source=feed&utm_campaign=c"),
          col("doc_id").cast("string")))
        .withColumn("u", regexp_replace(
          regexp_replace(col("url"), "^https?://", ""), "^www\\.", ""))
        .withColumn("path",
          expr("try_element_at(split(u, '\\\\?'), 1)"))
        .withColumn("q",
          expr("coalesce(try_element_at(split(u, '\\\\?'), 2), '')"))
        .withColumn("kept", expr(
          "array_join(filter(split(q, '&'), " +
            "t -> NOT startswith(t, 'utm_')), '&')"))
        .withColumn("canonical", expr(
          "CASE WHEN kept = '' THEN path " +
            "ELSE concat(path, '?', kept) END"))
        .groupBy(col("canonical"))
        .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
        .orderBy(col("canonical"))
    }),

    "llm_dedup_keep" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).as("n_tok"))
        .join(ccLabels(s, dir), Seq("doc_id"), "left_outer")
        .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("cluster_id") === col("doc_id"), 1L).otherwise(0L))
            .as("n_kept"),
          sum(when(col("cluster_id") =!= col("doc_id"), 1L).otherwise(0L))
            .as("n_removed"),
          sum(when(col("cluster_id") === col("doc_id"),
            col("n_tok").cast("long")).otherwise(0L)).as("kept_tokens"))
        .orderBy(col("lang"))
    }),

    // Paragraph-level (sub-document) dedup — the RefinedWeb/CCNet
    // pattern: chunk each doc into fixed 10-word "paragraphs", keep
    // only the corpus-wide FIRST occurrence of each chunk (min
    // (doc_id, chunk_idx)), reassemble the surviving text. The dedup
    // key is md5(chunk) so the shuffle carries a 16-byte key instead
    // of the chunk text — at 100 TB the window is a single hash
    // shuffle on the digest, and per-doc reassembly is one more
    // shuffle on doc_id.
    "llm_dedup_paragraph" -> ((s, dir) => {
      val W = 10
      val chunks = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, (size(toks) + $W - 1) div $W - 1), " +
            s"i -> array_join(slice(toks, i * $W + 1, $W), ' '))"))
          .as(Seq("chunk_idx", "chunk")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(md5(col("chunk")))
        .orderBy(col("doc_id"), col("chunk_idx"))
      chunks.withColumn("rn", row_number().over(w))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
          array_join(transform(array_sort(collect_list(
            when(col("rn") === 1,
              struct(col("chunk_idx"), col("chunk"))))),
            x => x.getField("chunk")), " ").as("clean_text"))
        .orderBy(col("doc_id"))
    }),

    // Exact duplicated-SPAN detection (Lee et al. 2022 "Deduplicating
    // Training Data Makes Language Models Better", adapted from
    // suffix arrays to aligned window fingerprints): md5-fingerprint
    // every 64-char window at stride 32, group on the 16-byte digest,
    // report windows shared by ≥2 distinct docs. Unlike the
    // shingle-Jaccard family this needs NO pairwise join — a span
    // shared by K docs costs one aggregation row, not K² pairs, so
    // the plan is one digest-keyed hash shuffle, linear in corpus
    // size with no df cap required. Catches the long verbatim
    // boilerplate runs that cap-bounded similarity dedup deliberately
    // ignores (see DfCap's declared fallback).
    // First-occurrence novelty score — the curation-ordering signal:
    // per doc, how many of its distinct 3-grams FIRST appear in it
    // when the corpus is scanned in doc_id (ingestion) order, as an
    // integer permille. A late near-copy scores ~0, the original
    // scores high, and boilerplate-heavy docs sit in between — the
    // cheap "does this doc add anything" ranking that complements the
    // pairwise dedup family. Rides the same persisted (UNCAPPED)
    // shingle index as the family — no pairwise join anywhere, so no
    // df cap is needed: first-doc per gram is one gram-keyed hash agg,
    // the join back is on the identical gram key (co-partitioned), and
    // the rollup is one doc_id shuffle. Linear at 100 TB.
    "llm_novelty" -> ((s, dir) => {
      val sh = shingles(s, dir)
      val fd = sh.groupBy(col("sh")).agg(min(col("doc_id")).as("first_doc"))
      sh.join(fd, "sh")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
            .as("n_novel"))
        .withColumn("novelty_permille", expr("(n_novel * 1000) div n_grams"))
        .orderBy(col("doc_id"))
    }),

    "llm_dedup_substr" -> ((s, dir) => {
      val W = 64
      val S = 32
      Tables(s, dir, "documents")
        .filter(length(col("text")) >= W)
        .select(col("doc_id"),
          explode(expr(
            s"transform(sequence(0, (length(text) - $W) div $S), " +
              s"i -> md5(substring(text, i * $S + 1, $W)))")).as("wh"))
        .groupBy(col("wh"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"),
          min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") >= 2)
        .orderBy(col("wh"))
    }),

    // LSH band-tuning audit (pick (bands, rows) BEFORE paying for the
    // index): an 8-minhash md5 signature over the df-capped shingle
    // sets, sliced into every way 8 splits into bands (8×1, 4×2, 2×4,
    // 1×8); per config, bucket-census statistics — bucket count,
    // collision buckets, max bucket, and probe volume Σ m·(m−1)/2
    // (the bucket-pair compare cost an index at that config pays,
    // WITH band multiplicity — exactly the shuffle a dedup pass
    // generates). The audit never materializes a candidate pair: it
    // reads bucket SIZE histograms only, so it is linear in the
    // corpus even at configs (like 8 bands × 1 row) whose pair
    // volume is quadratic — that blow-up shows up as a NUMBER here
    // instead of as an OOM in production. md5 mins (not xxhash64)
    // keep the signature cross-engine exact.
    "llm_lsh_tune" -> ((s, dir) => {
      // 8 per-seed minhashes as 8 min() columns in ONE pass over the
      // df-capped shingles — no 8x seed-explode, no second shuffle:
      // the shingle frame is aggregated once, map-side combined, at
      // 1x its row count (the same rewrite the oracle carries; at
      // 100 TB this is the difference between shuffling the corpus
      // shingle set once and eight times).
      val hcols = (0 to 7).map(i =>
        min(md5(concat(lit(s"$i:"), col("sh")))).as(s"h$i"))
      val sig = shinglesCapped(s, dir).groupBy(col("doc_id"))
        .agg(hcols.head, hcols.tail: _*)
      val arms = Seq(
        (0 to 7).map(i => s"'8x1', $i, h$i"),
        (0 to 3).map(i => s"'4x2', $i, concat(h${2 * i}, h${2 * i + 1})"),
        (0 to 1).map(i => s"'2x4', $i, concat(h${4 * i}, h${4 * i + 1}, " +
          s"h${4 * i + 2}, h${4 * i + 3})"),
        Seq("'1x8', 0, concat(h0, h1, h2, h3, h4, h5, h6, h7)")
      ).flatten
      sig.select(col("doc_id"),
          expr(s"stack(${arms.size}, ${arms.mkString(", ")}) " +
            "AS (config, band, bkey)"))
        .groupBy(col("config"), col("band"), col("bkey"))
        .agg(count(lit(1)).as("m"))
        .groupBy(col("config"))
        .agg(count(lit(1)).as("n_buckets"),
          sum((col("m") > 1).cast("long")).as("n_collision_buckets"),
          max(col("m")).as("max_bucket"),
          sum(expr("m * (m - 1) div 2")).as("probe_pairs"))
        .orderBy(col("config"))
    }),

    // Dedup length-bias audit (what does exact dedup do to the
    // LENGTH distribution? — short boilerplate dominates duplicate
    // mass, so naive dedup reshapes the corpus): docs bucketed by
    // n_chars div 100, before-counts vs after-counts (keep = min
    // doc_id per md5(text), llm_dedup_exact's rule), per-bucket drop
    // rate and the corpus-share drift in permille. Two hash aggs on
    // the bucket key + one md5 group — no pair frame anywhere.
    "llm_dedup_bias" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("h"))
        .withColumn("bucket", expr("n_chars div 100"))
      val keep = d.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      val before = d.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_before"))
      val after = d.join(keep, Seq("h", "doc_id"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n_after"))
      before.join(after, Seq("bucket"), "left_outer")
        .withColumn("n_after", coalesce(col("n_after"), lit(0L)))
        .withColumn("drop_pm",
          expr("CAST(((n_before - n_after) * 1000) div n_before " +
            "AS BIGINT)"))
        .withColumn("share_before_pm",
          expr("CAST((n_before * 1000) div sum(n_before) OVER () " +
            "AS BIGINT)"))
        .withColumn("share_after_pm",
          expr("CAST(CASE WHEN sum(n_after) OVER () > 0 THEN " +
            "(n_after * 1000) div sum(n_after) OVER () END AS BIGINT)"))
        .withColumn("drift_pm",
          col("share_after_pm") - col("share_before_pm"))
        .orderBy(col("bucket"))
    })
  )

  /** Shared pair statistics for the whole shingle-dedup family:
    * inverted-index self-join on the (persisted) shingle index,
    * aggregated to one row per candidate pair (doc_a < doc_b) with the
    * intersection count and both set sizes. ngram/edit/cluster/bigstar
    * all apply their own threshold to this ONE persisted frame
    * (CacheManager substitutes the cached plan into every equal
    * subplan) — the index and its posting-list join are paid once per
    * session, not once per query. Rides the df-capped index (see
    * [[DfCap]]): sizes, intersections and thresholds are all computed
    * over grams with df ≤ K, which is what keeps the self-join
    * sub-quadratic regardless of boilerplate. */
  private def pairCounts(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("dedup.pairCounts", dir)) {
      val sh = shinglesCapped(s, dir)
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
      val a = sh.select(col("doc_id").as("doc_a"), col("sh"))
      val b = sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      a.join(b, col("sh") === col("sh_b") && col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")),
          "doc_a")
        .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")),
          "doc_b")
        .lineageCut(false)
    }

  /** Min-label CC assignments over the near-dup graph, memoized per
    * (session, dir) and persisted — the propagation loop runs Spark
    * actions driver-side, so CacheManager plan substitution alone
    * cannot dedupe repeat calls. cluster/keep share this;
    * llm_cc_bigstar deliberately keeps its own BigStarCC run — being
    * a second, independent algorithm is the point of that query. */
  private def ccLabels(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("dedup.cc", dir))(
      graft.operators.ConnectedComponents
        .run(nearDupPairs(s, dir), "doc_a", "doc_b")
        .withColumnRenamed("id", "doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Fixed-round k-core peel over a SYMMETRIC (u, v) edge frame: each
    * round drops nodes of degree < k and restricts edges to the
    * survivors (one hash agg + two semi-joins on the same keys,
    * O(E)/round). Returns the surviving edge frame after `rounds`
    * rounds — shared by llm_graph_kcore and the KCoreSpec property
    * pin (pendant chains peel, cliques survive). */
  private[graft] def kcorePeel(sym: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var edges = sym
    for (_ <- 1 to rounds) {
      val surv = edges.groupBy(col("u")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("u"))
      // localCheckpoint per round (eager=false — truncated immediately,
      // materialized by the consumer's action): edges_{r-1} appears 3x
      // in round r (degree agg + both semi-joins), so without the cut
      // the logical plan grows 3^rounds — measured ~2,500 Exchange
      // nodes / 11 MB of plan text at rounds=3 over the pair build,
      // with planning time dominating the query. The iterative-loop
      // doctrine (llm_graph_closeness, Scc, BigStarCC) applied here.
      edges = edges.join(surv, Seq("u"), "left_semi")
        .join(surv.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .lineageCut(false)
    }
    edges
  }

  /** The J≥0.05 3-gram-Jaccard near-dup pair graph (doc_a < doc_b),
    * shared by both connected-components variants. Integer-only
    * threshold: n_inter·20 ≥ union. */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    pairCounts(s, dir)
      .filter(col("n_inter") * 20 >= col("n_a") + col("n_b") - col("n_inter"))
      .select(col("doc_a"), col("doc_b"))

  private val tokPairSql =
    """WITH tok AS (
      |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      |  FROM documents
      |), tok2 AS (SELECT * FROM tok WHERE w <> ''),
      |sz AS (SELECT doc_id, count(*) AS n_tok FROM tok2 GROUP BY doc_id),
      |pair AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      |  FROM tok2 a JOIN tok2 b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b, n_inter,
      |  sa.n_tok + sb.n_tok - n_inter AS n_union
      |FROM pair
      |JOIN sz sa ON doc_a = sa.doc_id
      |JOIN sz sb ON doc_b = sb.doc_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "llm_dedup_url" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    'https://www.' || source || '.example.com/p/' ||
        |    CAST(doc_id % 40 AS VARCHAR) || '?id=' ||
        |    CAST(doc_id % 40 AS VARCHAR) ||
        |    '&utm_source=feed&utm_campaign=c' ||
        |    CAST(doc_id AS VARCHAR) AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, regexp_replace(
        |    regexp_replace(url, '^https?://', ''), '^www\.', '') AS u
        |  FROM d),
        |p AS (
        |  SELECT doc_id, string_split(u, '?')[1] AS path,
        |    coalesce(string_split(u, '?')[2], '') AS q
        |  FROM c),
        |k AS (
        |  SELECT doc_id, path,
        |    array_to_string(list_filter(string_split(q, '&'),
        |      t -> NOT starts_with(t, 'utm_')), '&') AS kept
        |  FROM p)
        |SELECT CASE WHEN kept = '' THEN path
        |  ELSE path || '?' || kept END AS canonical,
        |  count(*) AS n_dups, min(doc_id) AS keep_id
        |FROM k GROUP BY 1
        |ORDER BY canonical""".stripMargin,

    "llm_novelty" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), fd AS (SELECT sh, min(doc_id) AS first_doc FROM tri GROUP BY sh)
        |SELECT tri.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN first_doc = tri.doc_id THEN 1 ELSE 0 END)
        |       AS BIGINT) AS n_novel,
        |  CAST((sum(CASE WHEN first_doc = tri.doc_id THEN 1 ELSE 0 END)
        |        * 1000) // count(*) AS BIGINT) AS novelty_permille
        |FROM tri JOIN fd USING (sh)
        |GROUP BY tri.doc_id ORDER BY doc_id""".stripMargin,

    "llm_dedup_minhash" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), dfc AS (SELECT sh, count(DISTINCT doc_id) AS df
        |           FROM tri GROUP BY sh),
        |trif AS (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= $DfCap
        |), sz AS (SELECT doc_id, count(*) AS n_sh FROM trif GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM trif a JOIN trif b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b
        |FROM pair
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE n_inter * 2 >= sa.n_sh + sb.n_sh - n_inter
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_dedup_incremental" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), dfc AS (SELECT sh, count(DISTINCT doc_id) AS df
        |           FROM tri GROUP BY sh),
        |trif AS (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= $DfCap
        |), sz AS (SELECT doc_id, count(*) AS n_sh FROM trif GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS doc_new, b.doc_id AS doc_other,
        |    count(*) AS n_inter
        |  FROM trif a JOIN trif b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        |  WHERE a.doc_id % 10 = 0
        |  GROUP BY doc_new, doc_other)
        |SELECT doc_new, doc_other, CAST(n_inter AS BIGINT) AS n_inter,
        |  CAST(sa.n_sh + sb.n_sh - n_inter AS BIGINT) AS n_union
        |FROM pair
        |JOIN sz sa ON doc_new = sa.doc_id
        |JOIN sz sb ON doc_other = sb.doc_id
        |WHERE n_inter * 20 >= sa.n_sh + sb.n_sh - n_inter
        |ORDER BY doc_new, doc_other""".stripMargin,

    // identical-set truth via per-doc canonical digests — linear in
    // the corpus where the pair-join form is quadratic inside dup
    // families (it exhausted oracle-side disk one decade up)
    "llm_dedup_simhash" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tok2 AS (SELECT * FROM tok WHERE w <> ''),
        |dig AS (
        |  SELECT doc_id, md5(string_agg(w, ' ' ORDER BY w)) AS dg
        |  FROM tok2 GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM dig a JOIN dig b ON a.dg = b.dg AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_dedup_ngram" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), dfc AS (SELECT sh, count(DISTINCT doc_id) AS df
        |           FROM tri GROUP BY sh),
        |trif AS (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= $DfCap
        |), sz AS (SELECT doc_id, count(*) AS n_sh FROM trif GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM trif a JOIN trif b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, n_inter,
        |  sa.n_sh + sb.n_sh - n_inter AS n_union
        |FROM pair
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE n_inter * 20 >= sa.n_sh + sb.n_sh - n_inter
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_dedup_cross_source" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), dfc AS (SELECT sh, count(DISTINCT doc_id) AS df
        |           FROM tri GROUP BY sh),
        |trif AS (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= $DfCap
        |), sz AS (SELECT doc_id, count(*) AS n_sh FROM trif GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM trif a JOIN trif b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b),
        |cx AS (
        |  SELECT doc_a, doc_b,
        |    (n_inter * 1000) // (sa.n_sh + sb.n_sh - n_inter) AS j_pm
        |  FROM pair
        |  JOIN sz sa ON doc_a = sa.doc_id
        |  JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE n_inter * 20 >= sa.n_sh + sb.n_sh - n_inter),
        |lab AS (
        |  SELECT least(da.source, db.source) AS source_lo,
        |    greatest(da.source, db.source) AS source_hi, j_pm
        |  FROM cx
        |  JOIN documents da ON cx.doc_a = da.doc_id
        |  JOIN documents db ON cx.doc_b = db.doc_id)
        |SELECT source_lo, source_hi,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(CAST(sum(j_pm) AS HUGEINT) // count(*) AS BIGINT)
        |    AS avg_j_pm
        |FROM lab GROUP BY source_lo, source_hi
        |ORDER BY source_lo, source_hi""".stripMargin,

    "llm_dedup_eval" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents WHERE doc_id % 2 = 0
        |), tri AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), sz AS (SELECT doc_id, count(*) AS n_sh FROM tri GROUP BY doc_id),
        |pairu AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b),
        |truth AS (
        |  SELECT doc_a, doc_b FROM pairu
        |  JOIN sz sa ON doc_a = sa.doc_id
        |  JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE n_inter * 20 >= sa.n_sh + sb.n_sh - n_inter),
        |dfc AS (SELECT sh, count(DISTINCT doc_id) AS df
        |        FROM tri GROUP BY sh),
        |trif AS (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= 2),
        |szc AS (SELECT doc_id, count(*) AS n_sh FROM trif GROUP BY doc_id),
        |pairc AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM trif a JOIN trif b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b),
        |cnd AS (
        |  SELECT doc_a, doc_b FROM pairc
        |  JOIN szc sa ON doc_a = sa.doc_id
        |  JOIN szc sb ON doc_b = sb.doc_id
        |  WHERE n_inter * 20 >= sa.n_sh + sb.n_sh - n_inter),
        |j AS (
        |  SELECT tt.doc_a IS NOT NULL AS in_t, cc.doc_a IS NOT NULL AS in_c
        |  FROM truth tt FULL OUTER JOIN cnd cc
        |    ON tt.doc_a = cc.doc_a AND tt.doc_b = cc.doc_b)
        |SELECT
        |  CAST(sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) AS n_truth,
        |  CAST(sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
        |  CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS tp,
        |  CAST(sum(CASE WHEN in_c AND NOT in_t THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fp,
        |  CAST(sum(CASE WHEN in_t AND NOT in_c THEN 1 ELSE 0 END)
        |    AS BIGINT) AS fn,
        |  CASE WHEN sum(CASE WHEN in_c THEN 1 ELSE 0 END) > 0 THEN
        |    CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) * 1000 //
        |      sum(CASE WHEN in_c THEN 1 ELSE 0 END) AS BIGINT) END
        |    AS precision_permille,
        |  CASE WHEN sum(CASE WHEN in_t THEN 1 ELSE 0 END) > 0 THEN
        |    CAST(sum(CASE WHEN in_t AND in_c THEN 1 ELSE 0 END) * 1000 //
        |      sum(CASE WHEN in_t THEN 1 ELSE 0 END) AS BIGINT) END
        |    AS recall_permille
        |FROM j""".stripMargin,

    // Brute-force UNCAPPED inverted-index Jaccard join: an algorithm
    // the Spark side deliberately does NOT use — matching it proves
    // the prefix filter dropped no qualifying pair.
    "llm_dedup_prefix" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), sz AS (SELECT doc_id, count(*) AS n_sh FROM tri GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM tri a JOIN tri b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, CAST(n_inter AS BIGINT) AS n_inter,
        |  CAST(sa.n_sh + sb.n_sh - n_inter AS BIGINT) AS n_union
        |FROM pair
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE n_inter * 5 >= (sa.n_sh + sb.n_sh - n_inter) * 4
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_dedup_containment" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), dfc AS (SELECT sh, count(DISTINCT doc_id) AS df
        |           FROM tri GROUP BY sh),
        |trif AS (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= $DfCap
        |), sz AS (SELECT doc_id, count(*) AS n_sh FROM trif GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM trif a JOIN trif b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b)
        |SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  CAST((n_inter * 1000) // least(sa.n_sh, sb.n_sh) AS BIGINT)
        |    AS containment_permille,
        |  CASE WHEN sa.n_sh <= sb.n_sh THEN doc_a ELSE doc_b END
        |    AS contained
        |FROM pair
        |JOIN sz sa ON doc_a = sa.doc_id
        |JOIN sz sb ON doc_b = sb.doc_id
        |WHERE n_inter * 5 >= least(sa.n_sh, sb.n_sh) * 4
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_dedup_edit" ->
      s"""WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tri AS (
        |  SELECT DISTINCT a.doc_id,
        |    a.w || ' ' || b.w || ' ' || c.w AS sh
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2
        |), dfc AS (SELECT sh, count(DISTINCT doc_id) AS df
        |           FROM tri GROUP BY sh),
        |trif AS (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= $DfCap
        |), sz AS (SELECT doc_id, count(*) AS n_sh FROM trif GROUP BY doc_id),
        |pair AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM trif a JOIN trif b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b),
        |cand AS (
        |  SELECT doc_a, doc_b FROM pair
        |  JOIN sz sa ON doc_a = sa.doc_id
        |  JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE n_inter * 10 >= (sa.n_sh + sb.n_sh - n_inter) * 3)
        |SELECT doc_a, doc_b,
        |  CAST(levenshtein(a.text, b.text) AS INT) AS lev
        |FROM cand
        |JOIN documents a ON doc_a = a.doc_id
        |JOIN documents b ON doc_b = b.doc_id
        |WHERE levenshtein(a.text, b.text) * 2 <=
        |      greatest(a.n_chars, b.n_chars)
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_dedup_embed" ->
      """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,

    // Connected components via recursive transitive closure (closure
    // is tiny: only docs incident to a near-dup edge participate).
    // Both CC variants must produce this same closure.
    "llm_dedup_cluster" -> clusterClosureSql,
    "llm_cc_bigstar" -> clusterClosureSql,

    "llm_dedup_weight" -> (closureCtes +
      """,
        |asg AS (
        |  SELECT d.doc_id, coalesce(m.cl, d.doc_id) AS cluster_id
        |  FROM documents d
        |  LEFT JOIN (SELECT u, min(v) AS cl FROM reach GROUP BY u) m
        |    ON d.doc_id = m.u
        |), cs AS (
        |  SELECT cluster_id, count(*) AS csize
        |  FROM asg GROUP BY cluster_id)
        |SELECT asg.doc_id, CAST(asg.cluster_id AS BIGINT) AS cluster_id,
        |  CAST(csize AS BIGINT) AS cluster_size,
        |  CAST(1000000 // csize AS BIGINT) AS weight_ppm
        |FROM asg JOIN cs USING (cluster_id)
        |ORDER BY doc_id""".stripMargin),

    // llm_graph_bfs_recursive: SAME declared semantics, so the SAME
    // oracle text — DuckDB evaluates its own recursion over the edge
    // closure (the llm_cc_bigstar same-oracle precedent).
    "llm_graph_bfs_recursive" -> (pairCtesRecursive + ",\n" +
      """seeds AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 97 = 0),
        |rwalk(id, dist) AS (
        |  SELECT id, 0 FROM seeds
        |  UNION
        |  SELECT e.v, r.dist + 1 FROM rwalk r JOIN edge e ON e.u = r.id
        |  WHERE r.dist < 3)
        |SELECT id AS doc_id, CAST(min(dist) AS INT) AS dist
        |FROM rwalk GROUP BY id ORDER BY doc_id""".stripMargin),

    "llm_graph_bfs" -> (pairCtes + ",\n" +
      """seeds AS MATERIALIZED (
        |  SELECT doc_id AS id FROM documents WHERE doc_id % 97 = 0),
        |n1 AS MATERIALIZED (
        |  SELECT DISTINCT e.v AS id FROM edge e
        |  JOIN seeds s ON e.u = s.id
        |  WHERE e.v NOT IN (SELECT id FROM seeds)),
        |n2 AS MATERIALIZED (
        |  SELECT DISTINCT e.v AS id FROM edge e
        |  JOIN n1 ON e.u = n1.id
        |  WHERE e.v NOT IN (SELECT id FROM seeds)
        |    AND e.v NOT IN (SELECT id FROM n1)),
        |n3 AS (
        |  SELECT DISTINCT e.v AS id FROM edge e
        |  JOIN n2 ON e.u = n2.id
        |  WHERE e.v NOT IN (SELECT id FROM seeds)
        |    AND e.v NOT IN (SELECT id FROM n1)
        |    AND e.v NOT IN (SELECT id FROM n2))
        |SELECT id AS doc_id, dist FROM (
        |  SELECT id, 0 AS dist FROM seeds
        |  UNION ALL SELECT id, 1 FROM n1
        |  UNION ALL SELECT id, 2 FROM n2
        |  UNION ALL SELECT id, 3 FROM n3)
        |ORDER BY doc_id""".stripMargin),
    "llm_dedup_stats" -> (closureCtes +
      """,
        |asg AS (
        |  SELECT coalesce(m.cl, d.doc_id) AS cluster_id
        |  FROM documents d
        |  LEFT JOIN (SELECT u, min(v) AS cl FROM reach GROUP BY u) m
        |    ON d.doc_id = m.u
        |), cs AS (
        |  SELECT cluster_id, count(*) AS size FROM asg GROUP BY cluster_id)
        |SELECT size, count(*) AS n_clusters,
        |  CAST(size * count(*) AS BIGINT) AS n_docs,
        |  CAST((size - 1) * count(*) AS BIGINT) AS dup_docs
        |FROM cs GROUP BY size ORDER BY size""".stripMargin),
    "llm_dedup_keep" -> dedupKeepSql,
    "llm_pagerank" -> pagerankSql,

    // DuckDB computes the closure with its own WITH RECURSIVE
    // (UNION-deduped) — an independent algorithm from the Spark
    // side's path-doubling, so agreement is evidence, not echo.
    "llm_graph_scc" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id,
        |    event_type || '/' ||
        |      CAST(abs(CAST(round(value * 100) AS BIGINT)) % 8
        |        AS VARCHAR) AS node
        |  FROM events),
        |ev2 AS (SELECT * FROM ev WHERE node IS NOT NULL),
        |tr AS (
        |  SELECT lag(node) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS src,
        |    node AS dst
        |  FROM ev2),
        |cnt AS (SELECT src, dst, count(*) AS n FROM tr
        |        WHERE src IS NOT NULL GROUP BY src, dst),
        |kept AS (SELECT src, dst FROM cnt
        |         WHERE n * 1000 > (SELECT sum(n) FROM cnt)),
        |reach2 AS (
        |  SELECT src, dst FROM kept
        |  UNION
        |  SELECT r.src, k.dst FROM reach2 r JOIN kept k ON k.src = r.dst),
        |mutual AS (
        |  SELECT r1.src AS peer, r1.dst AS node FROM reach2 r1
        |  JOIN reach2 r2 ON r2.src = r1.dst AND r2.dst = r1.src),
        |scc AS (
        |  SELECT n.node,
        |    least(n.node, coalesce(min(m.peer), n.node)) AS scc_id
        |  FROM (SELECT DISTINCT node FROM ev2) n
        |  LEFT JOIN mutual m ON m.node = n.node
        |  GROUP BY n.node)
        |SELECT node, scc_id,
        |  CAST(count(*) OVER (PARTITION BY scc_id) AS BIGINT)
        |    AS scc_size
        |FROM scc ORDER BY node""".stripMargin,

    "llm_graph_closeness" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, event_id,
        |    event_type || '/' ||
        |      CAST(abs(CAST(round(value * 100) AS BIGINT)) % 8
        |        AS VARCHAR) AS node
        |  FROM events),
        |ev2 AS (SELECT * FROM ev WHERE node IS NOT NULL),
        |tr AS (
        |  SELECT lag(node) OVER (PARTITION BY user_id ORDER BY event_id)
        |      AS src,
        |    node AS dst
        |  FROM ev2),
        |cnt AS (SELECT src, dst, count(*) AS n FROM tr
        |        WHERE src IS NOT NULL GROUP BY src, dst),
        |kept AS (SELECT src, dst FROM cnt
        |         WHERE n * 1000 > (SELECT sum(n) FROM cnt)),
        |paths AS (
        |  SELECT src, dst, 1 AS d FROM kept
        |  UNION
        |  SELECT p.src, k.dst, p.d + 1 FROM paths p
        |  JOIN kept k ON k.src = p.dst WHERE p.d < 40),
        |best AS (
        |  SELECT src, dst, min(d) AS d FROM paths
        |  WHERE src <> dst GROUP BY src, dst),
        |r AS (
        |  SELECT src AS node, count(*) AS n_reachable,
        |    sum(d) AS sum_dist
        |  FROM best GROUP BY src)
        |SELECT n.node,
        |  CAST(coalesce(r.n_reachable, 0) AS BIGINT) AS n_reachable,
        |  CAST(coalesce(r.sum_dist, 0) AS BIGINT) AS sum_dist,
        |  CAST(CASE WHEN coalesce(r.sum_dist, 0) = 0 THEN NULL ELSE
        |    (1000000 * r.n_reachable) // r.sum_dist END AS BIGINT)
        |    AS closeness_ppm
        |FROM (SELECT DISTINCT node FROM ev2) n
        |LEFT JOIN r ON r.node = n.node
        |ORDER BY n.node""".stripMargin,

    // 3 unrolled LPA rounds — the same deterministic
    // (count desc, label asc) vote, written independently.
    "llm_communities" -> (pairCtes + ",\n" +
      """l0 AS (SELECT doc_id AS id, doc_id AS lbl FROM documents),
        |v1 AS (SELECT e.u AS id, l.lbl, count(*) AS n
        |       FROM edge e JOIN l0 l ON l.id = e.v GROUP BY 1, 2),
        |b1 AS (SELECT id, lbl FROM (
        |         SELECT id, lbl, row_number() OVER
        |           (PARTITION BY id ORDER BY n DESC, lbl ASC) AS rk
        |         FROM v1) WHERE rk = 1),
        |l1 AS (SELECT d.doc_id AS id, coalesce(b1.lbl, d.doc_id) AS lbl
        |       FROM documents d LEFT JOIN b1 ON d.doc_id = b1.id),
        |v2 AS (SELECT e.u AS id, l.lbl, count(*) AS n
        |       FROM edge e JOIN l1 l ON l.id = e.v GROUP BY 1, 2),
        |b2 AS (SELECT id, lbl FROM (
        |         SELECT id, lbl, row_number() OVER
        |           (PARTITION BY id ORDER BY n DESC, lbl ASC) AS rk
        |         FROM v2) WHERE rk = 1),
        |l2 AS (SELECT d.doc_id AS id, coalesce(b2.lbl, d.doc_id) AS lbl
        |       FROM documents d LEFT JOIN b2 ON d.doc_id = b2.id),
        |v3 AS (SELECT e.u AS id, l.lbl, count(*) AS n
        |       FROM edge e JOIN l2 l ON l.id = e.v GROUP BY 1, 2),
        |b3 AS (SELECT id, lbl FROM (
        |         SELECT id, lbl, row_number() OVER
        |           (PARTITION BY id ORDER BY n DESC, lbl ASC) AS rk
        |         FROM v3) WHERE rk = 1)
        |SELECT d.doc_id, CAST(coalesce(b3.lbl, d.doc_id) AS BIGINT)
        |  AS community
        |FROM documents d LEFT JOIN b3 ON d.doc_id = b3.id
        |ORDER BY doc_id""".stripMargin),

    "llm_graph_kcore" -> (pairCtes + ",\n" +
      """s1 AS (SELECT u FROM edge GROUP BY u HAVING count(*) >= 2),
        |e1 AS MATERIALIZED (SELECT e.u, e.v FROM edge e
        |       JOIN s1 a ON e.u = a.u JOIN s1 b ON e.v = b.u),
        |s2 AS (SELECT u FROM e1 GROUP BY u HAVING count(*) >= 2),
        |e2 AS MATERIALIZED (SELECT e.u, e.v FROM e1 e
        |       JOIN s2 a ON e.u = a.u JOIN s2 b ON e.v = b.u),
        |s3 AS (SELECT u FROM e2 GROUP BY u HAVING count(*) >= 2),
        |e3 AS MATERIALIZED (SELECT e.u, e.v FROM e2 e
        |       JOIN s3 a ON e.u = a.u JOIN s3 b ON e.v = b.u),
        |dg AS (SELECT u, count(*) AS core_degree FROM e3 GROUP BY u)
        |SELECT d.doc_id,
        |  CAST(coalesce(dg.core_degree, 0) AS BIGINT) AS core_degree,
        |  dg.u IS NOT NULL AS in_core2
        |FROM documents d LEFT JOIN dg ON d.doc_id = dg.u
        |ORDER BY doc_id""".stripMargin),

    "llm_graph_degree" -> (pairCtes + ",\n" +
      """dg AS (SELECT id, count(*) AS degree FROM (
        |          SELECT doc_a AS id FROM cand
        |          UNION ALL SELECT doc_b FROM cand)
        |        GROUP BY id)
        |SELECT CAST(coalesce(dg.degree, 0) AS BIGINT) AS degree,
        |  CAST(count(*) AS BIGINT) AS n_nodes
        |FROM documents d LEFT JOIN dg ON d.doc_id = dg.id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    "llm_graph_assort" -> (pairCtes + ",\n" +
      """adeg AS (
        |  SELECT id, count(*) AS d FROM (
        |    SELECT doc_a AS id FROM cand
        |    UNION ALL SELECT doc_b FROM cand) GROUP BY id),
        |am AS (
        |  SELECT count(*) AS n_edges,
        |    sum(CAST(da.d AS HUGEINT)) AS sx,
        |    sum(CAST(db.d AS HUGEINT)) AS sy,
        |    sum(CAST(da.d AS HUGEINT) * da.d) AS sxx,
        |    sum(CAST(da.d AS HUGEINT) * db.d) AS sxy
        |  FROM edge e
        |  JOIN adeg da ON e.u = da.id
        |  JOIN adeg db ON e.v = db.id)
        |SELECT n_edges, CAST(sx AS BIGINT) AS sum_deg,
        |  CASE WHEN n_edges * sxx - sx * sx = 0 THEN NULL
        |    ELSE CAST(((n_edges * sxy - sx * sy) * 1000)
        |      // (n_edges * sxx - sx * sx) AS BIGINT) END
        |    AS assort_slope_milli
        |FROM am""".stripMargin),

    "llm_graph_2hop" -> (pairCtes + ",\n" +
      """hop2 AS (
        |  SELECT DISTINCT e1.u, e2.v AS w2
        |  FROM edge e1 JOIN edge e2 ON e1.v = e2.u
        |  WHERE e2.v <> e1.u),
        |strict2 AS (
        |  SELECT h.u, h.w2 FROM hop2 h
        |  LEFT JOIN edge d ON d.u = h.u AND d.v = h.w2
        |  WHERE d.u IS NULL),
        |n2 AS (SELECT u, count(*) AS n_2hop FROM strict2 GROUP BY u)
        |SELECT doc_id, CAST(coalesce(n_2hop, 0) AS BIGINT) AS n_2hop
        |FROM documents LEFT JOIN n2 ON doc_id = n2.u
        |ORDER BY doc_id""".stripMargin),

    "llm_graph_jaccard" -> (pairCtes + ",\n" +
      """wedge AS (
        |  SELECT e1.v AS a, e2.v AS b
        |  FROM edge e1 JOIN edge e2 ON e1.u = e2.u AND e1.v < e2.v),
        |cn AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common
        |       FROM wedge GROUP BY a, b),
        |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d
        |        FROM edge GROUP BY u)
        |SELECT cn.a AS doc_a, cn.b AS doc_b, n_common,
        |  CAST((n_common * 1000) // (da.d + db.d - n_common)
        |    AS BIGINT) AS jac_pm
        |FROM cn JOIN deg da ON cn.a = da.u JOIN deg db ON cn.b = db.u
        |ORDER BY jac_pm DESC, n_common DESC, doc_a, doc_b
        |LIMIT 30""".stripMargin),

    "llm_crosslingual_leakage" ->
      """WITH g AS (
        |  SELECT array_to_string(
        |      list_slice(string_split(text, ' '), 1, 5), ' ') AS pfx,
        |    lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1, 2)
        |SELECT a.lang AS lang_a, b.lang AS lang_b,
        |  CAST(count(*) AS BIGINT) AS n_shared_prefixes,
        |  CAST(sum(a.n * b.n) AS BIGINT) AS n_doc_pairs
        |FROM g a JOIN g b ON a.pfx = b.pfx AND a.lang < b.lang
        |GROUP BY lang_a, lang_b ORDER BY lang_a, lang_b""".stripMargin,

    "llm_template_prefix" -> (closureCtes + ",\n" +
      """asg AS (
        |  SELECT d.doc_id, d.text, coalesce(m.cl, d.doc_id) AS cluster_id
        |  FROM documents d
        |  LEFT JOIN (SELECT u, min(v) AS cl FROM reach GROUP BY u) m
        |    ON d.doc_id = m.u),
        |cl AS (
        |  SELECT cluster_id, count(*) AS n_members,
        |    min(text) AS tmin, max(text) AS tmax
        |  FROM asg GROUP BY cluster_id HAVING count(*) >= 2),
        |lc AS (
        |  SELECT cluster_id, n_members, tmin, tmax,
        |    least(least(length(tmin), length(tmax)), 64) AS m
        |  FROM cl),
        |lp AS (
        |  SELECT cluster_id, n_members, tmin,
        |    CAST(len(list_filter(range(1, m + 1),
        |      i -> substr(tmin, 1, i) = substr(tmax, 1, i))) AS BIGINT)
        |      AS lcp_len
        |  FROM lc)
        |SELECT CAST(cluster_id AS BIGINT) AS cluster_id, n_members,
        |  lcp_len, substr(tmin, 1, CAST(lcp_len AS INT))
        |    AS template_prefix
        |FROM lp ORDER BY cluster_id""".stripMargin),

    "llm_graph_clustcoef" -> (pairCtes + ",\n" +
      """ce AS (SELECT doc_a AS a, doc_b AS b FROM cand),
        |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM (
        |         SELECT doc_a AS id FROM cand
        |         UNION ALL SELECT doc_b FROM cand) GROUP BY id),
        |tr3 AS (SELECT ab.a AS a, ab.b AS b, bc.b AS c
        |        FROM ce ab JOIN ce bc ON ab.b = bc.a
        |        JOIN ce ac ON ac.a = ab.a AND ac.b = bc.b),
        |tpn AS (SELECT id, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |          SELECT a AS id FROM tr3 UNION ALL SELECT b FROM tr3
        |          UNION ALL SELECT c FROM tr3) GROUP BY id)
        |SELECT d.doc_id,
        |  coalesce(dg.degree, 0) AS degree,
        |  coalesce(tpn.n_tri, 0) AS n_tri,
        |  CASE WHEN coalesce(dg.degree, 0) >= 2 THEN
        |    CAST((CAST(coalesce(tpn.n_tri, 0) AS HUGEINT) * 2000000)
        |      // (CAST(dg.degree AS HUGEINT) * (dg.degree - 1)) AS BIGINT)
        |  END AS clust_ppm
        |FROM documents d
        |LEFT JOIN dg ON d.doc_id = dg.id
        |LEFT JOIN tpn ON d.doc_id = tpn.id
        |ORDER BY d.doc_id""".stripMargin),

    "llm_triangles" -> (pairCtes + ",\n" +
      """ce AS (SELECT doc_a AS a, doc_b AS b FROM cand),
        |tcount AS (SELECT count(*) AS n_triangles
        |        FROM ce ab
        |        JOIN ce bc ON ab.b = bc.a
        |        JOIN ce ac ON ac.a = ab.a AND ac.b = bc.b),
        |wed AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT)
        |          AS n_wedges
        |        FROM (SELECT id, count(*) AS deg FROM (
        |                SELECT doc_a AS id FROM cand
        |                UNION ALL SELECT doc_b FROM cand)
        |              GROUP BY id))
        |SELECT n_triangles, n_wedges,
        |  CAST(CASE WHEN n_wedges > 0
        |       THEN (n_triangles * 3000) // n_wedges ELSE 0 END AS BIGINT)
        |    AS closure_permille
        |FROM tcount, wed""".stripMargin),

    "llm_graph_linkpred" ->
      """WITH lt AS (SELECT doc_id, string_split(text, ' ') AS toks
        |            FROM documents),
        |lc AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(toks[(i*10+1):((i+1)*10)], ' ') AS chunk
        |  FROM lt, unnest(range(0, (len(toks)+9)//10)) AS u(i)),
        |lcdf AS (SELECT chunk FROM lc GROUP BY chunk
        |         HAVING count(*) <= 64),
        |lcf AS (SELECT lc.doc_id, lc.chunk
        |        FROM lc JOIN lcdf ON lc.chunk = lcdf.chunk),
        |lpair AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM lcf a JOIN lcf b
        |    ON a.chunk = b.chunk AND a.doc_id < b.doc_id),
        |ledge AS (SELECT doc_a AS u, doc_b AS v FROM lpair
        |          UNION SELECT doc_b, doc_a FROM lpair),
        |lsdeg AS (SELECT u, count(*) AS d FROM ledge GROUP BY u),
        |lserv AS (
        |  SELECT e.u AS w, e.v AS nbr
        |  FROM ledge e JOIN lsdeg ON e.u = lsdeg.u
        |  WHERE lsdeg.d <= 64),
        |lcnb AS (
        |  SELECT a.nbr AS doc_a, b.nbr AS doc_b, count(*) AS n_common
        |  FROM lserv a JOIN lserv b
        |    ON a.w = b.w AND a.nbr < b.nbr
        |  GROUP BY doc_a, doc_b)
        |SELECT lcnb.doc_a, lcnb.doc_b,
        |  CAST(n_common AS BIGINT) AS n_common
        |FROM lcnb
        |LEFT JOIN lpair ON lcnb.doc_a = lpair.doc_a
        |  AND lcnb.doc_b = lpair.doc_b
        |WHERE lpair.doc_a IS NULL
        |ORDER BY n_common DESC, lcnb.doc_a, lcnb.doc_b
        |LIMIT 20""".stripMargin,

    "llm_dedup_paragraph" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, i AS chunk_idx,
        |        array_to_string(toks[(i*10+1):((i+1)*10)], ' ') AS chunk
        |      FROM t, unnest(range(0, (len(toks)+9)//10)) AS u(i)),
        |k AS (SELECT *, row_number() OVER (
        |        PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        |      FROM c)
        |SELECT doc_id,
        |  count(*) AS n_chunks,
        |  CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept,
        |  coalesce(string_agg(chunk, ' ' ORDER BY chunk_idx)
        |    FILTER (WHERE rn = 1), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_dedup_substr" ->
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS n FROM documents
        |  WHERE length(text) >= 64
        |), w AS (
        |  SELECT doc_id,
        |    md5(substr(text, CAST(p * 32 + 1 AS INT), 64)) AS wh
        |  FROM d, unnest(range(0, (n - 64) // 32 + 1)) AS t(p))
        |SELECT wh, count(DISTINCT doc_id) AS n_docs,
        |  count(*) AS n_occ, min(doc_id) AS first_doc
        |FROM w GROUP BY wh
        |HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY wh""".stripMargin,

    "llm_lsh_tune" -> {
      val arms = (
        (0 to 7).map(i =>
          s"SELECT doc_id, '8x1' AS config, $i AS band, h$i AS bkey " +
            "FROM sig") ++
        (0 to 3).map(i =>
          s"SELECT doc_id, '4x2', $i, h${2 * i} || h${2 * i + 1} " +
            "FROM sig") ++
        (0 to 1).map(i =>
          s"SELECT doc_id, '2x4', $i, h${4 * i} || h${4 * i + 1} || " +
            s"h${4 * i + 2} || h${4 * i + 3} FROM sig") ++
        Seq("SELECT doc_id, '1x8', 0, " +
          "h0 || h1 || h2 || h3 || h4 || h5 || h6 || h7 FROM sig")
      ).mkString("\n  UNION ALL\n  ")
      // Memory-elastic rendering (VERDICT r10 task 5): shingles are
      // generated IN-ROW (list_transform over the token list — the
      // same narrow generate the Spark side runs) instead of a 3-way
      // positional self-join of the exploded token table, and the 8
      // per-seed minhashes are 8 min() columns in ONE pass over the
      // df-capped shingles instead of an 8x seed-explode — the two
      // changes drop the oracle's peak from ~100 GB (sf1 in-memory;
      // spilled past the 40 GiB temp cap under the shared 60 GB
      // chunk budget) to chunk-safe. Same strings, same mins — the
      // result is hash-identical to the join rendering.
      val hsel = (0 to 7).map(i =>
        s"min(md5('$i:' || sh)) AS h$i").mkString(",\n    ")
      s"""WITH tri AS (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(ws) - 1),
        |        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
        |        AS sh
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |          FROM documents)
        |  )
        |), dfc AS (SELECT sh, count(DISTINCT doc_id) AS df
        |           FROM tri GROUP BY sh),
        |trif AS (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= $DfCap
        |), sig AS (
        |  SELECT doc_id,
        |    $hsel
        |  FROM trif GROUP BY doc_id
        |), bk AS (
        |  $arms
        |), b AS (
        |  SELECT config, band, bkey, count(*) AS m
        |  FROM bk GROUP BY config, band, bkey)
        |SELECT config, CAST(count(*) AS BIGINT) AS n_buckets,
        |  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_collision_buckets,
        |  CAST(max(m) AS BIGINT) AS max_bucket,
        |  CAST(sum(m * (m - 1) // 2) AS BIGINT) AS probe_pairs
        |FROM b GROUP BY config ORDER BY config""".stripMargin
    },

    "llm_dedup_bias" ->
      """WITH d AS (
        |  SELECT doc_id, n_chars // 100 AS bucket, md5(text) AS h
        |  FROM documents),
        |keep AS (SELECT h, min(doc_id) AS doc_id FROM d GROUP BY h),
        |bf AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_before
        |       FROM d GROUP BY bucket),
        |af AS (
        |  SELECT d.bucket, CAST(count(*) AS BIGINT) AS n_after
        |  FROM d JOIN keep ON d.h = keep.h AND d.doc_id = keep.doc_id
        |  GROUP BY d.bucket),
        |j AS (
        |  SELECT bf.bucket, bf.n_before,
        |    coalesce(af.n_after, 0) AS n_after
        |  FROM bf LEFT JOIN af ON bf.bucket = af.bucket)
        |SELECT bucket, n_before, n_after,
        |  CAST(((n_before - n_after) * 1000) // n_before AS BIGINT)
        |    AS drop_pm,
        |  CAST((CAST(n_before AS HUGEINT) * 1000) //
        |    CAST(sum(n_before) OVER () AS HUGEINT) AS BIGINT)
        |    AS share_before_pm,
        |  CAST(CASE WHEN sum(n_after) OVER () > 0 THEN
        |    (CAST(n_after AS HUGEINT) * 1000) //
        |      CAST(sum(n_after) OVER () AS HUGEINT) END AS BIGINT)
        |    AS share_after_pm,
        |  CAST(CASE WHEN sum(n_after) OVER () > 0 THEN
        |    (CAST(n_after AS HUGEINT) * 1000) //
        |      CAST(sum(n_after) OVER () AS HUGEINT) END AS BIGINT)
        |  - CAST((CAST(n_before AS HUGEINT) * 1000) //
        |      CAST(sum(n_before) OVER () AS HUGEINT) AS BIGINT)
        |    AS drift_pm
        |FROM j ORDER BY bucket""".stripMargin
  )

  /** The recursive-closure CTE chain shared by the cluster-labeling
    * oracles: 3-gram shingles → J≥0.05 candidate pairs → symmetric
    * edges → transitive reachability. */
  // `tri` generates shingles IN-ROW (list_transform over the token
  // list — the same narrow generate the Spark side runs) rather than
  // 3-way positional self-joining an exploded token table: the whole
  // closure family's oracles inherit the lower peak (the llm_lsh_tune
  // rewrite, VERDICT r10 task 5, applied at the shared base). The
  // name `t` stays RESERVED for appended CTEs (see the gotcha list).
  //
  // Every base CTE is AS MATERIALIZED (round 12): oracles in this
  // family chain further CTEs on top of `edge` (BFS frontiers, k-core
  // peels), and the oracle engine's default CTE inlining re-evaluates
  // each referenced CTE per reference — a depth-k chain re-derives
  // the shingle pair frame O(2^k) times, which is what actually blew
  // the 40 GiB temp budget on the bfs/kcore oracles (measured round
  // 12: kcore >62 GiB spilled inlined vs 7 s materialized on the SAME
  // corpus). MATERIALIZED is an evaluation hint, not a semantic
  // change: each CTE is computed once and reused.
  private val pairCtesBody =
      s"""tri AS MATERIALIZED (
        |  SELECT DISTINCT doc_id, sh FROM (
        |    SELECT doc_id,
        |      unnest(list_transform(range(1, len(ws) - 1),
        |        i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]))
        |        AS sh
        |    FROM (SELECT doc_id, string_split(text, ' ') AS ws
        |          FROM documents)
        |  )
        |), dfc AS MATERIALIZED (SELECT sh, count(DISTINCT doc_id) AS df
        |           FROM tri GROUP BY sh),
        |trif AS MATERIALIZED (
        |  SELECT tri.doc_id, tri.sh FROM tri JOIN dfc USING (sh)
        |  WHERE df <= $DfCap
        |), sz AS MATERIALIZED (
        |  SELECT doc_id, count(*) AS n_sh FROM trif GROUP BY doc_id),
        |pair AS MATERIALIZED (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
        |  FROM trif a JOIN trif b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |  GROUP BY doc_a, doc_b),
        |cand AS MATERIALIZED (
        |  SELECT doc_a, doc_b FROM pair
        |  JOIN sz sa ON doc_a = sa.doc_id
        |  JOIN sz sb ON doc_b = sb.doc_id
        |  WHERE n_inter * 20 >= sa.n_sh + sb.n_sh - n_inter),
        |edge AS MATERIALIZED (
        |  SELECT doc_a AS u, doc_b AS v FROM cand
        |  UNION
        |  SELECT doc_b, doc_a FROM cand)""".stripMargin

  /** The shingle→pair→edge base WITHOUT the transitive closure: for
    * the graph oracles that never reference `reach`. Carrying an
    * (enormous) recursive CTE a query does not use leaves pruning at
    * the oracle engine's mercy — keeping it out is what lets the
    * bfs/kcore oracles fit their budget at sf0.3. */
  private val pairCtes = "WITH " + pairCtesBody

  /** [[pairCtes]] under `WITH RECURSIVE` — for oracles that append
    * their OWN recursive CTE (llm_graph_bfs_recursive's rwalk)
    * without wanting the transitive closure. */
  private val pairCtesRecursive = "WITH RECURSIVE " + pairCtesBody

  private val closureCtes =
    "WITH RECURSIVE " + pairCtesBody + s""",
        |reach(u, v) AS (
        |  SELECT u, u FROM edge
        |  UNION
        |  SELECT e.u, r.v FROM edge e JOIN reach r ON r.u = e.v)""".stripMargin

  private val clusterClosureSql = closureCtes + "\n" +
      """SELECT d.doc_id, coalesce(m.cl, d.doc_id) AS cluster_id
        |FROM documents d
        |LEFT JOIN (SELECT u, min(v) AS cl FROM reach GROUP BY u) m
        |  ON d.doc_id = m.u
        |ORDER BY d.doc_id""".stripMargin

  /** Unrolled 3-iteration integer PageRank over the `edge` CTE —
    * mirrors llm_pagerank's integer arithmetic step for step. */
  private val pagerankSql: String = {
    val iters = (1 to 3).foldLeft("p0" -> Seq(
      "deg AS (SELECT u, count(*) AS d FROM edge GROUP BY u)",
      "n AS (SELECT doc_id FROM documents)",
      "p0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS pr FROM n)")) {
      case ((prev, ctes), i) =>
        val cte =
          s"""p$i AS (
             |  SELECT n.doc_id,
             |    CAST(150000 + (850 * coalesce(s.c, 0)) // 1000 AS BIGINT)
             |      AS pr
             |  FROM n LEFT JOIN (
             |    SELECT e.v AS doc_id, sum(p.pr // deg.d) AS c
             |    FROM edge e
             |    JOIN $prev p ON e.u = p.doc_id
             |    JOIN deg ON deg.u = e.u
             |    GROUP BY e.v) s ON n.doc_id = s.doc_id)""".stripMargin
        s"p$i" -> (ctes :+ cte)
    }
    pairCtes + ",\n" + iters._2.mkString(",\n") + "\n" +
      s"SELECT doc_id, pr FROM ${iters._1} ORDER BY doc_id"
  }

  private val dedupKeepSql = closureCtes + ",\n" +
      """labels AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(len(string_split(d.text, ' ')) AS INT) AS n_tok,
        |    coalesce(m.cl, d.doc_id) AS cluster_id
        |  FROM documents d
        |  LEFT JOIN (SELECT u, min(v) AS cl FROM reach GROUP BY u) m
        |    ON d.doc_id = m.u)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN cluster_id = doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN cluster_id <> doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_removed,
        |  CAST(sum(CASE WHEN cluster_id = doc_id THEN n_tok ELSE 0 END)
        |    AS BIGINT) AS kept_tokens
        |FROM labels GROUP BY lang ORDER BY lang""".stripMargin
}
