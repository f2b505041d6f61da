package graft.ops

import graft.{SessionMemo, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-statistics operators for training-data curation: Zipf-law
  * fit, Heaps/hapax vocabulary growth, a linear quality classifier,
  * skip-gram co-occurrence counting, and deterministic Poisson
  * bootstrap resampling. (Downstream analyses of the text corpora the
  * reference's CDC stream lands — SURVEY.md §2.2 LLM family.)
  *
  * Determinism: everything is integer fixed-point. The only
  * logarithms are floor-log2 via `length(bin(n)) - 1` — pure integer
  * bit math, zero float risk (`log2()` doubles would flip floor at
  * ulp boundaries). Random draws are md5 coins (engine-identical hex,
  * SKILL-pinned `conv`/`'0x'||` equivalence).
  *
  * Scale: token explosion is the declared linear pass every corpus op
  * pays once; per-lang tops are WindowGroupLimit-pushed (never a full
  * ranked materialization); every moment product that could pass 2^63
  * at 100 TB rides DECIMAL(38,0)/HUGEINT.
  */
object CorpusOps extends OpPack {

  /** (lang, w) token stream — empty tokens dropped. */
  private def langToks(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Tables(s, dir, "documents")
      .withColumn("w", explode(split(col("text"), " ")))
      .filter(col("w") =!= "")
      .select(col("lang"), col("w"))

  /** llm_source_overlap's distinct (source, trigram) projection,
    * persisted via a shared helper (optimization r12): the query
    * reads it three times (sizes + both join legs), and building it
    * inline in the closure re-derived the corpus gram explode per
    * leg. The frame is bounded by |sources| × distinct grams — far
    * smaller than the token stream — and the helper shape lets
    * CacheManager substitute the one cached plan into every equal
    * subplan. */
  private def sourceGrams(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    SessionMemo(s, ("corpus.sourceGrams", dir))(
      Tables(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .select(col("source"),
          explode(array_distinct(expr(Grams.spark(3)))).as("g"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  def queries: Map[String, Q] = Map(
    // Self-BLEU-style corpus diversity (the generation-diversity
    // metric, made exact and linear): per document, the share of its
    // DISTINCT bigrams that also occur in at least one OTHER document
    // (document frequency ≥ 2 — presence-clipped matching, the
    // modified-precision rule of BLEU restricted to distinct grams,
    // declared). HIGH permille ⇒ the doc re-treads corpus phrasing
    // (mode collapse / template spam); LOW ⇒ novel text. The naive
    // form is doc×corpus pairwise; this rides the df frame instead —
    // one bigram-keyed hash agg, one co-partitioned join back on the
    // identical gram key, one doc_id rollup: linear in corpus size at
    // 100 TB, the llm_novelty plan shape exactly (novelty asks "was I
    // first", self-BLEU asks "is anyone else saying this").
    "llm_self_bleu" -> ((s, dir) => {
      val bg = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        // the SKILL sequence(1, n<1) guard: docs under 2 tokens have
        // no bigram and drop (mirrored by the oracle's empty range())
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(array_distinct(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> concat(toks[i - 1], ' ', toks[i]))"))).as("bg"))
      val df = bg.groupBy(col("bg")).agg(count(lit(1)).as("df"))
      bg.join(df, "bg")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_bigrams"), col("n_shared"),
          expr("(n_shared * 1000) div n_bigrams").as("self_bleu_pm"))
        .orderBy(col("doc_id"))
    }),

    // Zipf's-law fit per language: OLS slope of floor-log2(freq) on
    // floor-log2(rank) over the top-256 terms — the "is this corpus
    // naturally distributed or template spam" dial (natural text ≈
    // −1000 milli; a flat slope means boilerplate). Rank via ONE
    // per-lang window that gets the WindowGroupLimit pushdown (top-256
    // per lang, never a full ranked vocab), then a 5-moment hash agg;
    // the closed-form slope division is integer, zero-variance langs
    // NULL through the CASE.
    "llm_zipf" -> ((s, dir) => {
      val cnt = langToks(s, dir)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
      val rn = row_number().over(
        Window.partitionBy(col("lang")).orderBy(desc("n"), asc("w")))
      cnt.withColumn("rank", rn).filter(col("rank") <= 256)
        .withColumn("x", (length(expr("bin(rank)")) - 1).cast("long"))
        .withColumn("y", (length(expr("bin(n)")) - 1).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_terms"),
          expr("sum(CAST(x AS DECIMAL(38,0)))").as("sx"),
          expr("sum(CAST(y AS DECIMAL(38,0)))").as("sy"),
          expr("sum(CAST(x * x AS DECIMAL(38,0)))").as("sxx"),
          expr("sum(CAST(x * y AS DECIMAL(38,0)))").as("sxy"))
        .select(col("lang"), col("n_terms"),
          expr("CASE WHEN n_terms * sxx - sx * sx = 0 THEN NULL " +
            "ELSE CAST(((n_terms * sxy - sx * sy) * 1000) " +
            "div (n_terms * sxx - sx * sx) AS BIGINT) END")
            .as("zipf_slope_milli"))
        .orderBy(col("lang"))
    }),

    // Vocabulary-growth profile per language: token mass N, vocab V,
    // hapax legomena (freq-1 terms — the OCR-noise/typo dial), and the
    // Heaps'-law index V²·100 div N (V ≈ K·√N for natural text, so
    // V²/N ≈ K² is scale-free — comparable across corpus sizes where
    // raw V is not). One (lang, w) hash agg + one bounded lang rollup,
    // both map-side combined.
    "llm_hapax_heaps" -> ((s, dir) => {
      langToks(s, dir)
        .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("n"))
        .groupBy(col("lang"))
        .agg(expr("CAST(sum(n) AS BIGINT)").as("n_tokens"),
          count(lit(1)).as("vocab"),
          expr("CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)")
            .as("n_hapax"))
        .withColumn("hapax_ppm",
          expr("CAST((CAST(n_hapax AS DECIMAL(38,0)) * 1000000) " +
            "div vocab AS BIGINT)"))
        .withColumn("heaps_x100",
          expr("CAST((CAST(vocab AS DECIMAL(38,0)) * vocab * 100) " +
            "div n_tokens AS BIGINT)"))
        .orderBy(col("lang"))
    }),

    // Linear quality classifier with public integer weights (the
    // fasttext-style quality gate, integer-exact so it oracles):
    // score = 15·min(tokens,100) + 4·stopword‰ + 2·distinct‰ −
    // 5·digit‰ − 2500; keep on score ≥ 0. Every feature is a narrow
    // array/regex expression — the whole classifier is a scan-speed
    // codegen'd map, no shuffle before the ordered output.
    "llm_quality_logit" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("arr", split(col("text"), " "))
        .withColumn("nt", size(col("arr")).cast("long"))
        .withColumn("stop_pm",
          expr("CAST(size(filter(arr, x -> array_contains(" +
            "array('the','a','of','and','to','in','is','it'), x))) " +
            "AS BIGINT) * 1000 div nt"))
        .withColumn("uniq_pm",
          expr("CAST(size(array_distinct(arr)) AS BIGINT) * 1000 div nt"))
        .withColumn("digit_pm",
          expr("CAST(size(regexp_extract_all(text, '[0-9]', 0)) " +
            "AS BIGINT) * 1000 div n_chars"))
        .withColumn("score_milli",
          expr("15 * least(nt, 100) + 4 * stop_pm + 2 * uniq_pm " +
            "- 5 * digit_pm - 2500"))
        .select(col("doc_id"), col("nt"), col("stop_pm"), col("uniq_pm"),
          col("digit_pm"), col("score_milli"),
          (col("score_milli") >= 0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // Skip-gram co-occurrence: unordered within-±2-token window pairs
    // (the word2vec/GloVe counting pass; llm_pmi holds the adjacent
    // form). Two offset legs explode from the SAME scan (union, then
    // one hash agg); pairs canonicalized (least, greatest); top-20
    // via TakeOrderedAndProject with (count desc, pair asc)
    // tie-break — never a global sort.
    "llm_skipgram" -> ((s, dir) => {
      val t = Tables(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
      def leg(k: Int) = t.filter(size(col("toks")) >= k + 1)
        .select(explode(expr(s"transform(sequence(0, size(toks)-1-$k), " +
          s"i -> struct(toks[i] AS wa, toks[i+$k] AS wb))")).as("p"))
        .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      leg(1).union(leg(2))
        .filter(col("wa") =!= "" && col("wb") =!= "")
        .select(least(col("wa"), col("wb")).as("w1"),
          greatest(col("wa"), col("wb")).as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("w1"), asc("w2"))
        .limit(20)
    }),

    // Cross-source corpus overlap: Jaccard similarity between the
    // distinct word-trigram sets of every source pair — the "which
    // feeds are republishing each other" map drawn BEFORE corpus
    // mixing (a source-level relation no per-document dedup query
    // exposes). Gram-keyed self-join whose per-gram fan-out is
    // bounded by the SOURCE count (≤|sources|² pairs per gram at any
    // corpus size — the df-cap argument with the cap supplied by the
    // schema); pairs sharing zero grams are absent by declared
    // contract. One distinct (source, gram) projection feeds both
    // the sizes and the intersection counts.
    "llm_source_overlap" -> ((s, dir) => {
      val sg = sourceGrams(s, dir)
      val sizes = sg.groupBy(col("source")).agg(count(lit(1)).as("n_g"))
      val a = sg.select(col("source").as("sa"), col("g"))
      val b = sg.select(col("source").as("sb"), col("g"))
      a.join(b, Seq("g")).filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("n_common"))
        .join(sizes.select(col("source").as("sa"), col("n_g").as("na")),
          Seq("sa"))
        .join(sizes.select(col("source").as("sb"), col("n_g").as("nb")),
          Seq("sb"))
        .select(col("sa"), col("sb"), col("n_common"),
          expr("(n_common * 1000) div (na + nb - n_common)")
            .as("jaccard_pm"))
        .orderBy(col("sa"), col("sb"))
    }),

    // Per-document surprisal under the corpus unigram model: each
    // token's information content in whole bits via the floor-log2
    // identity bits(w) = len(bin(N)) − len(bin(c_w)) (⌊log2 N⌋ −
    // ⌊log2 c⌋, pure integer bit math — the llm_zipf idiom), summed
    // per doc + mean milli-bits/token. The cross-doc complement of
    // llm_unigram_lm's ppm profile: LOW mean surprisal ⇒ stock
    // phrasing (template/boilerplate), HIGH ⇒ rare-token noise. One
    // token-key join against the count frame, one doc hash agg; the
    // 1-row corpus total broadcasts as the standard scalar gate.
    "llm_surprisal" -> ((s, dir) => {
      val tok = Tables(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
      val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val perDoc = tok.join(cw, "w")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(length(expr("bin(c)")).cast("long")).as("sum_lc"))
      val tot = cw.agg(sum(col("c")).as("n_total"))
      perDoc.crossJoin(broadcast(tot))
        .withColumn("bits_total",
          col("n_tok") * length(expr("bin(n_total)")).cast("long")
            - col("sum_lc"))
        .select(col("doc_id"), col("n_tok"), col("bits_total"),
          expr("(bits_total * 1000) div n_tok").as("bits_per_tok_milli"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic Poisson(1) bootstrap: 3 replicates, each doc drawn
    // k ∈ {0,1,2,3} times from the md5 permille of (doc_id, replicate)
    // against the cumulative pmf (368/736/920) — the variance-
    // estimation resample computed WITHOUT materializing replicas
    // (weights only, the out-of-bag ~368‰ visible as n_docs−n_kept).
    // Narrow 3× explode + one bounded (rep, lang) hash agg.
    "sample_bootstrap" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        .withColumn("rep", explode(expr("array(0, 1, 2)")))
        .withColumn("u",
          conv(substring(md5(concat_ws(":", col("doc_id"), col("rep"))),
            1, 6), 16, 10).cast("long") % 1000)
        .withColumn("wt",
          when(col("u") < 368, 0L).when(col("u") < 736, 1L)
            .when(col("u") < 920, 2L).otherwise(3L))
        .groupBy(col("rep"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("wt") > 0).cast("long")).as("n_kept"),
          sum(col("wt")).as("total_weight"),
          sum(col("wt") * col("tok")).as("token_weight"))
        .orderBy(col("rep"), col("lang"))
    }),

    // Pairwise source-distribution divergence (which corpus slices
    // actually differ — the mixture-design complement of
    // llm_source_overlap's surface Jaccard): Jensen-Shannon analog in
    // the DECLARED floor-log2 milli-bits, all-integer. Per source,
    // unigram entropy H_f; per pair, the ½-½ mixture rides common
    // denominator 2·n1·n2 (m_w = p_w·n2 + q_w·n1 — no rational
    // arithmetic), jsd_mb = H_f(M) − (H_f(P) + H_f(Q)) div 2. Plan:
    // ONE (source, word) count pass; each count row fans out only to
    // the pairs containing its source (≤ |S|−1), then a (pair, word)
    // → pair rollup. Everything after the token pass is
    // vocab-bounded; the 1000× products ride DECIMAL(38,0)/HUGEINT
    // (mixture totals pass 2^63·10⁻³ at the 100 TB token scale).
    "llm_source_jsd" -> ((s, dir) => {
      val cnt = Tables(s, dir, "documents")
        .withColumn("w", explode(split(col("text"), " ")))
        .filter(col("w") =!= "")
        .groupBy(col("source"), col("w"))
        .agg(count(lit(1)).as("c"))
      val tot = cnt.groupBy(col("source"))
        .agg(sum(col("c")).as("n"),
          sum(col("c") * length(expr("bin(c)"))).as("sclb"))
        .withColumn("hp_mb",
          expr("CAST((1000 * (n * length(bin(n)) - sclb)) div n " +
            "AS BIGINT)"))
      val pairs = tot.select(col("source").as("s1"), col("n").as("n1"),
          col("hp_mb").as("hp1_mb"))
        .join(tot.select(col("source").as("s2"), col("n").as("n2"),
          col("hp_mb").as("hp2_mb")), col("s1") < col("s2"))
      val contrib = pairs
        .join(cnt.select(col("source").as("s1"), col("w"),
          col("c").as("p")), Seq("s1"))
        .select(col("s1"), col("s2"), col("w"), col("p"), lit(0L).as("q"))
        .unionAll(pairs
          .join(cnt.select(col("source").as("s2"), col("w"),
            col("c").as("q")), Seq("s2"))
          .select(col("s1"), col("s2"), col("w"), lit(0L).as("p"),
            col("q")))
      val mixed = contrib.groupBy(col("s1"), col("s2"), col("w"))
        .agg(sum(col("p")).as("p"), sum(col("q")).as("q"))
        .join(pairs, Seq("s1", "s2"))
        .withColumn("m", col("p") * col("n2") + col("q") * col("n1"))
        .groupBy(col("s1"), col("s2"), col("n1"), col("n2"),
          col("hp1_mb"), col("hp2_mb"))
        .agg(sum(col("m") * length(expr("bin(m)"))).as("smlb"))
      mixed
        .withColumn("mm", expr("2 * n1 * n2"))
        .withColumn("hm_mb",
          expr("CAST((1000 * CAST(mm * length(bin(mm)) - smlb AS " +
            "DECIMAL(38,0))) div mm AS BIGINT)"))
        .select(col("s1"), col("s2"), col("n1"), col("n2"),
          col("hp1_mb"), col("hp2_mb"), col("hm_mb"),
          expr("CAST(hm_mb - (hp1_mb + hp2_mb) div 2 AS BIGINT)")
            .as("jsd_mb"))
        .orderBy(col("s1"), col("s2"))
    }))

  def oracle: Map[String, String] = Map(
    "llm_self_bleu" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |bg AS (
        |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r),
        |df AS (SELECT bg, count(*) AS df FROM bg GROUP BY bg),
        |pd AS (
        |  SELECT doc_id, count(*) AS n_bigrams,
        |    CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_shared
        |  FROM bg JOIN df USING (bg) GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, n_shared,
        |  CAST((n_shared * 1000) // n_bigrams AS BIGINT)
        |    AS self_bleu_pm
        |FROM pd ORDER BY doc_id""".stripMargin,

    "llm_zipf" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |cnt AS (
        |  SELECT lang, w, count(*) AS n FROM tok
        |  WHERE w <> '' GROUP BY lang, w),
        |rk AS (
        |  SELECT lang, n,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, w)
        |      AS rank
        |  FROM cnt),
        |xy AS (
        |  SELECT lang,
        |    CAST(length(bin(rank)) - 1 AS BIGINT) AS x,
        |    CAST(length(bin(n)) - 1 AS BIGINT) AS y
        |  FROM rk WHERE rank <= 256),
        |m AS (
        |  SELECT lang, count(*) AS n_terms,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x * x AS HUGEINT)) AS sxx,
        |    sum(CAST(x * y AS HUGEINT)) AS sxy
        |  FROM xy GROUP BY lang)
        |SELECT lang, n_terms,
        |  CASE WHEN n_terms * sxx - sx * sx = 0 THEN NULL
        |    ELSE CAST(((n_terms * sxy - sx * sy) * 1000)
        |      // (n_terms * sxx - sx * sx) AS BIGINT) END
        |    AS zipf_slope_milli
        |FROM m ORDER BY lang""".stripMargin,

    "llm_hapax_heaps" ->
      """WITH tok AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |cnt AS (
        |  SELECT lang, w, count(*) AS n FROM tok
        |  WHERE w <> '' GROUP BY lang, w),
        |m AS (
        |  SELECT lang, CAST(sum(n) AS BIGINT) AS n_tokens,
        |    count(*) AS vocab,
        |    CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_hapax
        |  FROM cnt GROUP BY lang)
        |SELECT lang, n_tokens, vocab, n_hapax,
        |  CAST((CAST(n_hapax AS HUGEINT) * 1000000) // vocab AS BIGINT)
        |    AS hapax_ppm,
        |  CAST((CAST(vocab AS HUGEINT) * vocab * 100) // n_tokens
        |    AS BIGINT) AS heaps_x100
        |FROM m ORDER BY lang""".stripMargin,

    "llm_quality_logit" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      x -> list_contains(['the','a','of','and','to','in','is','it'],
        |        x))) AS BIGINT) * 1000
        |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS stop_pm,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |      * 1000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |      AS uniq_pm,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) * 1000
        |      // n_chars AS digit_pm
        |  FROM documents)
        |SELECT doc_id, nt, stop_pm, uniq_pm, digit_pm,
        |  15 * least(nt, 100) + 4 * stop_pm + 2 * uniq_pm
        |    - 5 * digit_pm - 2500 AS score_milli,
        |  (15 * least(nt, 100) + 4 * stop_pm + 2 * uniq_pm
        |    - 5 * digit_pm - 2500) >= 0 AS keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "llm_skipgram" ->
      """WITH lt AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents),
        |p1 AS (
        |  SELECT toks[i] AS wa, toks[i + 1] AS wb
        |  FROM lt, unnest(range(1, len(toks))) AS u(i)),
        |p2 AS (
        |  SELECT toks[i] AS wa, toks[i + 2] AS wb
        |  FROM lt, unnest(range(1, len(toks) - 1)) AS u(i)),
        |pp AS (
        |  SELECT least(wa, wb) AS w1, greatest(wa, wb) AS w2
        |  FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
        |  WHERE wa <> '' AND wb <> '')
        |SELECT w1, w2, count(*) AS n
        |FROM pp GROUP BY w1, w2
        |ORDER BY n DESC, w1, w2 LIMIT 20""".stripMargin,

    "llm_source_overlap" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |tri AS (
        |  SELECT DISTINCT a.source, a.w || ' ' || b.w || ' ' || c.w AS g
        |  FROM t a
        |  JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN t c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |sz AS (SELECT source, count(*) AS n_g FROM tri GROUP BY source),
        |pr AS (
        |  SELECT a.source AS sa, b.source AS sb, count(*) AS n_common
        |  FROM tri a JOIN tri b ON a.g = b.g AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT sa, sb, n_common,
        |  CAST((n_common * 1000) // (za.n_g + zb.n_g - n_common)
        |    AS BIGINT) AS jaccard_pm
        |FROM pr
        |JOIN sz za ON pr.sa = za.source
        |JOIN sz zb ON pr.sb = zb.source
        |ORDER BY sa, sb""".stripMargin,

    "llm_surprisal" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |t2 AS (SELECT * FROM tok WHERE w <> ''),
        |cw AS (SELECT w, count(*) AS c FROM t2 GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM cw),
        |pd AS (
        |  SELECT doc_id, count(*) AS n_tok,
        |    CAST(sum(length(bin(c))) AS BIGINT) AS sum_lc
        |  FROM t2 JOIN cw USING (w) GROUP BY doc_id)
        |SELECT doc_id, n_tok,
        |  n_tok * CAST(length(bin(n_total)) AS BIGINT) - sum_lc
        |    AS bits_total,
        |  CAST(((n_tok * CAST(length(bin(n_total)) AS BIGINT) - sum_lc)
        |    * 1000) // n_tok AS BIGINT) AS bits_per_tok_milli
        |FROM pd, tot ORDER BY doc_id""".stripMargin,

    "sample_bootstrap" ->
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
        |  FROM documents),
        |r AS (
        |  SELECT d.*, u.rep,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(u.rep AS VARCHAR)), 1, 6)) AS BIGINT) % 1000 AS u1
        |  FROM d CROSS JOIN (SELECT unnest([0, 1, 2]) AS rep) u),
        |w AS (
        |  SELECT rep, lang, tok,
        |    CASE WHEN u1 < 368 THEN 0 WHEN u1 < 736 THEN 1
        |      WHEN u1 < 920 THEN 2 ELSE 3 END AS wt
        |  FROM r)
        |SELECT CAST(rep AS INT) AS rep, lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN wt > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  CAST(sum(wt) AS BIGINT) AS total_weight,
        |  CAST(sum(wt * tok) AS BIGINT) AS token_weight
        |FROM w GROUP BY rep, lang ORDER BY rep, lang""".stripMargin,

    "llm_source_jsd" ->
      """WITH tk AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |cnt AS (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
        |  FROM tk WHERE w <> '' GROUP BY source, w),
        |tot AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |    CAST(sum(c * length(bin(c))) AS BIGINT) AS sclb
        |  FROM cnt GROUP BY source),
        |hp AS (
        |  SELECT source, n,
        |    CAST((1000 * (n * length(bin(n)) - sclb)) // n AS BIGINT)
        |      AS hp_mb
        |  FROM tot),
        |pairs AS (
        |  SELECT a.source AS s1, b.source AS s2, a.n AS n1, b.n AS n2,
        |    a.hp_mb AS hp1_mb, b.hp_mb AS hp2_mb
        |  FROM hp a JOIN hp b ON a.source < b.source),
        |contrib AS (
        |  SELECT p.s1, p.s2, c.w, c.c AS p_c, CAST(0 AS BIGINT) AS q_c
        |  FROM pairs p JOIN cnt c ON c.source = p.s1
        |  UNION ALL
        |  SELECT p.s1, p.s2, c.w, CAST(0 AS BIGINT), c.c
        |  FROM pairs p JOIN cnt c ON c.source = p.s2),
        |mixw AS (
        |  SELECT s1, s2, w, CAST(sum(p_c) AS BIGINT) AS p,
        |    CAST(sum(q_c) AS BIGINT) AS q
        |  FROM contrib GROUP BY s1, s2, w),
        |mx AS (
        |  SELECT m.s1, m.s2, p.n1, p.n2, p.hp1_mb, p.hp2_mb,
        |    CAST(sum((m.p * p.n2 + m.q * p.n1) *
        |      length(bin(m.p * p.n2 + m.q * p.n1))) AS BIGINT) AS smlb
        |  FROM mixw m JOIN pairs p ON m.s1 = p.s1 AND m.s2 = p.s2
        |  GROUP BY m.s1, m.s2, p.n1, p.n2, p.hp1_mb, p.hp2_mb),
        |fin AS (
        |  SELECT s1, s2, n1, n2, hp1_mb, hp2_mb,
        |    CAST((1000 * CAST(2 * n1 * n2 * length(bin(2 * n1 * n2))
        |      - smlb AS HUGEINT)) // (2 * n1 * n2) AS BIGINT) AS hm_mb
        |  FROM mx)
        |SELECT s1, s2, n1, n2, hp1_mb, hp2_mb, hm_mb,
        |  CAST(hm_mb - (hp1_mb + hp2_mb) // 2 AS BIGINT) AS jsd_mb
        |FROM fin ORDER BY s1, s2""".stripMargin)
}
