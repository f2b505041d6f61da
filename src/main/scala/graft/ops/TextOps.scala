package graft.ops
import graft.Lineage.LineageOps

import graft.{SessionMemo, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: language-ID, quality
  * scoring, token counting, document fingerprinting (task-brief
  * additions, extending SURVEY.md §2.2).
  *
  * All arithmetic is integer (counts, ratios via integer division,
  * modular hashes), so every query is exactly oracle-checkable. Each
  * is one or two hash-shuffles over (doc, token) pairs — linear in
  * corpus size, no per-doc driver work, no UDFs.
  */
object TextOps extends OpPack {

  private def toks(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")

  /** The llm_lang_id two-pass predictor — (doc_id, pred_lang, hits):
    * top-5 token profile per language (corpus-derived, broadcast),
    * per-doc argmax of profile hits, ties → lang asc. Shared by
    * llm_lang_id and the llm_lang_mismatch confusion audit. */
  /** Per-(doc, candidate-language) profile-hit counts — the shared
    * first half of langPred and llm_lang_margin. */
  /** Memoized per (session, corpus) and persisted (optimization r12):
    * four registered queries ride this frame (llm_lang_id,
    * llm_lang_mismatch, llm_lang_margin, agg_cohen_kappa), each of
    * which previously re-tokenized the corpus twice (profile build +
    * scoring join). The persisted frame is narrow and bounded —
    * one row per (doc, candidate language with profile hits), ≤
    * |docs|·|langs|. */
  private[ops] def langHits(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, ("text.langHits", dir)) {
      val t = toks(s, dir)
      val wp = Window.partitionBy(col("lang"))
        .orderBy(desc("freq"), asc("w"))
      val profile = t.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("freq"))
        .withColumn("rn", row_number().over(wp))
        .filter(col("rn") <= 5)
        .select(col("lang").as("cand_lang"), col("w").as("pw"))
      t.select(col("doc_id"), col("w"))
        .join(broadcast(profile), col("w") === col("pw"))
        .groupBy(col("doc_id"), col("cand_lang"))
        .agg(count(lit(1)).as("hits"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  private[ops] def langPred(s: SparkSession, dir: String): DataFrame = {
    val wd = Window.partitionBy(col("doc_id"))
      .orderBy(desc("hits"), asc("cand_lang"))
    langHits(s, dir).withColumn("rn", row_number().over(wd))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"),
        col("hits"))
  }

  /** Winnowing selection over any (doc_id, text) frame → (doc_id,
    * fps) with fps = sorted distinct packed (40-bit hash)·2²⁰+pos
    * selections — shared by the llm_winnow query and the alignment-
    * robustness property pin in DfCapFamilySpec (unpack the hash
    * component with `sel div 1048576` for cross-doc comparison). See
    * the query's doc for the narrow-plan rationale. */
  private[graft] def winnowFps(docs: DataFrame): DataFrame = {
    val k = 8; val w = 4
    val poly = (0 until k)
      .map(j => s"codes[i + $j] * ${math.pow(131, j).toLong}L")
      .mkString(" + ")
    docs
      .filter(length(col("text")) >= k + w - 1)
      .withColumn("codes",
        expr("transform(split(text, ''), c -> ascii(c))"))
      .withColumn("hs", expr(
        s"transform(sequence(0, length(text) - $k), " +
          s"i -> (($poly) % 1099511627776L) * 1048576L + i)"))
      .withColumn("fps", expr(
        s"array_sort(array_distinct(transform(" +
          s"sequence(0, size(hs) - $w), " +
          s"p -> array_min(slice(hs, p + 1, $w)))))"))
      .select(col("doc_id"), col("fps"))
  }

  /** The llm_quality_gopher transformation over any (doc_id, text)
    * frame — shared by the batch query and the streaming foreachBatch
    * pin in StreamingSemanticsSpec: the gate is a stateless narrow
    * map, so its streaming form is literally the same function applied
    * per micro-batch (no state, no watermark — gate-at-ingest). LONG
    * length accumulator (a >21M-char doc would overflow Int·100 under
    * ANSI); zero-word docs get a NULL mean, not a DIVIDE_BY_ZERO —
    * same 3-valued logic as the DuckDB oracle (empty list_sum → NULL),
    * and keep stays false via wc_ok. */
  private[graft] def gopherGate(docs: DataFrame): DataFrame = {
    val stops = array(Seq("the", "a", "of", "to", "and").map(lit): _*)
    docs
      .withColumn("arr", filter(split(col("text"), " "), w => w =!= ""))
      .withColumn("n_words", size(col("arr")))
      .withColumn("tot_len",
        aggregate(col("arr"), lit(0L), (acc, w) => acc + length(w)))
      .withColumn("mean_wlen_x100",
        when(col("n_words") > 0,
          expr("CAST(tot_len * 100 DIV n_words AS INT)")))
      .withColumn("n_stop",
        size(array_intersect(array_distinct(col("arr")), stops)))
      .withColumn("wc_ok", col("n_words").between(20, 100000))
      .withColumn("wlen_ok", col("mean_wlen_x100").between(300, 1000))
      .withColumn("stop_ok", col("n_stop") >= 2)
      .select(col("doc_id"), col("n_words"), col("mean_wlen_x100"),
        col("n_stop"), col("wc_ok"), col("wlen_ok"), col("stop_ok"),
        (col("wc_ok") && col("wlen_ok") && col("stop_ok")).as("keep"))
  }

  /** BPE-ish pre-tokenizer: letter runs, digit runs, or single
    * non-alphanumeric glyphs — the classic GPT-2-style split, minus
    * the byte-level merges (kept regex-only so both engines agree). */
  private val bpeIsh = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** The single BPE merge-round count shared by the generated SQL
    * (bpeTrainSql/bpeApplySql — the oracle text) and the Spark driver
    * loop (bpeChain): one constant, so the two engines can never
    * silently diverge on round count (ADVICE r12). */
  private[graft] val BpeRounds = 5

  /** 5-round BPE merge training as ONE generated SQL text that runs
    * in both engines (the changepointSql doctrine at tokenizer
    * scale). Words render as individually-bracketed char tokens
    * `(a)(b)(c)` — token boundaries share no characters, so
    * `replace` of `(a)(b)` with `(ab)` is the exact left-to-right
    * non-overlapping merge BPE specifies (a plain space-separated
    * rendering would drop back-to-back matches through the shared
    * delimiter). Per round: adjacent-pair counts weighted by word
    * frequency, best pair by (count DESC, pair ASC — the
    * deterministic tie-break), merge applied to the vocabulary.
    * Scale: the corpus is touched ONCE (the word-frequency agg); all
    * 5 rounds run over the VOCABULARY frame (bounded by distinct
    * words), and each round's 1-row best-pair frame broadcasts
    * (allowlisted scalar-gate shape). */
  private[graft] def bpeTrainSql(spark: Boolean, table: String): String = {
    val rounds = BpeRounds
    val tokcol =
      if (spark) "explode(split(text, ' '))"
      else "unnest(string_split(text, ' '))"
    // Spark split() keeps a trailing empty element (Java split limit
    // -1); filter it or the terminal token becomes '()'
    val charseg =
      if (spark)
        "concat_ws('', transform(filter(split(word, ''), c -> c <> ''), " +
          "c -> concat('(', c, ')')))"
      else
        "array_to_string(list_transform(string_split(word, ''), " +
          "c -> '(' || c || ')'), '')"
    def splitToks(s0: String) =
      if (spark) s"split(substring($s0, 2, length($s0) - 2), '\\\\)\\\\(')"
      else s"string_split(substr($s0, 2, length($s0) - 2), ')(')"
    def elem(a: String, i: String) =
      if (spark) s"element_at($a, $i)" else s"$a[$i]"
    val lat =
      if (spark) "LATERAL VIEW explode(sequence(1, size(arr) - 1)) ex AS i"
      else ", unnest(range(1, len(arr))) AS ex(i)"
    val szArr = if (spark) "size(arr)" else "len(arr)"
    val cnt = if (spark) "sum(freq)" else "CAST(sum(freq) AS BIGINT)"
    val roundCtes = (1 to rounds).map { r =>
      s"""arr$r AS (
         |  SELECT * FROM (
         |    SELECT word, freq, ${splitToks("seg")} AS arr
         |    FROM seg${r - 1}) t$r
         |  WHERE $szArr >= 2),
         |pairs$r AS (
         |  SELECT freq, ${elem("arr", "i")} AS a, ${elem("arr", "i + 1")} AS b
         |  FROM arr$r $lat),
         |best$r AS (
         |  SELECT a, b, $cnt AS cnt FROM pairs$r GROUP BY a, b
         |  ORDER BY cnt DESC, a, b LIMIT 1),
         |seg$r AS (
         |  SELECT word, freq,
         |    replace(seg, '(' || a || ')(' || b || ')',
         |      '(' || a || b || ')') AS seg
         |  FROM seg${r - 1} CROSS JOIN best$r)""".stripMargin
    }.mkString(",\n")
    val out = (1 to rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, a AS merge_left, " +
        s"b AS merge_right, cnt FROM best$r"
    }.mkString("\nUNION ALL\n")
    s"""WITH words AS (
       |  SELECT word, count(*) AS freq FROM (
       |    SELECT $tokcol AS word FROM $table) t0
       |  WHERE word <> '' GROUP BY word),
       |seg0 AS (SELECT word, freq, $charseg AS seg FROM words),
       |$roundCtes
       |$out
       |ORDER BY round""".stripMargin
  }

  /** Tokenizer INFERENCE over the same learned merges: re-derives
    * llm_bpe_train's 5-round chain (one generated SQL — the training
    * CTEs are shared text), then applies the final segmentation to
    * every (lang, word) occurrence and reports per-language token
    * compression — tokens after merging vs raw chars, permille. The
    * vocabulary-keyed equi-join (wl ⋈ seg5 on word) broadcasts at any
    * corpus size; the corpus itself is touched once per tokenization. */
  private[graft] def bpeApplySql(spark: Boolean, table: String): String = {
    val train = bpeTrainSql(spark, table)
    val trainCtes = train.substring(0, train.lastIndexOf("SELECT CAST(1"))
      .trim.stripSuffix(",")
    val tokLang =
      if (spark) "lang, explode(split(text, ' ')) AS word"
      else "lang, unnest(string_split(text, ' ')) AS word"
    def splitToks(s0: String) =
      if (spark) s"split(substring($s0, 2, length($s0) - 2), '\\\\)\\\\(')"
      else s"string_split(substr($s0, 2, length($s0) - 2), ')(')"
    val szArr = if (spark) "size(arr)" else "len(arr)"
    def big(e: String) =
      if (spark) s"CAST($e AS BIGINT)" else s"CAST($e AS BIGINT)"
    val div = if (spark) "div" else "//"
    s"""$trainCtes,
       |wl AS (
       |  SELECT lang, word, count(*) AS freql FROM (
       |    SELECT $tokLang FROM $table) tl
       |  WHERE word <> '' GROUP BY lang, word),
       |sv AS (
       |  SELECT word, ${splitToks("seg")} AS arr FROM seg$BpeRounds)
       |SELECT lang, ${big("sum(freql)")} AS n_words,
       |  ${big("sum(freql * length(word))")} AS n_chars,
       |  ${big(s"sum(freql * $szArr)")} AS n_tokens,
       |  ${big(s"(sum(freql * $szArr) * 1000) $div " +
            "sum(freql * length(word))")} AS tokens_per_kchar
       |FROM wl JOIN sv USING (word)
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  /** Driver-loop evaluation of the 5-round BPE merge chain, memoized
    * per (session, corpus) — the engine-side execution of exactly the
    * semantics [[bpeTrainSql]] declares (the oracle still runs that
    * SQL text verbatim). Rationale (optimization r12, guide §2.4):
    * the one-query CTE form references seg_{r-1} twice per round
    * (directly and through best_r), so Catalyst's CTE inlining grows
    * the plan ~2^rounds — the registered pair planned 6-8 Exchanges
    * over a 130-165 KB plan and re-derived the word-frequency
    * aggregate per copy. Here each round is ONE bounded job over the
    * vocabulary frame: the corpus is tokenized once (the words agg),
    * every later step is vocabulary-proportional, and each round's
    * best pair is a 1-row TakeOrdered collect (the scalar-gate shape
    * cdc_time_travel / agg_hist_eqdepth already use). Merge rounds
    * and the final segmentation are shared by train and apply — the
    * covCells "one build serves the family" convention, since a
    * production tokenizer is trained once and applied many times.
    *
    * Exact-parity notes vs the SQL: tie-break (cnt DESC, a, b) via
    * the same TakeOrdered; an EMPTY best_r in the SQL empties seg_r
    * through the CROSS JOIN and every later round — mirrored by the
    * limit(0) branch; replace() is the same left-to-right
    * non-overlapping literal replace in both engines. */
  private def bpeChain(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    SessionMemo(s, ("text.bpe", dir)) {
      val words = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      // seg0: individually-bracketed char tokens — the identical
      // charseg expression bpeTrainSql renders.
      var seg = words.withColumn("seg", expr(
        "concat_ws('', transform(filter(split(word, ''), c -> c <> ''), " +
          "c -> concat('(', c, ')')))"))
        .lineageCut(true) // vocabulary-bounded
      val merges =
        scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
      var live = true
      for (r <- 1 to BpeRounds if live) {
        val best = seg
          .withColumn("arr",
            expr("split(substring(seg, 2, length(seg) - 2), '\\\\)\\\\(')"))
          .filter(size(col("arr")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(arr) - 1), " +
              "i -> struct(element_at(arr, i) AS a, " +
              "element_at(arr, i + 1) AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("freq")).as("cnt"))
          .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
          .collect()
        if (best.isEmpty) {
          // SQL parity: empty best_r CROSS JOIN empties seg_r and all
          // later rounds (no more merges, apply joins nothing).
          seg = seg.limit(0)
          live = false
        } else {
          val (a, b, cnt) =
            (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((r.toLong, a, b, cnt))
          seg = seg.withColumn("seg",
            org.apache.spark.sql.functions.replace(col("seg"),
              lit(s"($a)($b)"), lit(s"($a$b)")))
            .lineageCut(true)
        }
      }
      import s.implicits._
      val mergesDf = merges.toSeq
        .toDF("round", "merge_left", "merge_right", "cnt")
      (mergesDf, seg)
    }

  def queries: Map[String, Q] = Map(
    "llm_bpe_train" -> ((s, dir) => {
      bpeChain(s, dir)._1.orderBy(col("round"))
    }),

    "llm_bpe_apply" -> ((s, dir) => {
      // Tokenizer inference over the learned merges: the corpus is
      // touched once (the (lang, word) frequency agg); the vocabulary
      // segmentation joins on the word key. Same output expressions
      // as bpeApplySql, which the oracle still runs verbatim.
      val seg5 = bpeChain(s, dir)._2
      val sv = seg5.select(col("word"), expr(
        "split(substring(seg, 2, length(seg) - 2), '\\\\)\\\\(')").as("arr"))
      val wl = Tables(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("freql"))
      wl.join(sv, Seq("word"))
        .groupBy(col("lang"))
        .agg(sum(col("freql")).as("n_words"),
          sum(col("freql") * length(col("word"))).as("n_chars"),
          sum(col("freql") * size(col("arr"))).as("n_tokens"))
        .select(col("lang"), col("n_words"), col("n_chars"),
          col("n_tokens"),
          expr("(n_tokens * 1000) div n_chars").as("tokens_per_kchar"))
        .orderBy(col("lang"))
    }),

    // Two-pass n-gram/stopword language-ID: pass 1 builds a top-5
    // token profile per language from the corpus itself; pass 2 scores
    // each doc by profile hits and takes the argmax (ties → lang asc).
    "llm_lang_id" -> ((s, dir) =>
      langPred(s, dir).orderBy(col("doc_id"))),

    // Language-label disagreement audit (the mislabel/code-switch
    // screen a multilingual curation pass runs BEFORE trusting the
    // lang column for stratified sampling or per-lang quality cuts):
    // the labeled lang × llm_lang_id's predicted lang as a confusion
    // matrix with per-label shares in permille — the diagonal is
    // labeling health, off-diagonal cells name exactly which pairs
    // confuse. Rides the identical two-pass predictor (broadcast
    // ≤5·|langs| profile, one doc-keyed argmax), then ONE
    // |langs|²-bounded hash agg; the share window runs on that
    // bounded cell frame (declared partition-less-window contract).
    "llm_lang_mismatch" -> ((s, dir) => {
      val pred = langPred(s, dir).select(col("doc_id"), col("pred_lang"))
      Tables(s, dir, "documents").select(col("doc_id"), col("lang"))
        .join(pred, "doc_id")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("n_lang",
          sum(col("n_docs")).over(Window.partitionBy(col("lang"))))
        .select(col("lang"), col("pred_lang"), col("n_docs"),
          expr("(n_docs * 1000) div n_lang").as("share_pm"))
        .orderBy(col("lang"), col("pred_lang"))
    }),

    // Quality scoring: length cap + vocabulary-diversity ratio, all
    // integer arithmetic.
    "llm_quality_score" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("arr", split(col("text"), " "))
        .withColumn("n_tokens", size(col("arr")))
        .withColumn("n_distinct", size(array_distinct(col("arr"))))
        .select(col("doc_id"),
          least(col("n_tokens"), lit(100)).as("q_len"),
          expr("CAST(n_distinct * 100 DIV n_tokens AS INT)").as("q_div"),
          (least(col("n_tokens"), lit(100)) +
            expr("CAST(n_distinct * 100 DIV n_tokens AS INT)")).as("score"))
        .orderBy(col("doc_id"))
    }),

    // Token counting: whitespace tokens vs BPE-ish regex tokens, plus
    // integer chars-per-token.
    "llm_token_count" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("ws_tokens", size(split(col("text"), " ")))
        .withColumn("bpe_tokens", size(expr(s"regexp_extract_all(text, '$bpeIsh', 0)")))
        .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
          expr("CAST(n_chars DIV bpe_tokens AS INT)").as("chars_per_tok"))
        .orderBy(col("doc_id"))
    }),

    // Word burstiness (Church & Gale's clumping statistic: a word's
    // total frequency over its document frequency — function words
    // spread evenly (b ≈ tf/df ≈ docs it's in), topical words CLUMP
    // into few docs with many repeats; the dial that separates
    // stopword-ish vocabulary from content vocabulary without a
    // stopword list): per word tf (occurrences), df (docs), and
    // burstiness_milli = tf·1000 div df, top-50 by tf with full
    // tie-break. ONE token-keyed hash agg (tf a plain count, df the
    // standard two-phase distinct) + TakeOrderedAndProject — corpus
    // lexicostatistics at 100 TB is a scan plus one word-keyed
    // exchange, and the ranked list never materializes globally.
    "llm_word_burstiness" -> ((s, dir) => {
      toks(s, dir)
        .groupBy(col("w"))
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"))
        .select(col("w"), col("tf"), col("df"),
          expr("(tf * 1000) div df").as("burstiness_milli"))
        .orderBy(col("tf").desc, col("w"))
        .limit(50)
    }),

    // Tokenizer-fertility budget per language (the per-lang aggregate
    // a tokenizer team reads BEFORE sizing a vocab: how many subword
    // tokens each language pays per whitespace word, and how many
    // chars each subword carries — llm_token_count is the per-doc
    // sibling, this is the corpus roll-up that drives vocab
    // allocation). fertility_pm = Σbpe·1000 div Σws;
    // chars_per_tok_milli = Σchars·1000 div Σbpe. Narrow per-row
    // regexp counting + ONE ≤|langs|-group map-side-combined hash agg
    // — tokenizer budgeting at 100 TB costs exactly one scan. Sums
    // ride DECIMAL(38,0) before the ·1000 products (char totals at
    // 100 TB overflow int64 under multiplication).
    "llm_tokenizer_fertility" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          size(split(col("text"), " ")).cast("long").as("ws"),
          size(expr(s"regexp_extract_all(text, '$bpeIsh', 0)"))
            .cast("long").as("bpe"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("bpe")).as("bpe_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("ws_tokens"),
          col("bpe_tokens"), col("n_chars"),
          expr("CAST((CAST(bpe_tokens AS DECIMAL(38,0)) * 1000) " +
            "div ws_tokens AS BIGINT)").as("fertility_pm"),
          expr("CAST((CAST(n_chars AS DECIMAL(38,0)) * 1000) " +
            "div bpe_tokens AS BIGINT)").as("chars_per_tok_milli"))
        .orderBy(col("lang"))
    }),

    // Positional rolling-hash fingerprint: fp = Σ pos·(131·len(w) +
    // ascii(w)) mod 1e9+7 — order-sensitive, pure integer, identical
    // across engines.
    // PII-style payload scrubbing on the CDC event payloads: redact
    // every digit run, count redactions per event, keep an audit agg
    // by event_type. Pure regexp_replace/regexp_count — codegen'd,
    // narrow, no shuffle before the final small agg (the shape that
    // lets a 100 TB log scrub run at scan speed). The '[0-9]+' class
    // means the same thing in Java regex (Spark) and RE2 (DuckDB).
    "llm_pii_scrub" -> ((s, dir) => {
      Tables(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("scrubbed"),
          expr("CAST(regexp_count(props, '[0-9]+') AS INT)")
            .as("n_redacted"))
        .orderBy(col("event_id"))
    }),

    "llm_fingerprint" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        .filter(col("w") =!= "")
        .groupBy(col("doc_id"))
        .agg(((sum((col("pos") + 1) *
          (length(col("w")) * 131 + ascii(col("w"))))) % 1000000007L)
          .as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // The BPE merge decision — tokenizer-training's inner-loop
    // statistic: corpus-wide counts of adjacent character pairs within
    // words (occurrence-weighted, exactly the table byte-pair encoding
    // consults to pick its next merge; llm_vocab covers the vocab-size
    // curve, this covers the merge rule). Top-10 by count. Narrow
    // generate (each word yields len−1 two-char substrings) + ONE
    // pair-keyed hash agg + TakeOrderedAndProject — tokenizer stats
    // over 100 TB are a scan plus one tiny-key shuffle.
    "llm_bpe_pairs" -> ((s, dir) => {
      toks(s, dir)
        .filter(length(col("w")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, length(w) - 2), " +
            "i -> substring(w, i + 1, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair"))
        .limit(10)
    }),

    // Deterministic MLM masking — the masked-language-model data-prep
    // step: each (doc, position) flips an md5 coin (15% ≈ 0x2666/2¹⁶,
    // the BERT rate), masked tokens become [MASK], and the output
    // carries the mask positions + an md5 digest of the masked text
    // (never the full text). The same coin on any re-run, subset or
    // engine — what `rand()` masking can't give, and what makes
    // training data reproducible. Entirely narrow per-row array
    // expressions (transform/filter/aggregate): masking 100 TB is a
    // scan-speed map, no shuffle.
    "llm_mlm_mask" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("flags", expr(
          "transform(sequence(1, size(toks)), p -> " +
            "substring(md5(concat(CAST(doc_id AS STRING), ':', " +
            "CAST(p AS STRING))), 1, 4) < '2666')"))
        .select(col("doc_id"),
          size(col("toks")).as("n_tok"),
          expr("aggregate(flags, 0L, (a, f) -> a + IF(f, 1L, 0L))")
            .as("n_masked"),
          // Serialized (array_join) so the driver's pandas compare
          // can hash the cell; zero-mask docs yield '' on both sides.
          expr("array_join(filter(sequence(1, size(toks)), " +
            "p -> element_at(flags, p)), ',')")
            .as("mask_pos"),
          expr("md5(array_join(transform(sequence(1, size(toks)), " +
            "p -> IF(element_at(flags, p), '[MASK]', " +
            "element_at(toks, p))), ' '))").as("masked_md5"))
        .orderBy(col("doc_id"))
    }),

    // T5-style SPAN CORRUPTION (the seq2seq denoising objective beside
    // llm_mlm_mask's BERT-style token masking): contiguous 3-token
    // spans on a 20-token stride, rotated per document by doc_id mod
    // 20 (deterministic, engine-free arithmetic — no RNG), each
    // masked RUN replaced by one numbered sentinel in the input and
    // expanded to sentinel + original tokens in the target. Pure
    // per-row array expressions — the corruption of a 100 TB corpus
    // is a zero-shuffle scan, the llm_mlm_mask doctrine; texts ride
    // as md5 per the serialization convention.
    "llm_span_corruption" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("toks", split(col("text"), " "))
        .withColumn("d", (col("doc_id") % 20).cast("int"))
        .withColumn("pieces_in", expr(
          "filter(transform(sequence(1, size(toks)), i -> " +
            "CASE WHEN ((i - 1 + d) % 20) >= 3 THEN element_at(toks, i) " +
            "WHEN ((i - 1 + d) % 20) = 0 OR i = 1 THEN " +
            "concat('<extra_id_', CAST((i - 1 + d) div 20 AS STRING), " +
            "'>') END), x -> x IS NOT NULL)"))
        .withColumn("pieces_tg", expr(
          "filter(transform(sequence(1, size(toks)), i -> " +
            "CASE WHEN ((i - 1 + d) % 20) >= 3 THEN NULL " +
            "WHEN ((i - 1 + d) % 20) = 0 OR i = 1 THEN " +
            "concat('<extra_id_', CAST((i - 1 + d) div 20 AS STRING), " +
            "'> ', element_at(toks, i)) " +
            "ELSE element_at(toks, i) END), x -> x IS NOT NULL)"))
        .select(col("doc_id"), size(col("toks")).as("n_tok"),
          expr("aggregate(sequence(1, size(toks)), 0L, (a, i) -> " +
            "a + IF(((i - 1 + d) % 20) < 3, 1L, 0L))").as("n_masked"),
          expr("aggregate(sequence(1, size(toks)), 0L, (a, i) -> " +
            "a + IF(((i - 1 + d) % 20) = 0 OR " +
            "(i = 1 AND ((i - 1 + d) % 20) < 3), 1L, 0L))").as("n_spans"),
          expr("md5(array_join(pieces_in, ' '))").as("input_md5"),
          expr("md5(array_join(pieces_tg, ' '))").as("target_md5"))
        .orderBy(col("doc_id"))
    }),

    // Token-concentration quality signal: the Herfindahl index of each
    // document's unigram distribution in integer permille — the
    // entropy-free repetitiveness measure (1 - HHI is Gini-Simpson
    // diversity; log-free so it stays exactly oracle-checkable where
    // Shannon entropy's floats would not). Degenerate docs (one token
    // repeated) score 1000, maximally diverse docs 1000/n_distinct —
    // the same signal CCNet/Gopher repetition filters threshold on,
    // here as a ranked per-doc statistic beside the max-token share.
    // Arithmetic bound: ss·1000 ≤ n²·1000 — a 10⁹-token document is
    // 10²¹ and would overflow BIGINT, so the squared sum rides
    // decimal(38,0)/HUGEINT like llm_pmi's products. Shape at 100 TB:
    // two chained hash aggs on (doc, token) then doc — the second is
    // co-partitioned with the first (doc_id is a prefix of the
    // (doc_id, w) hash key in practice only after a repartition; here
    // Catalyst keeps one exchange on (doc_id, w) and one on doc_id),
    // both map-side combined; no window, no join.
    "llm_gini" -> ((s, dir) => {
      toks(s, dir)
        .groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          count(lit(1)).as("n_distinct"),
          sum(expr("CAST(c AS DECIMAL(38,0)) * c")).as("ss"),
          max(col("c")).as("maxc"))
        .select(col("doc_id"),
          col("n_tok"), col("n_distinct"),
          expr("CAST((ss * 1000) div (CAST(n_tok AS DECIMAL(38,0)) * n_tok) AS BIGINT)")
            .as("hhi_permille"),
          expr("(maxc * 1000) div n_tok").as("top_share_permille"))
        .orderBy(col("doc_id"))
    }),

    // Collocation detection by pointwise mutual information — the
    // phrase-mining primitive (fixed expressions score high, chance
    // co-occurrences low). PMI's log is monotone, so ranking by the
    // INTEGER ratio c_xy·N·10⁶ div (c_x·c_y) ranks exactly by PMI
    // with no float anywhere; c_xy ≥ 5 is the standard min-support
    // gate. Products via decimal(38,0)/HUGEINT (c_x·c_y ~ 10²² at
    // 10¹³ tokens). Shape at 100 TB: adjacent-pair + unigram hash
    // aggs, two joins ON the token key (co-partitioned with the
    // aggs), 1-row total broadcast, TakeOrderedAndProject top-20 —
    // never a global sort.
    "llm_pmi" -> ((s, dir) => {
      val tok = toks(s, dir)
      val pairs = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 2), " +
            "i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("p"))
        .select(col("p.w1"), col("p.w2"))
        .filter(col("w1") =!= "" && col("w2") =!= "")
      val cxy = pairs.groupBy(col("w1"), col("w2"))
        .agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).as("n_total"))
      cxy
        .join(cw.select(col("w").as("w1"), col("c").as("c_x")), "w1")
        .join(cw.select(col("w").as("w2"), col("c").as("c_y")), "w2")
        .crossJoin(broadcast(tot))
        .withColumn("pmi_x1e6", expr(
          "CAST((CAST(c_xy AS DECIMAL(38,0)) * n_total * 1000000) " +
            "div (CAST(c_x AS DECIMAL(38,0)) * c_y) AS BIGINT)"))
        .select(col("w1"), col("w2"), col("c_xy"), col("c_x"),
          col("c_y"), col("pmi_x1e6"))
        .orderBy(desc("pmi_x1e6"), asc("w1"), asc("w2"))
        .limit(20)
    }),

    // Unigram language-model commonness score — the engine-exact
    // stand-in for the perplexity filter of corpus curation (CCNet-
    // style): per doc, the mean corpus frequency of its tokens in ppm
    // (integer div per token, so both engines agree bit-for-bit; a
    // float log-prob would hash-diverge) plus the hapax count (tokens
    // occurring once corpus-wide — the OOV/noise signal). Low mean ⇒
    // rare-token text, high hapax ⇒ junk/OCR noise. Shape at 100 TB:
    // one token hash agg for the unigram table, the (doc, token) frame
    // re-joins it ON the token key (same shuffle key as the agg,
    // AQE-broadcastable head), the global total is a 1-row broadcast,
    // and the per-doc rollup shuffles doc_id once. All counts are
    // ratios of corpus scale, so ppm values are scale-free and the
    // long arithmetic never overflows (c·10⁶ ≤ 10¹⁷ at 10¹³ tokens).
    "llm_unigram_lm" -> ((s, dir) => {
      val tok = toks(s, dir)
      val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).as("n_total"))
      tok.join(cw, "w")
        .crossJoin(broadcast(tot))
        .withColumn("ppm", expr("(c * 1000000) div n_total"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          expr("sum(ppm) div count(1)").as("mean_ppm"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
        .orderBy(col("doc_id"))
    }),

    // Hashing-trick featurizer (Weinberger 2009): tokens bucketed to a
    // fixed 64-dim feature space via the md5-derived bucket id (the
    // cross-engine-stable hash; vocabularies never materialize), doc
    // vectors emitted SPARSE in COO form (doc_id, bucket, count) — at
    // 100 TB the dense form wastes 64× the IO for mostly-zero rows,
    // and downstream linear models consume COO directly. One
    // (doc, bucket) hash agg, map-side combined; no token-key shuffle,
    // no vocabulary state.
    "llm_hash_embed" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(filter(split(col("text"), " "), w => w =!= "")).as("w"))
        .withColumn("b",
          expr("CAST(conv(substring(md5(w), 1, 8), 16, 10) AS BIGINT) % 64"))
        .groupBy(col("doc_id"), col("b"))
        .agg(count(lit(1)).as("c"))
        .orderBy(col("doc_id"), col("b"))
    }),

    // The corpus report card — the one-page summary printed before
    // and after every curation run (dataset datasheets / data cards):
    // size, token volume, language/source breadth, exact-dup mass,
    // quality-gate pass rate, mean doc length — as a long-format
    // (metric, value) frame via the stack generator. ONE enriched
    // doc-level pass (gate columns joined on the co-partitioned
    // doc_id key) into a single global aggregate; every distinct
    // count is a real countDistinct (two-phase). 100 TB → 7 rows.
    "llm_corpus_card" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val g = gopherGate(d).select(col("doc_id"), col("keep"),
        col("n_words"))
      d.select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), md5(col("text")).as("digest"))
        .join(g, "doc_id")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_words").cast("long")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("digest")).as("n_unique"),
          sum(col("n_chars")).as("sum_chars"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"))
        .selectExpr("stack(7, " +
          "'exact_dup_docs', n_docs - n_unique, " +
          "'gopher_pass_permille', n_keep * 1000 div n_docs, " +
          "'mean_doc_chars', sum_chars div n_docs, " +
          "'n_docs', n_docs, " +
          "'n_langs', n_langs, " +
          "'n_sources', n_sources, " +
          "'n_tokens', n_tokens) AS (metric, value)")
        .orderBy(col("metric"))
    }),

    // Boilerplate / template detection per source: the most frequent
    // 5-token document PREFIX in each source and its share of the
    // source's documents in permille — a source whose docs mostly
    // open identically is a template farm (headers, scraped nav,
    // license banners). One (source, prefix) hash agg, then a
    // map-side-combined max_by per source (ties break to the
    // lexicographically smallest prefix); shuffle ∝ distinct
    // prefixes, output ∝ |sources|.
    "llm_boilerplate" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
        .withColumn("prefix",
          array_join(slice(filter(split(col("text"), " "),
            w => w =!= ""), 1, 5), " "))
      val sizes = d.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      d.groupBy(col("source"), col("prefix"))
        .agg(count(lit(1)).as("n_pref"))
        .groupBy(col("source"))
        .agg(min_by(struct(col("prefix"), col("n_pref")),
          struct((-col("n_pref")).as("neg"), col("prefix"))).as("top"))
        .select(col("source"), col("top.prefix").as("top_prefix"),
          col("top.n_pref").as("n_pref"))
        .join(broadcast(sizes), "source")
        .withColumn("share_permille",
          expr("n_pref * 1000 div n_docs"))
        .orderBy(col("source"))
    }),

    // Out-of-vocabulary rate vs the corpus top-1000 vocabulary — the
    // tokenizer-coverage signal (a doc full of OOV tokens is noise,
    // markup, or the wrong language for the tokenizer). The vocab is
    // a TakeOrderedAndProject top-k (total order: count desc, token
    // asc — rank-1000 boundary ties are deterministic) and BROADCASTS
    // to the token scan; per-doc counts are one map-side-combined
    // doc_id agg. At 100 TB: vocab stays ~KBs regardless of corpus
    // size, the token frame never shuffles on the token key.
    "llm_oov_rate" -> ((s, dir) => {
      val tok = toks(s, dir)
      val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("w")).limit(1000)
        .select(col("w"), lit(1).as("in_vocab"))
      tok.join(broadcast(vocab), Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tok"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_permille", expr("n_oov * 1000 div n_tok"))
        .orderBy(col("doc_id"))
    }),

    // CCNet-style head/middle/tail corpus partition (Wenzek et al.
    // 2020): per-lang terciles of the unigram-LM commonness score
    // (llm_unigram_lm's mean_ppm). NOT an ntile window — a per-lang
    // ntile sorts every doc of a language in one window partition,
    // which dies on a dominant language at 100 TB. Instead the
    // tercile CUTS are exact percentile_disc aggregates (sort-based,
    // two-phase) and broadcast back; bucket assignment is then a
    // narrow map. Boundary docs (score == cut) go to the lower bucket
    // in both engines — integer scores, no float boundary ambiguity.
    "llm_ccnet_bucket" -> ((s, dir) => {
      val tok = toks(s, dir)
      val cw = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val tot = tok.agg(count(lit(1)).as("n_total"))
      val ds = tok.join(cw, "w")
        .crossJoin(broadcast(tot))
        .withColumn("ppm", expr("(c * 1000000) div n_total"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(expr("sum(ppm) div count(1)").as("mean_ppm"))
      val cuts = ds.groupBy(col("lang"))
        .agg(expr("percentile_disc(0.33) WITHIN GROUP (ORDER BY mean_ppm)")
            .as("c33"),
          expr("percentile_disc(0.67) WITHIN GROUP (ORDER BY mean_ppm)")
            .as("c67"))
      ds.join(broadcast(cuts), "lang")
        .withColumn("bucket",
          when(col("mean_ppm") <= col("c33"), "tail")
            .when(col("mean_ppm") <= col("c67"), "middle")
            .otherwise("head"))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("mean_ppm")).as("min_ppm"),
          max(col("mean_ppm")).as("max_ppm"))
        .orderBy(col("lang"), col("bucket"))
    }),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    // the MOSS algorithm): hash every character 8-gram, then from each
    // window of 4 consecutive hashes select the minimum (leftmost on
    // ties, encoded by min over hash||zero-padded-position so both
    // engines pick identically). Overlapping windows mostly re-select
    // the same hash, so the distinct selections are a ~1/w density
    // position-robust fingerprint set with the guarantee exact
    // fingerprinting lacks: any shared run of >= k+w-1 chars shares a
    // fingerprint REGARDLESS of alignment — the winnowing answer to
    // llm_dedup_substr's declared stride-alignment sensitivity. Shape
    // at 100 TB: narrow generate (k-gram hashing is a scan-speed map),
    // ONE doc_id-keyed shuffle shared by the window and the digest
    // agg; output is one row per doc (count + md5 of the sorted set),
    // never the raw fingerprint inventory. Docs shorter than k+w-1
    // chars have no full window and drop out (declared; testdata min
    // doc length is far above it).
    "llm_winnow" -> ((s, dir) => {
      val k = 8; val w = 4
      // Winnowing is per-document, so the WHOLE algorithm runs inside
      // array expressions — no explode, no window operator, NO SHUFFLE
      // (the plan is a scan-speed narrow map + presentation sort; at
      // 100 TB fingerprinting is embarrassingly parallel and this plan
      // keeps it that way). k-gram hash = base-131 polynomial over the
      // doc's char-code array (built once per doc — 8 array reads +
      // long arithmetic per position, all whole-stage codegen; an md5
      // per position costs a digest allocation each and a per-position
      // row costs the WindowExec sort: both measured slower at sf0.1).
      // Selection key packs (40-bit hash, position) into one long
      // (h·2²⁰ + pos, pos < 2²⁰) so array_min picks the leftmost
      // minimum exactly like the classic algorithm.
      winnowFps(Tables(s, dir, "documents"))
        .select(col("doc_id"), size(col("fps")).as("n_fp"),
          md5(concat_ws(",",
            expr("transform(fps, x -> CAST(x AS STRING))")))
            .as("fp_digest"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF-style distinctive terms: top-3 terms per doc ranked by
    // tf/df as the INTEGER score tf·10⁶ div df (N is constant within a
    // ranking so the idf numerator drops out; integer division keeps
    // both engines bit-identical). Two hash aggregations over (doc,
    // token) pairs + a broadcast-sized df join + per-doc top-k with
    // the WindowGroupLimit pushdown — linear in corpus size.
    "llm_tfidf" -> ((s, dir) => {
      val tok = toks(s, dir)
      val tf = tok.groupBy(col("doc_id"), col("w"))
        .agg(count(lit(1)).as("tf"))
        .withColumnRenamed("w", "term")
      val dfreq = tok.groupBy(col("w").as("term"))
        .agg(countDistinct(col("doc_id")).as("df"))
      val win = Window.partitionBy(col("doc_id"))
        .orderBy(desc("score"), asc("term"))
      tf.join(dfreq, "term")
        .withColumn("score", expr("(tf * 1000000L) div df"))
        .withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // Gopher-style repetition filters: fraction of the doc covered by
    // its most frequent 2-gram and fraction of 3-gram occurrences that
    // are within-doc repeats (both as integer permille). The two gram
    // aggregations are (doc, gram) hash-shuffles — linear in corpus
    // size, map-side partial aggregation, no per-doc driver work; the
    // per-doc joins are on doc_id so at 100 TB they co-partition with
    // the aggregations (one shuffle each, AQE-coalesced).
    "llm_repetition" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n_tokens", size(col("toks")))
      val top2 = docs.select(col("doc_id"), explode(expr(Grams.spark(2)))
          .as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top2"))
      val dup3 = docs.select(col("doc_id"), explode(expr(Grams.spark(3)))
          .as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup3"))
      docs.select(col("doc_id"), col("n_tokens"))
        .join(top2, "doc_id").join(dup3, "doc_id")
        .withColumn("top2_permille", expr("top2 * 2 * 1000 div n_tokens"))
        .withColumn("dup3_permille", expr("dup3 * 1000 div (n_tokens - 2)"))
        .withColumn("keep",
          col("top2_permille") < 200 && col("dup3_permille") < 300)
        .select(col("doc_id"), col("n_tokens"), col("top2"),
          col("top2_permille"), col("dup3_permille"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // Tokenizer seed-vocabulary build: global token counts → top-100
    // vocab ranked by frequency (lexicographic tie-break) → cumulative
    // corpus-coverage permille via a running sum. The count table is
    // one map-side-combined agg over the corpus; the ranking/running
    // sum run on the tiny vocab table (the WordPiece/BPE seed-vocab
    // step, where coverage curves decide vocab size).
    "llm_vocab" -> ((s, dir) => {
      val counts = toks(s, dir).groupBy(col("w"))
        .agg(count(lit(1)).as("n"))
      val total = counts.agg(sum(col("n")).as("total"))
      // top-k via TakeOrderedAndProject (no global sort of the vocab);
      // rank + running sum then run on the 100-row result, and the
      // 1-row total broadcasts (the scalar-broadcast cross is in
      // PlanShapeSpec's allowed set).
      val top = counts.orderBy(desc("n"), asc("w")).limit(100)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(desc("n"), asc("w"))
      top
        .withColumn("rank", row_number().over(w))
        .withColumn("cum", sum(col("n")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(total))
        .select(col("rank"), col("w").as("token"), col("n"),
          expr("cum * 1000 div total").as("cum_permille"))
        .orderBy(col("rank"))
    }),

    // Corpus bigram LM statistics: for the 10 most frequent head
    // words, the top-3 continuations with integer-permille conditional
    // probability — the n-gram table a statistical LM / contamination
    // scorer is built from. Two hash aggs over (w1, w2) pairs + a
    // broadcast-sized head list + per-head WindowGroupLimit top-k;
    // linear in corpus token count.
    "llm_ngram_stats" -> ((s, dir) => {
      val pairs = Tables(s, dir, "documents")
        .select(split(col("text"), " ").as("toks"))
        .select(explode(expr(
          "transform(sequence(0, size(toks)-2), " +
            "i -> struct(toks[i] AS w1, toks[i+1] AS w2))")).as("p"))
        .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      val heads = pairs.groupBy(col("w1"))
        .agg(sum(col("n_pair")).as("n_head"))
        .orderBy(desc("n_head"), asc("w1")).limit(10)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w1")).orderBy(desc("n_pair"), asc("w2"))
      pairs.join(broadcast(heads), "w1")
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("w1"), col("w2"), col("n_pair"), col("n_head"),
          expr("n_pair * 1000 div n_head").as("cond_permille"),
          col("rnk"))
        .orderBy(col("w1"), col("rnk"))
    }),

    // Gopher-style quality GATE (Rae et al. 2021 §A1.1 adapted to the
    // corpus's character space): hard pass/fail rules, not a score —
    // word-count bounds, mean-word-length band, minimum distinct-
    // stopword presence. Entirely narrow per-row array arithmetic
    // (higher-order `aggregate` for the length sum — no explode, NO
    // shuffle, fully codegen'd): at 100 TB this gate runs at scan
    // speed and feeds partition-pruned writes downstream. Integer
    // arithmetic only (mean word length as ×100 fixed-point) so both
    // engines agree bit-for-bit.
    "llm_quality_gopher" -> ((s, dir) =>
      gopherGate(Tables(s, dir, "documents")).orderBy(col("doc_id"))),

    // Overlapping-window chunking — the RAG/pretraining chunker:
    // 30-token windows at stride 20 (10-token overlap so no span is
    // split across chunk boundaries without context). Chunk starts
    // are 0, S, 2S, … while < n_tokens; `slice` clips the final
    // window, so trailing chunks may be short (declared; mirrored
    // exactly in the oracle). Narrow generate + presentation sort —
    // chunking a 100 TB corpus is a scan-speed map, no shuffle.
    "llm_chunk_overlap" -> ((s, dir) => {
      val W = 30
      val S = 20
      Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(expr(
          s"transform(sequence(0, (size(toks) - 1) div $S), " +
            s"i -> slice(toks, i * $S + 1, $W))"))
          .as(Seq("chunk_idx", "chunk_toks")))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("chunk_toks")).as("n_chunk_toks"),
          array_join(col("chunk_toks"), " ").as("chunk"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Per-(lang, source) document-length percentile in permille — the
    // statistic curation cutoffs are phrased in ("drop the shortest
    // 5% PER SOURCE", not globally: sources have wildly different
    // length profiles). (rank−1)·1000 div (n−1) over a row_number
    // ranking (ties broken by doc_id — declared); singleton groups
    // score the 500 midpoint. The rank window and the group-count
    // window ride ONE (lang, source) exchange; at 100 TB this is the
    // windowed scan that replaces a per-source quantile lookup table.
    "llm_length_pctile" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("n_chars"), col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", expr(
          "count(*) OVER (PARTITION BY lang, source)"))
        .withColumn("pctile_permille", expr(
          "CASE WHEN n > 1 THEN ((rk - 1) * 1000) div (n - 1) " +
            "ELSE 500 END"))
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars"), col("pctile_permille"))
        .orderBy(col("doc_id"))
    }),

    // Flesch reading-ease readability, all-integer (milli-points):
    // FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/word)
    // ×1000 with each ratio an integer div (declared truncation, both
    // engines identical). Sentences = runs of [.!?] (floor 1 so
    // fragment docs score rather than divide by zero); syllables =
    // vowel-group count over the lowercased text (word boundaries
    // break vowel runs, so per-word syllables sum to one global
    // regexp_count — no explode). Zero-word docs are dropped
    // (declared: readability of nothing is undefined). Entirely
    // narrow per-row regexp arithmetic — the readability gate at
    // 100 TB runs at scan speed next to the gopher gate, no shuffle.
    "llm_readability" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .withColumn("n_words",
          expr("size(filter(split(text, ' '), w -> w != ''))")
            .cast("long"))
        .filter(col("n_words") > 0)
        .withColumn("n_sents",
          greatest(expr("regexp_count(text, '[.!?]+')").cast("long"),
            lit(1L)))
        .withColumn("n_syll",
          expr("regexp_count(lower(text), '[aeiouy]+')").cast("long"))
        .withColumn("fre_milli",
          lit(206835L) - expr("(1015 * n_words) div n_sents") -
            expr("(84600 * n_syll) div n_words"))
        .withColumn("band",
          when(col("fre_milli") >= 90000, "very_easy")
            .when(col("fre_milli") >= 60000, "standard")
            .when(col("fre_milli") >= 30000, "difficult")
            .otherwise("very_difficult"))
        .select(col("doc_id"), col("n_words"), col("n_sents"),
          col("n_syll"), col("fre_milli"), col("band"))
        .orderBy(col("doc_id"))
    }),

    // Benchmark decontamination: flag training docs sharing any 4-gram
    // with the benchmark set (doc_id % 50 == 0 as the held-out suite).
    // The benchmark gram set is tiny relative to the corpus — exactly
    // the real-world shape — so it broadcasts and the contamination
    // scan is a single map-side hash probe over the 100 TB train side,
    // no shuffle of the corpus.
    "llm_decontaminate" -> ((s, dir) => {
      val grams = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), explode(array_distinct(expr(Grams.spark(4))))
          .as("gram"))
      val bench = grams.filter(col("doc_id") % 50 === 0)
        .withColumnRenamed("doc_id", "bench_id")
      grams.filter(col("doc_id") % 50 =!= 0)
        .join(broadcast(bench), "gram")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("gram")).as("n_shared_grams"),
          countDistinct(col("bench_id")).as("n_bench_docs"))
        .orderBy(col("doc_id"))
    }),

    // Code-vs-prose detector (the CommonCrawl curation gate that
    // routes source files away from the prose pipeline): per-doc
    // special-character density via the length−translate trick (no
    // regex in the hot path — translate is a codegen'd byte map),
    // score_pm = 1000·n_special div length, is_code at a declared
    // ≥15‰ threshold, rolled up per source. Scan-proportional: ONE
    // projection + ONE map-side-combined hash agg.
    "llm_code_detect" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("source"),
          length(col("text")).cast("long").as("len"),
          (length(col("text")) -
            length(translate(col("text"), "{};=()", "")))
            .cast("long").as("n_special"))
        .filter(col("len") > 0)
        .withColumn("score_pm",
          expr("CAST((n_special * 1000) div len AS BIGINT)"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("score_pm") >= 15, 1L).otherwise(0L))
            .as("n_code"),
          sum(col("score_pm")).as("sum_score"))
        .select(col("source"), col("n_docs"), col("n_code"),
          expr("CAST(sum_score div n_docs AS BIGINT)")
            .as("mean_score_pm"))
        .orderBy(col("source"))
    }),

    // Word-length histogram of the whole corpus (the tokenizer-prep
    // sanity plot: a long tail of 20+-char "words" means markup or
    // concatenation bugs upstream): token length capped at 20,
    // counts + corpus share in ppm. Explode → ONE map-side-combined
    // hash agg on a ≤20-cell frame; the share window runs on that
    // bounded frame.
    "llm_word_len_hist" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(least(length(col("w")), lit(20)).cast("long")
          .as("word_len"))
        .agg(count(lit(1)).as("n_words"))
        .withColumn("share_ppm",
          expr("CAST((n_words * 1000000) div " +
            "sum(n_words) OVER () AS BIGINT)"))
        .orderBy(col("word_len"))
    }),

    // Capitalized-token (entity-ish) density per language — the NER
    // cost forecast and a language-confusion tripwire (German
    // capitalizes every noun; an 'en' shard with de-level density is
    // mislabeled): first byte BETWEEN 'A' AND 'Z' (binary collation,
    // engine-identical), density in permille per lang. Explode + ONE
    // hash agg on the ≤|langs| frame.
    "llm_entity_density" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(substring(col("w"), 1, 1).between("A", "Z"), 1L)
            .otherwise(0L)).as("n_capitalized"))
        .withColumn("density_pm",
          expr("CAST((n_capitalized * 1000) div n_tokens AS BIGINT)"))
        .orderBy(col("lang"))
    }),

    // Language-ID confidence margin: the gap between each doc's top-2
    // candidate-language hit counts (margin 0 = coin flip, route to
    // human review; large margin = trust the label). Reuses langHits'
    // broadcast profile join; the top-2 ranking collapses to
    // WindowGroupLimit. Docs hitting only one profile report the full
    // h1 as margin (h2 = 0, declared).
    "llm_lang_margin" -> ((s, dir) => {
      val wd = Window.partitionBy(col("doc_id"))
        .orderBy(desc("hits"), asc("cand_lang"))
      langHits(s, dir)
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") <= 2)
        .groupBy(col("doc_id"))
        .agg(max(when(col("rn") === 1, col("cand_lang")))
          .as("pred_lang"),
          max(when(col("rn") === 1, col("hits"))).as("h1"),
          coalesce(max(when(col("rn") === 2, col("hits"))), lit(0L))
            .as("h2"))
        .select(col("doc_id"), col("pred_lang"), col("h1"), col("h2"),
          (col("h1") - col("h2")).as("margin"))
        .orderBy(col("doc_id"))
    }),

    // Corpus bigram conditional entropy H(next word | word) in the
    // DECLARED floor-log2 quantization: per-bigram surprisal =
    // LB(c_x) − LB(c_xy) (non-negative — LB is monotone and
    // c_xy ≤ c_x), H_mb = 1000·Σ c_xy·(LB(c_x) − LB(c_xy)) div N —
    // llm_surprisal's idiom conditioned on the previous token. LOW
    // conditional entropy = templated/boilerplate corpus. Bigrams
    // need the size ≥ 2 guard (Spark sequence counts DOWN otherwise).
    // ONE bigram explode + two bounded hash aggs.
    "llm_cond_entropy" -> ((s, dir) => {
      val bi = Tables(s, dir, "documents")
        .select(split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i-1] AS x, toks[i] AS y))")).as("b"))
        .select(col("b.x").as("x"), col("b.y").as("y"))
      val cxy = bi.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("c"))
      val cx = cxy.groupBy(col("x")).agg(sum(col("c")).as("cx"))
      cxy.join(cx, "x")
        .agg(sum(col("c")).as("n_bigrams"),
          count(lit(1)).as("n_distinct_bigrams"),
          sum(expr("c * (CAST(length(bin(cx)) AS BIGINT) - " +
            "CAST(length(bin(c)) AS BIGINT))")).as("hs"))
        .select(col("n_bigrams"), col("n_distinct_bigrams"),
          expr("CAST((hs * 1000) div n_bigrams AS BIGINT)")
            .as("cond_entropy_mb"))
    }),

    // Non-ASCII density (the script detector that needs NO regex or
    // table: multibyte UTF-8 bytes = octet_length − character length,
    // both codegen'd builtins in both engines): per-doc permille of
    // multibyte bytes, rolled up per labeled language — the zh/ja/ko
    // routing signal and another mislabeled-shard tripwire.
    // Scan-proportional, ONE projection + ONE ≤|langs| hash agg.
    "llm_nonascii_density" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("lang"),
          length(col("text")).cast("long").as("n_chars_len"),
          (octet_length(col("text")) - length(col("text")))
            .cast("long").as("n_mb_bytes"))
        .filter(col("n_chars_len") > 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars_len")).as("n_chars_total"),
          sum(col("n_mb_bytes")).as("n_multibyte"))
        .withColumn("density_pm",
          expr("CAST((n_multibyte * 1000) div n_chars_total " +
            "AS BIGINT)"))
        .orderBy(col("lang"))
    }),

    // Per-document perplexity under the corpus bigram LM, in the
    // DECLARED floor-log2 quantization (the per-doc sibling of
    // llm_cond_entropy, conditioned like llm_surprisal is not):
    // mean bigram surprisal = Σ(LB(c_x) − LB(c_xy))·1000 div
    // n_bigrams. High = novel/rare phrasing, low = boilerplate. The
    // corpus LM is ONE bounded bigram-count frame joined back on the
    // bigram key — the llm_surprisal plan shape with a 2-token key.
    "llm_doc_perplexity" -> ((s, dir) => {
      val bi = Tables(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i-1] AS x, toks[i] AS y))")).as("b"))
        .select(col("doc_id"), col("b.x").as("x"), col("b.y").as("y"))
      val cxy = bi.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).as("c"))
      val cx = cxy.groupBy(col("x")).agg(sum(col("c")).as("cx"))
      bi.join(cxy, Seq("x", "y")).join(cx, Seq("x"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(expr("CAST(length(bin(cx)) AS BIGINT) - " +
            "CAST(length(bin(c)) AS BIGINT)")).as("hs"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("CAST((hs * 1000) div n_bigrams AS BIGINT)")
            .as("surprisal_mb"))
        .orderBy(col("doc_id"))
    })
  )

  def oracle: Map[String, String] = Map(
    "llm_bpe_train" -> bpeTrainSql(spark = false, "documents"),
    "llm_bpe_apply" -> bpeApplySql(spark = false, "documents"),

    "llm_length_pctile" ->
      """WITH r AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY n_chars, doc_id) AS rk,
        |    count(*) OVER (PARTITION BY lang, source) AS n
        |  FROM documents)
        |SELECT doc_id, lang, source, n_chars,
        |  CAST(CASE WHEN n > 1 THEN ((rk - 1) * 1000) // (n - 1)
        |       ELSE 500 END AS BIGINT) AS pctile_permille
        |FROM r ORDER BY doc_id""".stripMargin,

    "llm_readability" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
        |      AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sents,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
        |      AS BIGINT) AS n_syll
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_words, n_sents, n_syll,
        |    206835 - (1015 * n_words) // n_sents
        |           - (84600 * n_syll) // n_words AS fre_milli
        |  FROM b WHERE n_words > 0)
        |SELECT doc_id, n_words, n_sents, n_syll,
        |  CAST(fre_milli AS BIGINT) AS fre_milli,
        |  CASE WHEN fre_milli >= 90000 THEN 'very_easy'
        |       WHEN fre_milli >= 60000 THEN 'standard'
        |       WHEN fre_milli >= 30000 THEN 'difficult'
        |       ELSE 'very_difficult' END AS band
        |FROM f ORDER BY doc_id""".stripMargin,

    "llm_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), t2 AS (SELECT * FROM t WHERE w <> ''),
        |profile AS (
        |  SELECT lang AS cand_lang, w AS pw FROM (
        |    SELECT lang, w, row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, w ASC) AS rn
        |    FROM t2 GROUP BY lang, w)
        |  WHERE rn <= 5
        |), hits AS (
        |  SELECT doc_id, cand_lang, count(*) AS hits
        |  FROM t2 JOIN profile ON w = pw
        |  GROUP BY doc_id, cand_lang)
        |SELECT doc_id, cand_lang AS pred_lang, hits FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY hits DESC, cand_lang ASC) AS rn FROM hits)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "llm_lang_mismatch" ->
      """WITH t AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), t2 AS (SELECT * FROM t WHERE w <> ''),
        |profile AS (
        |  SELECT lang AS cand_lang, w AS pw FROM (
        |    SELECT lang, w, row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, w ASC) AS rn
        |    FROM t2 GROUP BY lang, w)
        |  WHERE rn <= 5
        |), hits AS (
        |  SELECT doc_id, cand_lang, count(*) AS hits
        |  FROM t2 JOIN profile ON w = pw
        |  GROUP BY doc_id, cand_lang),
        |pred AS (
        |  SELECT doc_id, cand_lang AS pred_lang FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY hits DESC, cand_lang ASC) AS rn FROM hits)
        |  WHERE rn = 1),
        |cm AS (
        |  SELECT d.lang, p.pred_lang, count(*) AS n_docs
        |  FROM documents d JOIN pred p USING (doc_id)
        |  GROUP BY d.lang, p.pred_lang)
        |SELECT lang, pred_lang, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST((n_docs * 1000) //
        |    CAST(sum(n_docs) OVER (PARTITION BY lang) AS BIGINT)
        |    AS BIGINT) AS share_pm
        |FROM cm ORDER BY lang, pred_lang""".stripMargin,

    "llm_quality_score" ->
      """SELECT doc_id,
        |  least(len(string_split(text, ' ')), 100) AS q_len,
        |  CAST(len(list_distinct(string_split(text, ' '))) * 100
        |    // len(string_split(text, ' ')) AS INT) AS q_div,
        |  least(len(string_split(text, ' ')), 100) +
        |  CAST(len(list_distinct(string_split(text, ' '))) * 100
        |    // len(string_split(text, ' ')) AS INT) AS score
        |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_token_count" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '$bpeIsh')) AS INT) AS bpe_tokens,
         |  CAST(n_chars // len(regexp_extract_all(text, '$bpeIsh')) AS INT)
         |    AS chars_per_tok
         |FROM documents ORDER BY doc_id""".stripMargin,

    "llm_word_burstiness" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |g AS (
        |  SELECT w, count(*) AS tf,
        |    count(DISTINCT doc_id) AS df
        |  FROM t WHERE w <> '' GROUP BY w)
        |SELECT w, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST((tf * 1000) // df AS BIGINT) AS burstiness_milli
        |FROM g ORDER BY tf DESC, w LIMIT 50""".stripMargin,

    "llm_tokenizer_fertility" ->
      s"""WITH d AS (
         |  SELECT lang, n_chars,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
         |    CAST(len(regexp_extract_all(text, '$bpeIsh')) AS BIGINT)
         |      AS bpe
         |  FROM documents),
         |g AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(ws) AS BIGINT) AS ws_tokens,
         |    CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM d GROUP BY lang)
         |SELECT lang, n_docs, ws_tokens, bpe_tokens, n_chars,
         |  CAST((bpe_tokens * 1000) // ws_tokens AS BIGINT)
         |    AS fertility_pm,
         |  CAST((n_chars * 1000) // bpe_tokens AS BIGINT)
         |    AS chars_per_tok_milli
         |FROM g ORDER BY lang""".stripMargin,

    // The scrubbed payload keeps its shape ('{"k": <NUM>}'), so the
    // redaction is verifiable value-by-value, not just by count.
    "llm_pii_scrub" ->
      """SELECT event_id, event_type,
        |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT)
        |    AS n_redacted
        |FROM events
        |ORDER BY event_id""".stripMargin,

    "llm_fingerprint" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(sum(pos * (131 * length(w) + ascii(w))) % 1000000007
        |    AS BIGINT) AS fingerprint
        |FROM t WHERE w <> ''
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_mlm_mask" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, pos, w,
        |    substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |      CAST(pos AS VARCHAR)), 1, 4) < '2666' AS m
        |  FROM t)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked,
        |  coalesce(string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos)
        |    FILTER (WHERE m), '') AS mask_pos,
        |  md5(string_agg(CASE WHEN m THEN '[MASK]' ELSE w END, ' '
        |    ORDER BY pos)) AS masked_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_span_corruption" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, pos, w,
        |    ((pos - 1 + doc_id % 20) % 20) < 3 AS m,
        |    ((pos - 1 + doc_id % 20) % 20) = 0 OR
        |      (pos = 1 AND ((pos - 1 + doc_id % 20) % 20) < 3) AS rs,
        |    (pos - 1 + doc_id % 20) // 20 AS k
        |  FROM t)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_tok,
        |  CAST(sum(CASE WHEN m THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_masked,
        |  CAST(sum(CASE WHEN rs THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_spans,
        |  md5(coalesce(string_agg(
        |    CASE WHEN NOT m THEN w
        |      WHEN rs THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
        |    END, ' ' ORDER BY pos) FILTER (WHERE NOT m OR rs), ''))
        |    AS input_md5,
        |  md5(coalesce(string_agg(
        |    CASE WHEN rs THEN
        |      '<extra_id_' || CAST(k AS VARCHAR) || '> ' || w
        |      WHEN m THEN w END, ' ' ORDER BY pos)
        |    FILTER (WHERE m), '')) AS target_md5
        |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_gini" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), t2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
        |tc AS (SELECT doc_id, w, count(*) AS c FROM t2
        |       GROUP BY doc_id, w),
        |d AS (SELECT doc_id, sum(c) AS n_tok, count(*) AS n_distinct,
        |        sum(c * c) AS ss, max(c) AS maxc
        |      FROM tc GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(n_distinct AS BIGINT) AS n_distinct,
        |  CAST((ss * 1000) // (n_tok * n_tok) AS BIGINT)
        |    AS hhi_permille,
        |  CAST((maxc * 1000) // n_tok AS BIGINT) AS top_share_permille
        |FROM d ORDER BY doc_id""".stripMargin,

    "llm_bpe_pairs" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |), t2 AS (SELECT w FROM t WHERE len(w) >= 2),
        |p AS (
        |  SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        |  FROM t2),
        |pr AS (SELECT substr(w, i, 2) AS pair FROM p)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n
        |FROM pr GROUP BY pair
        |ORDER BY n DESC, pair
        |LIMIT 10""".stripMargin,

    "llm_pmi" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, ' '), 1) AS pos,
        |    unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), big AS (
        |  SELECT a.w AS w1, b.w AS w2
        |  FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.w <> '' AND b.w <> ''
        |), cxy AS (
        |  SELECT w1, w2, count(*) AS c_xy FROM big GROUP BY w1, w2
        |  HAVING count(*) >= 5
        |), cw AS (
        |  SELECT w, count(*) AS c FROM t WHERE w <> '' GROUP BY w
        |), tot AS (SELECT count(*) AS n_total FROM t WHERE w <> '')
        |SELECT w1, w2, c_xy, cx.c AS c_x, cy.c AS c_y,
        |  CAST((CAST(c_xy AS HUGEINT) * n_total * 1000000)
        |       // (CAST(cx.c AS HUGEINT) * cy.c) AS BIGINT) AS pmi_x1e6
        |FROM cxy
        |JOIN cw cx ON w1 = cx.w
        |JOIN cw cy ON w2 = cy.w, tot
        |ORDER BY pmi_x1e6 DESC, w1, w2
        |LIMIT 20""".stripMargin,

    "llm_unigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), t2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
        |cw AS (SELECT w, count(*) AS c FROM t2 GROUP BY w),
        |tot AS (SELECT count(*) AS n_total FROM t2),
        |per AS (
        |  SELECT doc_id, (c * 1000000) // n_total AS ppm, c
        |  FROM t2 JOIN cw USING (w), tot)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(ppm) // count(*) AS BIGINT) AS mean_ppm,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax
        |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_hash_embed" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |t2 AS (SELECT doc_id, w FROM tok WHERE w <> '')
        |SELECT doc_id,
        |  CAST('0x' || substring(md5(w), 1, 8) AS BIGINT) % 64 AS b,
        |  CAST(count(*) AS BIGINT) AS c
        |FROM t2 GROUP BY doc_id, b
        |ORDER BY doc_id, b""".stripMargin,

    "llm_corpus_card" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS arr
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_words,
        |    CAST(CAST(list_sum(list_transform(arr, x -> length(x)))
        |      AS BIGINT) * 100 // len(arr) AS INT) AS mwl,
        |    len(list_intersect(list_distinct(arr),
        |      ['the', 'a', 'of', 'to', 'and'])) AS n_stop
        |  FROM w),
        |k AS (
        |  SELECT doc_id, n_words,
        |    (n_words BETWEEN 20 AND 100000)
        |      AND (mwl BETWEEN 300 AND 1000) AND n_stop >= 2 AS keep
        |  FROM m),
        |e AS (
        |  SELECT d.doc_id, lang, source, n_chars, md5(text) AS digest,
        |    n_words, keep
        |  FROM documents d JOIN k ON d.doc_id = k.doc_id),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(count(DISTINCT digest) AS BIGINT) AS n_unique,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_keep
        |  FROM e)
        |SELECT metric, CAST(value AS BIGINT) AS value FROM (
        |  SELECT 'exact_dup_docs' AS metric, n_docs - n_unique AS value
        |    FROM s
        |  UNION ALL SELECT 'gopher_pass_permille',
        |    (n_keep * 1000) // n_docs FROM s
        |  UNION ALL SELECT 'mean_doc_chars', sum_chars // n_docs FROM s
        |  UNION ALL SELECT 'n_docs', n_docs FROM s
        |  UNION ALL SELECT 'n_langs', n_langs FROM s
        |  UNION ALL SELECT 'n_sources', n_sources FROM s
        |  UNION ALL SELECT 'n_tokens', n_tokens FROM s)
        |ORDER BY metric""".stripMargin,

    "llm_boilerplate" ->
      """WITH d AS (
        |  SELECT source,
        |    array_to_string(
        |      list_filter(string_split(text, ' '), w -> w <> '')[1:5],
        |      ' ') AS prefix
        |  FROM documents),
        |pc AS (
        |  SELECT source, prefix, count(*) AS n_pref
        |  FROM d GROUP BY source, prefix),
        |sz AS (SELECT source, count(*) AS n_docs FROM d GROUP BY source),
        |top AS (
        |  SELECT source, prefix AS top_prefix, n_pref
        |  FROM (SELECT *, row_number() OVER (PARTITION BY source
        |          ORDER BY n_pref DESC, prefix ASC) AS rn FROM pc)
        |  WHERE rn = 1)
        |SELECT top.source, top_prefix, CAST(n_pref AS BIGINT) AS n_pref,
        |  CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST((CAST(n_pref AS HUGEINT) * 1000) // n_docs AS BIGINT)
        |    AS share_permille
        |FROM top JOIN sz ON top.source = sz.source
        |ORDER BY top.source""".stripMargin,

    "llm_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), t2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
        |vocab AS (
        |  SELECT w FROM (
        |    SELECT w, count(*) AS n FROM t2 GROUP BY w
        |    ORDER BY n DESC, w LIMIT 1000)),
        |per AS (
        |  SELECT doc_id,
        |    CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END AS oov
        |  FROM t2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |  CAST(sum(oov) AS BIGINT) AS n_oov,
        |  CAST((CAST(sum(oov) AS HUGEINT) * 1000) // count(*) AS BIGINT)
        |    AS oov_permille
        |FROM per GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_ccnet_bucket" ->
      """WITH tok AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), t2 AS (SELECT doc_id, lang, w FROM tok WHERE w <> ''),
        |cw AS (SELECT w, count(*) AS c FROM t2 GROUP BY w),
        |tot AS (SELECT count(*) AS n_total FROM t2),
        |per AS (
        |  SELECT doc_id, lang, (c * 1000000) // n_total AS ppm
        |  FROM t2 JOIN cw USING (w), tot),
        |ds AS (
        |  SELECT doc_id, lang,
        |    CAST(sum(ppm) // count(*) AS BIGINT) AS mean_ppm
        |  FROM per GROUP BY doc_id, lang),
        |cuts AS (
        |  SELECT lang, quantile_disc(mean_ppm, 0.33) AS c33,
        |    quantile_disc(mean_ppm, 0.67) AS c67
        |  FROM ds GROUP BY lang)
        |SELECT ds.lang,
        |  CASE WHEN mean_ppm <= c33 THEN 'tail'
        |       WHEN mean_ppm <= c67 THEN 'middle'
        |       ELSE 'head' END AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(min(mean_ppm) AS BIGINT) AS min_ppm,
        |  CAST(max(mean_ppm) AS BIGINT) AS max_ppm
        |FROM ds JOIN cuts USING (lang)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "llm_winnow" ->
      """WITH p AS (
        |  SELECT doc_id, len(text) AS n, text,
        |    unnest(generate_series(0, len(text) - 8)) AS pos
        |  FROM documents WHERE len(text) >= 11
        |), kg AS (
        |  SELECT doc_id, n, pos,
        |    (CAST(ascii(substr(text, pos + 1, 1)) AS BIGINT) * 1
        |     + CAST(ascii(substr(text, pos + 2, 1)) AS BIGINT) * 131
        |     + CAST(ascii(substr(text, pos + 3, 1)) AS BIGINT) * 17161
        |     + CAST(ascii(substr(text, pos + 4, 1)) AS BIGINT) * 2248091
        |     + CAST(ascii(substr(text, pos + 5, 1)) AS BIGINT)
        |       * 294499921
        |     + CAST(ascii(substr(text, pos + 6, 1)) AS BIGINT)
        |       * 38579489651
        |     + CAST(ascii(substr(text, pos + 7, 1)) AS BIGINT)
        |       * 5053913144281
        |     + CAST(ascii(substr(text, pos + 8, 1)) AS BIGINT)
        |       * 662062621900811)
        |    % 1099511627776 AS h
        |  FROM p
        |), sel AS (
        |  SELECT doc_id, n, pos,
        |    min(h * 1048576 + pos) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
        |  FROM kg
        |), fp AS (
        |  SELECT DISTINCT doc_id, sel FROM sel WHERE pos <= n - 11
        |)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_fp,
        |  md5(string_agg(CAST(sel AS VARCHAR), ',' ORDER BY sel))
        |    AS fp_digest
        |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |  FROM documents
        |), tok2 AS (SELECT doc_id, w FROM tok WHERE w <> ''),
        |tf AS (SELECT doc_id, w AS term, count(*) AS tf
        |       FROM tok2 GROUP BY doc_id, w),
        |dfreq AS (SELECT w AS term, count(DISTINCT doc_id) AS df
        |          FROM tok2 GROUP BY w)
        |SELECT doc_id, term, tf, df, score FROM (
        |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
        |    (tf.tf * 1000000) // dfreq.df AS score,
        |    row_number() OVER (
        |      PARTITION BY tf.doc_id
        |      ORDER BY (tf.tf * 1000000) // dfreq.df DESC, tf.term) AS rn
        |  FROM tf JOIN dfreq USING (term))
        |WHERE rn <= 3
        |ORDER BY doc_id, term""".stripMargin,

    "llm_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |base AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens FROM t),
        |bc AS (SELECT doc_id, gram, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS gram FROM t)
        |  GROUP BY doc_id, gram),
        |b2 AS (SELECT doc_id, max(c) AS top2 FROM bc GROUP BY doc_id),
        |tc AS (SELECT doc_id, gram, count(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS gram
        |    FROM t)
        |  GROUP BY doc_id, gram),
        |t3 AS (SELECT doc_id,
        |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
        |           AS dup3
        |       FROM tc GROUP BY doc_id)
        |SELECT b.doc_id, b.n_tokens, b2.top2,
        |  (b2.top2 * 2 * 1000) // b.n_tokens AS top2_permille,
        |  (t3.dup3 * 1000) // (b.n_tokens - 2) AS dup3_permille,
        |  ((b2.top2 * 2 * 1000) // b.n_tokens < 200 AND
        |   (t3.dup3 * 1000) // (b.n_tokens - 2) < 300) AS keep
        |FROM base b JOIN b2 USING (doc_id) JOIN t3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "llm_vocab" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |counts AS (SELECT w, count(*) AS n FROM tok
        |           WHERE w <> '' GROUP BY w),
        |total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
        |top AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w)
        |          AS rank
        |        FROM counts ORDER BY n DESC, w LIMIT 100)
        |SELECT rank, w AS token, n,
        |  CAST((sum(n) OVER (ORDER BY rank) * 1000) // total AS BIGINT)
        |    AS cum_permille
        |FROM top, total
        |ORDER BY rank""".stripMargin,

    "llm_ngram_stats" ->
      """WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(toks)),
        |        i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
        |      FROM t),
        |pairs AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS n_pair
        |          FROM b GROUP BY 1, 2),
        |heads AS (SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_head
        |          FROM pairs GROUP BY w1
        |          ORDER BY n_head DESC, w1 LIMIT 10),
        |r AS (SELECT pairs.w1, w2, n_pair, n_head,
        |        row_number() OVER (PARTITION BY pairs.w1
        |          ORDER BY n_pair DESC, w2) AS rnk
        |      FROM pairs JOIN heads ON pairs.w1 = heads.w1)
        |SELECT w1, w2, n_pair, n_head,
        |  (n_pair * 1000) // n_head AS cond_permille, rnk
        |FROM r WHERE rnk <= 3
        |ORDER BY w1, rnk""".stripMargin,

    "llm_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |        range(1, len(toks) - 2),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |             || ' ' || toks[i+3]))) AS gram FROM t)
        |SELECT tr.doc_id,
        |  count(DISTINCT tr.gram) AS n_shared_grams,
        |  count(DISTINCT be.doc_id) AS n_bench_docs
        |FROM g tr JOIN g be
        |  ON tr.gram = be.gram AND be.doc_id % 50 = 0
        |WHERE tr.doc_id % 50 <> 0
        |GROUP BY tr.doc_id
        |ORDER BY tr.doc_id""".stripMargin,

    "llm_chunk_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |    toks[(i * 20 + 1):(i * 20 + 30)] AS chunk_toks
        |  FROM t, unnest(range(0, (len(toks) - 1) // 20 + 1)) AS u(i))
        |SELECT doc_id, chunk_idx,
        |  CAST(len(chunk_toks) AS INT) AS n_chunk_toks,
        |  array_to_string(chunk_toks, ' ') AS chunk
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "llm_quality_gopher" ->
      """WITH w AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, ' '), x -> x <> '') AS arr
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(len(arr) AS INT) AS n_words,
        |    CAST(CAST(list_sum(list_transform(arr, x -> length(x)))
        |      AS BIGINT) * 100 // len(arr) AS INT) AS mean_wlen_x100,
        |    CAST(len(list_intersect(list_distinct(arr),
        |      ['the', 'a', 'of', 'to', 'and'])) AS INT) AS n_stop
        |  FROM w)
        |SELECT doc_id, n_words, mean_wlen_x100, n_stop,
        |  n_words BETWEEN 20 AND 100000 AS wc_ok,
        |  mean_wlen_x100 BETWEEN 300 AND 1000 AS wlen_ok,
        |  n_stop >= 2 AS stop_ok,
        |  (n_words BETWEEN 20 AND 100000)
        |    AND (mean_wlen_x100 BETWEEN 300 AND 1000)
        |    AND n_stop >= 2 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,

    "llm_code_detect" ->
      """WITH d AS (
        |  SELECT source, CAST(length(text) AS BIGINT) AS len,
        |    CAST(length(text) -
        |      length(translate(text, '{};=()', '')) AS BIGINT)
        |      AS n_special
        |  FROM documents WHERE length(text) > 0),
        |s AS (
        |  SELECT source,
        |    CAST((n_special * 1000) // len AS BIGINT) AS score_pm
        |  FROM d)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN score_pm >= 15 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_code,
        |  CAST(sum(score_pm) // count(*) AS BIGINT) AS mean_score_pm
        |FROM s GROUP BY source ORDER BY source""".stripMargin,

    "llm_word_len_hist" ->
      """WITH t AS (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |t2 AS (SELECT * FROM t WHERE w <> ''),
        |c AS (
        |  SELECT CAST(least(length(w), 20) AS BIGINT) AS word_len,
        |    CAST(count(*) AS BIGINT) AS n_words
        |  FROM t2 GROUP BY 1)
        |SELECT word_len, n_words,
        |  CAST((CAST(n_words AS HUGEINT) * 1000000) //
        |    CAST(sum(n_words) OVER () AS HUGEINT) AS BIGINT)
        |    AS share_ppm
        |FROM c ORDER BY word_len""".stripMargin,

    "llm_entity_density" ->
      """WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |t2 AS (SELECT * FROM t WHERE w <> '')
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN substring(w, 1, 1) BETWEEN 'A' AND 'Z'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_capitalized,
        |  CAST((sum(CASE WHEN substring(w, 1, 1) BETWEEN 'A' AND 'Z'
        |    THEN 1 ELSE 0 END) * 1000) // count(*) AS BIGINT)
        |    AS density_pm
        |FROM t2 GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_lang_margin" ->
      """WITH t AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
        |  FROM documents),
        |t2 AS (SELECT * FROM t WHERE w <> ''),
        |profile AS (
        |  SELECT lang AS cand_lang, w AS pw FROM (
        |    SELECT lang, w, row_number() OVER (PARTITION BY lang
        |      ORDER BY count(*) DESC, w ASC) AS rn
        |    FROM t2 GROUP BY lang, w)
        |  WHERE rn <= 5),
        |hits AS (
        |  SELECT doc_id, cand_lang, CAST(count(*) AS BIGINT) AS hits
        |  FROM t2 JOIN profile ON w = pw
        |  GROUP BY doc_id, cand_lang),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY hits DESC, cand_lang ASC) AS rn FROM hits)
        |SELECT doc_id,
        |  max(CASE WHEN rn = 1 THEN cand_lang END) AS pred_lang,
        |  max(CASE WHEN rn = 1 THEN hits END) AS h1,
        |  coalesce(max(CASE WHEN rn = 2 THEN hits END), 0) AS h2,
        |  max(CASE WHEN rn = 1 THEN hits END) -
        |    coalesce(max(CASE WHEN rn = 2 THEN hits END), 0) AS margin
        |FROM r WHERE rn <= 2 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "llm_cond_entropy" ->
      """WITH d AS (SELECT string_split(text, ' ') AS toks
        |           FROM documents),
        |f AS (SELECT toks FROM d WHERE len(toks) >= 2),
        |b AS (
        |  SELECT toks[i] AS x, toks[i + 1] AS y
        |  FROM f, unnest(range(1, len(toks))) t(i)),
        |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
        |        FROM b GROUP BY x, y),
        |cx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cxy
        |       GROUP BY x),
        |j AS (SELECT c, cx FROM cxy JOIN cx USING (x))
        |SELECT CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
        |  CAST((sum(c * (CAST(length(bin(cx)) AS BIGINT)
        |    - CAST(length(bin(c)) AS BIGINT))) * 1000) // sum(c)
        |    AS BIGINT) AS cond_entropy_mb
        |FROM j""".stripMargin,

    "llm_nonascii_density" ->
      """WITH d AS (
        |  SELECT lang, CAST(length(text) AS BIGINT) AS n_chars_len,
        |    CAST(strlen(text) - length(text) AS BIGINT)
        |      AS n_mb_bytes
        |  FROM documents WHERE length(text) > 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars_len) AS BIGINT) AS n_chars_total,
        |  CAST(sum(n_mb_bytes) AS BIGINT) AS n_multibyte,
        |  CAST((sum(n_mb_bytes) * 1000) // sum(n_chars_len)
        |    AS BIGINT) AS density_pm
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin,

    "llm_doc_perplexity" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |f AS (SELECT * FROM d WHERE len(toks) >= 2),
        |b AS (
        |  SELECT doc_id, toks[i] AS x, toks[i + 1] AS y
        |  FROM f, unnest(range(1, len(toks))) t(i)),
        |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
        |        FROM b GROUP BY x, y),
        |cx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cxy
        |       GROUP BY x),
        |j AS (
        |  SELECT doc_id,
        |    CAST(length(bin(cx)) AS BIGINT)
        |      - CAST(length(bin(c)) AS BIGINT) AS sb
        |  FROM b JOIN cxy USING (x, y) JOIN cx USING (x))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST((sum(sb) * 1000) // count(*) AS BIGINT)
        |    AS surprisal_mb
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
