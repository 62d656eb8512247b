package graft.functions

import graft.{QueryDef, Tables}
import graft.operators.Loop
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis toolkit for large-scale training-data pipelines
  * (north-star scope, BASELINE.json): tokenization, language-ID heuristic,
  * quality scoring, document fingerprinting. Everything is built from
  * codegen'd `org.apache.spark.sql.functions` — no UDFs — so the whole
  * pipeline stays inside WholeStageCodegen and scales linearly with
  * partition count.
  *
  * Generalizes the reference's only text operation (multi-column lowercase
  * substring search, src/app/streamlit_app.py:238-248) to the document-
  * corpus operations a 100 TB pipeline needs.
  */
object TextAnalysis {

  /** Whitespace tokens. */
  def wsTokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(wsTokens(text))

  /** BPE-ish subword-unit count: runs of lowercase letters or digits
    * (a cheap, deterministic proxy for a real tokenizer's piece count). */
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z0-9]+"), lit(0)))

  /** Count of English stopword hits (n-gram language-ID heuristic signal). */
  def enStopwordHits(text: Column): Column =
    size(regexp_extract_all(text, lit("\\b(the|and|of|to|in)\\b"), lit(0)))

  /** Heuristic language-ID from stopword density: >=2 English stopword hits
    * → en, exactly 1 → mixed, else other. A real profile would score
    * several languages' n-gram tables; the shape (pure expressions, no
    * shuffle) is what matters at scale.
    */
  def languageGuess(text: Column): Column = {
    val hits = enStopwordHits(text)
    when(hits >= 2, "en").when(hits === 1, "mixed").otherwise("other")
  }

  /** Stopword profiles for the n-gram language-ID heuristic. */
  val langProfiles: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in)\\b",
    "de" -> "\\b(der|die|das|und|nicht)\\b",
    "es" -> "\\b(el|la|los|que|y)\\b",
    "fr" -> "\\b(le|la|les|et|des)\\b")

  /** Per-language stopword hit count. */
  def profileHits(text: Column, pattern: String): Column =
    size(regexp_extract_all(text, lit(pattern), lit(0)))

  /** Punctuation character count (quality-scoring signal). */
  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0)))

  /** Stable document fingerprint: md5 of the trimmed, lowercased text.
    * (The rolling-hash shingle fingerprint lives in Dedup.minhashSignature.)
    */
  def fingerprint(text: Column): Column = md5(lower(trim(text)))

  val defs: Seq[QueryDef] = Seq(

    // inverted index build — the search-engine staple over a corpus:
    // term → document frequency, total term frequency, and the full
    // postings list as a SORTED array<struct<doc_id,pos>> (0-based token
    // positions, so phrase queries can check adjacency). One posexplode
    // (rows = total tokens, the index's own size) and one hash aggregate
    // keyed on the term — the same shuffle law as word count; postings
    // arrays are per-term, so a 100 TB build is bounded by its most
    // frequent kept term, which the df floor keeps to genuinely common
    // vocabulary (stop-word-scale terms are exactly what a real indexer
    // handles specially anyway). sort_array on the struct gives one
    // canonical order under any aggregation schedule; the postings list
    // is then serialized to a canonical JSON string — nested
    // array<struct> survives parquet fine, but the driver's hash
    // comparator (pandas sort_values) can't hash ndarray cells, so the
    // declared surface emits the string form on both sides.
    QueryDef(
      "q_inverted_index",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .withColumnRenamed("col", "tok")
        .groupBy("tok")
        .agg(
          countDistinct("doc_id").as("df"),
          count(lit(1)).as("tf_total"),
          to_json(sort_array(collect_list(struct(col("doc_id"), col("pos")))))
            .as("postings"))
        .where(col("df") >= 25)
        .orderBy("tok"),
      Some("""WITH t AS (
             |  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, toks[u.i] AS tok
             |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |    LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u)
             |SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df,
             |  CAST(count(*) AS BIGINT) AS tf_total,
             |  CAST(to_json(list(struct_pack(doc_id := doc_id, pos := pos)
             |       ORDER BY doc_id, pos)) AS VARCHAR) AS postings
             |FROM t GROUP BY tok HAVING count(DISTINCT doc_id) >= 25
             |ORDER BY tok""".stripMargin)),

    // phrase search — the adjacency composition the positional index
    // exists for: find every occurrence of a two-token phrase by joining
    // token occurrences on (doc_id, pos+1). The phrase itself is chosen
    // from the data (most frequent bigram, ties broken lexically) so the
    // query is self-contained and the oracle pins both the selection and
    // the matches. Cost: one doc_id-keyed self-join over the token table
    // (both sides the same exchange) + a tiny broadcast top-1; at index
    // scale you'd probe the stored postings of the two rarest phrase
    // terms instead — same join, prefiltered input.
    QueryDef(
      "q_phrase_search",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .withColumnRenamed("col", "tok")
        val bigrams = toks.as("a")
          .join(toks.as("b"),
            col("a.doc_id") === col("b.doc_id") &&
              col("b.pos") === col("a.pos") + 1)
          .select(col("a.doc_id").as("doc_id"), col("a.pos").as("pos"),
            concat_ws(" ", col("a.tok"), col("b.tok")).as("phrase"))
        val top = bigrams.groupBy("phrase")
          .agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("phrase").asc)
          .limit(1).select("phrase")
        bigrams.join(top, "phrase")
          .select("doc_id", "pos", "phrase")
          .orderBy("doc_id", "pos")
      },
      Some("""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |bg AS (SELECT doc_id, CAST(u.i - 1 AS INT) AS pos,
             |    toks[u.i] || ' ' || toks[u.i + 1] AS phrase
             |  FROM tk, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u),
             |top AS (SELECT phrase FROM bg GROUP BY phrase
             |        ORDER BY count(*) DESC, phrase LIMIT 1)
             |SELECT b.doc_id, b.pos, b.phrase
             |FROM bg b JOIN top USING (phrase)
             |ORDER BY doc_id, pos""".stripMargin)),

    // U3 corpus stats per language (counts + exact integer sums only —
    // deterministic under any aggregation order)
    QueryDef(
      "q_text_stats",
      (s, d) => Tables.documents(s, d)
        .withColumn("n_tokens", tokenCount(col("text")))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("n_tokens").as("sum_tokens"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // KenLM-lite: corpus-trained bigram language-model score per document
    // (add-1 smoothed, avg log P(w2|w1)) — the model-based quality signal
    // next to the heuristic ones. The MODEL is a table (bigram counts ⋈
    // unigram counts ⋈ vocab scalar), trained and applied in the same
    // lineage; at 100 TB it would persist as a rollup and reapply by
    // join, exactly like q_hll_union_gate's stored sketches. Determinism:
    // each bigram's log-prob quantizes to integer micro-nats ONCE in the
    // model table (pure function of integer counts), so per-doc sums are
    // order-free integer adds; one division + round happens per doc.
    QueryDef(
      "q_bigram_lm",
      (s, d) => {
        // r15 optimization (guide §2.4): adjacent-token pairs derived
        // MAP-SIDE from the split array (l[i], l[i+1]) — the old
        // window-lead form shuffled and sorted the corpus-sized token
        // explode once PER CONSUMER of `pairs` (model build + scoring
        // join). The split array is bound to a COLUMN first: an inlined
        // split re-evaluates inside the transform lambda per element
        // (O(tokens²) per doc — measured 3× slower). Vocab is a row
        // count over the unigram table instead of a countDistinct
        // corpus pass. No caches: consumers share identical subtrees,
        // so ReuseExchange dedupes the corpus passes within the action
        // at any scale, without a materialization barrier.
        // r16 REFUTED (two same-session 100× A/B pairs): the
        // q_pmi_bigrams one-pass trick — deriving `uni` from a
        // (w1, next-or-NULL) grouped frame instead of this token
        // explode — measured 8.2→10.5 s min-of-2 / 10.0→13.9 cold at
        // 100×. This explode map-combines to ~vocab rows per task
        // (tiny shuffle, cheap rows); the fused form pays a
        // distinct-bigram-sized roll-up instead. pmi won because its
        // fusion ALSO removed two pinned caches; here there are none
        // to remove. Keep this form.
        // r16 ALSO REFUTED (same-session 100× noop A/B): pre-grouping
        // the scoring side per (doc_id, w1, w2) before the model join
        // (verdict item 8) measured 11.2 → 23.0 s — per-doc bigrams are
        // mostly unique, so the pre-agg compacts nothing and adds a
        // full corpus-sized exchange before the join's own.
        val dl = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("l"))
        val pairs = dl.where(size(col("l")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("l")) - 1),
            i => struct(element_at(col("l"), i).as("w1"),
              element_at(col("l"), i + 1).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val uni = dl.select(explode(col("l")).as("tok"))
          .groupBy(col("tok").as("u_w")).agg(count(lit(1)).as("c1"))
        val vocab = uni.agg(count(lit(1)).as("v"))
        val model = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
          .join(uni, col("w1") === col("u_w"))
          .crossJoin(vocab)
          .select(col("w1"), col("w2"),
            expr("CAST(round(ln((c12 + 1.0) / (c1 + v)) * 1000000) AS BIGINT)")
              .as("s_micro"))
        pairs.join(model, Seq("w1", "w2"))
          .groupBy("doc_id")
          .agg(sum("s_micro").as("sm"), count(lit(1)).as("n_bigrams"))
          .select(col("doc_id"), col("n_bigrams"),
            round(col("sm") / 1e6 / col("n_bigrams"), 4).as("avg_logp"))
          .orderBy("doc_id")
      },
      Some("""WITH pairs AS (
             |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
             |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) t),
             |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |uni AS (SELECT tok AS u_w, count(*) AS c1 FROM toks GROUP BY 1),
             |voc AS (SELECT count(DISTINCT tok) AS v FROM toks),
             |model AS (
             |  SELECT w1, w2,
             |    CAST(round(ln((c12 + 1.0) / (c1 + v)) * 1000000) AS BIGINT) AS s_micro
             |  FROM (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2)
             |  JOIN uni ON w1 = u_w CROSS JOIN voc)
             |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             |  round(CAST(sum(s_micro) AS BIGINT) / 1e6 / count(*), 4) AS avg_logp
             |FROM pairs p JOIN model USING (w1, w2)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Shannon token entropy per document (the quality signal next to
    // q_word_gini's collision diversity). Float summation order is the
    // cross-engine hazard, so each term c·ln(c) is quantized to integer
    // micro-nats BEFORE the sum — integer addition is order-free, ln is
    // taken only of small ints (identical doubles in both engines), and
    // H = ln(n) − Σ/1e6/n happens once per doc after aggregation.
    QueryDef(
      "q_token_entropy",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(
          sum(expr("CAST(round(c * ln(c) * 1000000) AS BIGINT)")).as("s_micro"),
          sum("c").as("n"))
        .select(col("doc_id"), col("n"),
          round(log(col("n")) - col("s_micro") / 1e6 / col("n"), 4).as("entropy"))
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
             |c AS (SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2),
             |g AS (SELECT doc_id,
             |        CAST(sum(CAST(round(c * ln(c) * 1000000) AS BIGINT)) AS BIGINT) AS s_micro,
             |        CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1)
             |SELECT doc_id, n, round(ln(n) - s_micro / 1e6 / n, 4) AS entropy
             |FROM g ORDER BY doc_id""".stripMargin)),

    // token counting: whitespace + BPE-ish regex pieces
    QueryDef(
      "q_token_count",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          tokenCount(col("text")).as("n_ws"),
          bpeishCount(col("text")).as("n_re"),
          col("n_chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
             |  CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS INT) AS n_re,
             |  n_chars
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // language-ID heuristic vs the labeled lang column
    QueryDef(
      "q_lang_id",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          enStopwordHits(col("text")).as("en_hits"),
          languageGuess(col("text")).as("guess"),
          col("lang"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) AS INT) AS en_hits,
             |  CASE WHEN len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) >= 2 THEN 'en'
             |       WHEN len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) = 1 THEN 'mixed'
             |       ELSE 'other' END AS guess,
             |  lang
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // multi-language profile scoring: hit counts per profile, argmax
    // guess with a deterministic tiebreak order (en > de > es > fr)
    QueryDef(
      "q_lang_profile",
      (s, d) => {
        val base = langProfiles.foldLeft(Tables.documents(s, d)) {
          case (df, (l, p)) => df.withColumn(l, profileHits(col("text"), p))
        }
        base.select(
          col("doc_id"), col("en"), col("de"), col("es"), col("fr"),
          when(col("en") >= col("de") && col("en") >= col("es") && col("en") >= col("fr"), "en")
            .when(col("de") >= col("es") && col("de") >= col("fr"), "de")
            .when(col("es") >= col("fr"), "es")
            .otherwise("fr").as("guess"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, en, de, es, fr,
             |  CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
             |       WHEN de >= es AND de >= fr THEN 'de'
             |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS guess
             |FROM (SELECT doc_id,
             |    CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) AS INT) AS en,
             |    CAST(len(regexp_extract_all(text, '\b(der|die|das|und|nicht)\b')) AS INT) AS de,
             |    CAST(len(regexp_extract_all(text, '\b(el|la|los|que|y)\b')) AS INT) AS es,
             |    CAST(len(regexp_extract_all(text, '\b(le|la|les|et|des)\b')) AS INT) AS fr
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // quality scoring: length / punctuation / stopword-density signals
    QueryDef(
      "q_quality_score",
      (s, d) => Tables.documents(s, d)
        .withColumn("n_tokens", tokenCount(col("text")))
        .withColumn("stop_hits", enStopwordHits(col("text")))
        .select(
          col("doc_id"), col("n_chars"), col("n_tokens"), col("stop_hits"),
          round(col("stop_hits").cast("double") / col("n_tokens"), 4).as("stop_ratio"),
          when(col("n_chars") >= 100 && col("stop_hits") >= 1, "good")
            .otherwise("low").as("quality"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars, n_tokens, stop_hits,
             |  round(CAST(stop_hits AS DOUBLE) / n_tokens, 4) AS stop_ratio,
             |  CASE WHEN n_chars >= 100 AND stop_hits >= 1 THEN 'good' ELSE 'low' END AS quality
             |FROM (SELECT doc_id, n_chars,
             |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             |    CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) AS INT) AS stop_hits
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    // edit-distance fuzzy matching on bounded prefixes (levenshtein is
    // O(m·n) per pair — at scale it runs only on LSH candidates, never
    // all pairs; the bounded pair set here mirrors that)
    QueryDef(
      "q_edit_distance",
      (s, d) => {
        val docs = Tables.documents(s, d).where(col("doc_id") < 10)
          .select(col("doc_id"), substring(col("text"), 1, 30).as("prefix"))
        val l = docs.select(col("doc_id").as("id1"), col("prefix").as("p1"))
        val r = docs.select(col("doc_id").as("id2"), col("prefix").as("p2"))
        l.join(broadcast(r), col("id1") < col("id2"))
          .select(col("id1"), col("id2"),
            levenshtein(col("p1"), col("p2")).as("dist"))
          .orderBy("id1", "id2")
      },
      Some("""SELECT a.doc_id AS id1, b.doc_id AS id2,
             |  CAST(levenshtein(substr(a.text, 1, 30), substr(b.text, 1, 30)) AS INT) AS dist
             |FROM documents a JOIN documents b ON a.doc_id < b.doc_id
             |WHERE a.doc_id < 10 AND b.doc_id < 10
             |ORDER BY id1, id2""".stripMargin)),

    // deterministic stratified sampling — the training-data curation op:
    // per-language sampling rates (downsample the dominant language,
    // keep more of the rare ones) driven by an md5 hash bucket of the
    // doc id, so the sample is reproducible on any engine and any run
    // (no RNG state, no seed drift), and membership is decided row-local
    // (no shuffle at all — a pure filter over the scan)
    QueryDef(
      "q_stratified_sample",
      (s, d) => {
        val bucket = substring(md5(concat(lit("s:"), col("doc_id"))), 1, 2)
        // hex threshold per stratum: en 25% (0x40/0x100), others 50%
        val keepBelow = when(col("lang") === "en", "40").otherwise("80")
        Tables.documents(s, d)
          .where(bucket < keepBelow)
          .select(col("doc_id"), col("lang"), bucket.as("bucket"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, substr(md5('s:' || doc_id), 1, 2) AS bucket
             |FROM documents
             |WHERE substr(md5('s:' || doc_id), 1, 2) <
             |  CASE WHEN lang = 'en' THEN '40' ELSE '80' END
             |ORDER BY doc_id""".stripMargin)),

    // per-document top terms by tf × inverse document frequency (linear
    // N/df weighting — ln(N/df) ranks identically but a libm ln can
    // differ cross-engine in the last ulp; division is IEEE-exact).
    // Ranking runs on the ROUNDED score with a term tiebreak so the
    // order is engine-portable. The shape is the standard corpus
    // keyword-extraction plan: one tokens shuffle feeds both tf and df,
    // and the 1-row corpus count broadcasts.
    QueryDef(
      "q_tfidf_terms",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        val dfreq = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
        val n = docs.agg(countDistinct("doc_id").as("n_docs"))
        val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
        tf.join(dfreq, "tok").crossJoin(n)
          .withColumn("score",
            round(col("tf").cast("double") * col("n_docs") / col("df"), 4))
          .withColumn("rn", row_number().over(w).cast("int"))
          .where(col("rn") <= 3)
          .select(col("doc_id"), col("tok"), col("tf"), col("df"), col("score"), col("rn"))
          .orderBy("doc_id", "rn")
      },
      Some("""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
             |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
             |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
             |sc AS (SELECT tf.doc_id, tf.tok, tf.tf, dfreq.df,
             |    round(CAST(tf.tf AS DOUBLE) * n.n_docs / dfreq.df, 4) AS score
             |  FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
             |r AS (SELECT doc_id, tok, tf, df, score,
             |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rn
             |  FROM sc)
             |SELECT doc_id, tok, tf, df, score, rn FROM r WHERE rn <= 3
             |ORDER BY doc_id, rn""".stripMargin)),

    // BM25 ranking (Lucene/Okapi form, k1=1.2 b=0.75) for a fixed
    // 3-term query — the retrieval scorer the inverted index + tf-idf
    // queries build toward. The term IN-list is applied to the exploded
    // tokens BEFORE any aggregation, so every shuffle is ∝ postings of
    // the query terms, not corpus size; corpus stats (N, total tokens)
    // and per-term df are broadcast. Per-term contributions are
    // quantized to integer micro-units before the per-doc sum
    // (order-free, cross-engine bit-exact — the q_chisq convention),
    // and the final top-20 is a TakeOrderedAndProject, never a global
    // sort. idf = ln(1 + (N−df+0.5)/(df+0.5)) is Lucene's
    // non-negative variant.
    QueryDef(
      "q_bm25",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs
          .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
            explode(split(col("text"), " ")).as("tok"))
          .where(col("tok").isin("dup", "scan", "spark"))
        val tf = toks.groupBy("doc_id", "tok", "dl").agg(count(lit(1)).as("tf"))
        val dfreq = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("tot_toks"))
        tf.join(broadcast(dfreq), "tok").crossJoin(stats)
          .select(col("doc_id"), expr(
            """CAST(round(
              |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
              |    * (tf * 2.2)
              |    / (tf + 1.2 * (0.25
              |        + 0.75 * dl / (CAST(tot_toks AS DOUBLE) / n_docs)))
              |    * 1000000) AS BIGINT)""".stripMargin).as("contrib_micro"))
          .groupBy("doc_id")
          .agg(round(sum("contrib_micro") / 1e6, 4).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id")).limit(20)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
             |    unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |q AS (SELECT * FROM t WHERE tok IN ('dup', 'scan', 'spark')),
             |tf AS (SELECT doc_id, tok, dl, count(*) AS tf FROM q GROUP BY 1, 2, 3),
             |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs,
             |    sum(len(string_split(text, ' '))) AS tot_toks FROM documents),
             |k AS (SELECT doc_id, CAST(round(
             |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             |      * (tf * 2.2)
             |      / (tf + 1.2 * (0.25
             |          + 0.75 * dl / (CAST(tot_toks AS DOUBLE) / n_docs)))
             |      * 1000000) AS BIGINT) AS contrib_micro
             |  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats)
             |SELECT doc_id, round(CAST(sum(contrib_micro) AS BIGINT) / 1e6, 4) AS bm25
             |FROM k GROUP BY doc_id
             |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin)),

    // pointwise mutual information over ADJACENT token pairs — the
    // collocation detector (which word pairs co-occur far above chance):
    // pmi(x,y) = ln(p(x,y) / (p(x)p(y))) with p(x,y) from bigram counts
    // and p(x) from unigram counts. All counts are exact integers from
    // map-side-combined hash aggs (shuffle ∝ distinct bigrams ≤ vocab²,
    // not corpus); probabilities divide through doubles BEFORE the ln so
    // planet-scale counts can't overflow an integer product. Count floor
    // ≥5 drops noise collocations; ordering is on the ROUNDED score so
    // both engines sort the same key.
    QueryDef(
      "q_pmi_bigrams",
      (s, d) => {
        // r15 optimization (guide §2.3 "aggregate before you shuffle" +
        // §2.4 "remove shuffles outright"): the old form exploded the
        // corpus TWICE — once into bigrams for c_xy, once into tokens
        // for the unigram counts — and pinned TWO caches whose builds
        // the bench pays per run. One pass subsumes both: emit one
        // (x = token at i, y = token at i+1 OR NULL at the last
        // position) row per token position, map-side from the split
        // array (`get` is 0-based and null-safe past the end, so the
        // last position yields y = NULL under ANSI mode); then
        //   bigram counts = the y IS NOT NULL slice, and
        //   unigram counts = Σ_y c(x, y) — every occurrence of a token
        //   is the x of exactly one position row, so the roll-up over
        //   the ≤ vocab²+vocab grouped table IS the token count.
        // The split array is BOUND TO A COLUMN first: referencing the
        // split(...) expression inside the transform lambda re-evaluates
        // it per element (O(tokens²) per doc — measured 3× slower).
        // No cache at all: every consumer shares the identical grouped
        // subtree, so ReuseExchange dedupes the corpus pass within the
        // one action — at ANY scale — without a materialization barrier.
        val grouped = Tables.documents(s, d)
          .select(split(col("text"), " ").as("l"))
          .select(explode(transform(sequence(lit(1), size(col("l"))),
            i => struct(element_at(col("l"), i).as("x"),
              get(col("l"), i).as("y")))).as("b"))
          .select(col("b.x").as("x"), col("b.y").as("y"))
          .groupBy("x", "y").agg(count(lit(1)).as("c"))
        val bi = grouped.where(col("y").isNotNull)
          .select(col("x"), col("y"), col("c").as("c_xy"))
        val uni = grouped.groupBy(col("x").as("tok")).agg(sum("c").as("c"))
        val nBi = bi.agg(sum("c_xy").as("n_bi"))
        val nUni = uni.agg(sum("c").as("n_uni"))
        bi.where(col("c_xy") >= 5)
          .join(broadcast(uni).withColumnRenamed("tok", "x")
            .withColumnRenamed("c", "c_x"), "x")
          .join(broadcast(uni).withColumnRenamed("tok", "y")
            .withColumnRenamed("c", "c_y"), "y")
          .crossJoin(broadcast(nBi)).crossJoin(broadcast(nUni))
          .select(col("x"), col("y"), col("c_xy"), expr(
            """round(ln((c_xy / CAST(n_bi AS DOUBLE))
              |  / ((c_x / CAST(n_uni AS DOUBLE))
              |     * (c_y / CAST(n_uni AS DOUBLE)))), 4)""".stripMargin)
            .as("pmi"))
          .orderBy(col("pmi").desc, col("x"), col("y")).limit(15)
      },
      Some("""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
             |bi AS (SELECT toks[u.i] AS x, toks[u.i + 1] AS y
             |  FROM t, LATERAL (SELECT unnest(range(1, len(toks))) AS i) u
             |  WHERE len(toks) >= 2),
             |bc AS (SELECT x, y, count(*) AS c_xy FROM bi GROUP BY 1, 2),
             |uni AS (SELECT tok, count(*) AS c FROM (
             |    SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
             |nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bc),
             |nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uni)
             |SELECT x, y, c_xy,
             |  round(ln((c_xy / CAST(n_bi AS DOUBLE))
             |    / ((cx.c / CAST(n_uni AS DOUBLE))
             |       * (cy.c / CAST(n_uni AS DOUBLE)))), 4) AS pmi
             |FROM bc JOIN uni cx ON cx.tok = x JOIN uni cy ON cy.tok = y
             |CROSS JOIN nb CROSS JOIN nu
             |WHERE c_xy >= 5
             |ORDER BY pmi DESC, x, y LIMIT 15""".stripMargin)),

    // repetition scoring (the Gopher-style quality rule): share of all
    // 3-gram occurrences taken by the single most frequent 3-gram —
    // boilerplate and degenerate generations repeat n-grams; natural
    // text doesn't. Uses RAW occurrence counts (not the distinct
    // shingle SETS the dedup path uses), one explode + two aggregations
    QueryDef(
      "q_repetition",
      (s, d) => {
        val grams = graft.operators.DedupOps.wordNGrams(col("text"), 3)
        val counts = Tables.documents(s, d)
          .select(col("doc_id"), explode(grams).as("gram"))
          .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
        counts.groupBy("doc_id")
          .agg(max("n").as("top_n"), sum("n").as("total"),
            round(max("n").cast("double") / sum("n"), 4).as("rep_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT doc_id, unnest(grams) AS gram FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS grams
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
             |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2)
             |SELECT doc_id, max(n) AS top_n, CAST(sum(n) AS BIGINT) AS total,
             |  round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS rep_ratio
             |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PII scrubbing — the redaction pass every training-data pipeline
    // runs before tokenization: emails and phone numbers replaced by
    // placeholder tokens, with per-doc hit counts for audit. Patterns
    // stay inside the Java∩RE2 regex subset so the same expression runs
    // on Spark (java.util.regex) and the DuckDB oracle (RE2); synthetic
    // PII is injected deterministically since the fixture corpus has none
    QueryDef(
      "q_pii_scrub",
      (s, d) => {
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val phoneRe = "\\b\\d{3}-\\d{3} \\d{2}\\b"
        val dirty = when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com")))
          .when(col("doc_id") % 3 === 1,
            concat(col("text"), lit(" call 070-123 "),
              format_string("%02d", col("doc_id") % 100)))
          .otherwise(col("text"))
        Tables.documents(s, d)
          .withColumn("dirty", dirty)
          .select(
            col("doc_id"),
            regexp_count(col("dirty"), lit(emailRe)).cast("int").as("n_email"),
            regexp_count(col("dirty"), lit(phoneRe)).cast("int").as("n_phone"),
            regexp_replace(regexp_replace(col("dirty"), emailRe, "[EMAIL]"),
              phoneRe, "[PHONE]").as("clean"))
          .orderBy("doc_id")
      },
      Some("""WITH dirty AS (SELECT doc_id,
             |    CASE WHEN doc_id % 3 = 0
             |           THEN text || ' contact user' || doc_id || '@example.com'
             |         WHEN doc_id % 3 = 1
             |           THEN text || ' call 070-123 ' || printf('%02d', doc_id % 100)
             |         ELSE text END AS dirty
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(regexp_extract_all(dirty, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INT) AS n_email,
             |  CAST(len(regexp_extract_all(dirty, '\b\d{3}-\d{3} \d{2}\b')) AS INT) AS n_phone,
             |  regexp_replace(
             |    regexp_replace(dirty, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
             |    '\b\d{3}-\d{3} \d{2}\b', '[PHONE]', 'g') AS clean
             |FROM dirty ORDER BY doc_id""".stripMargin)),

    // document fingerprinting (md5 of normalized text)
    QueryDef(
      "q_fingerprint",
      (s, d) => Tables.documents(s, d)
        .select(
          col("doc_id"),
          fingerprint(col("text")).as("fp"),
          substring(fingerprint(col("text")), 1, 8).as("fp8"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, md5(lower(trim(text))) AS fp,
             |  substr(md5(lower(trim(text))), 1, 8) AS fp8
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // CCNet-style perplexity bucketing: score every document with the
    // corpus-trained bigram LM (the exact q_bigram_lm lineage — integer
    // micro-nat sums, one rounded division per doc), then split the
    // corpus into head/middle/tail TERTILES of model score. This is the
    // quality stratification step a pretraining mix actually samples
    // from; the tertile boundary must be a corpus-wide rank, which is
    // the partitionless-window trap — so the tile comes from
    // GlobalOrder.withGlobalNtile (range shuffle + broadcast prefix
    // offsets + closed-form ntile), scale-safe at any corpus size. The
    // per-doc score table is KiB-scale and cached: the ntile machinery
    // consumes it three times (count, offsets, final), and recomputing
    // the LM join each time would triple the real work.
    QueryDef(
      "q_ppl_buckets",
      (s, d) => {
        // r15 optimization (guide §2.4): same rewrite as q_bigram_lm —
        // map-side adjacent pairs (no per-consumer window shuffle of
        // the token explode), the split array bound to a column (an
        // inlined split re-evaluates per lambda element), vocab as a
        // row count over the unigram table, no new caches (ReuseExchange
        // dedupes the shared subtrees). The pre-existing `scored` pin
        // below stays: ITS consumers are GlobalOrder's separate jobs,
        // which exchange reuse cannot span.
        // r16 REFUTED (two same-session 100× A/B pairs, with
        // q_bigram_lm): the one-pass (w1, next-or-NULL) fusion of the
        // unigram explode measured flat here (cold 13.4→13.6 s) and
        // WORSE on q_bigram_lm — see the refutation note there.
        val dl = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("l"))
        val pairs = dl.where(size(col("l")) >= 2)
          .select(col("doc_id"), explode(transform(
            sequence(lit(1), size(col("l")) - 1),
            i => struct(element_at(col("l"), i).as("w1"),
              element_at(col("l"), i + 1).as("w2")))).as("b"))
          .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
        val uni = dl.select(explode(col("l")).as("tok"))
          .groupBy(col("tok").as("u_w")).agg(count(lit(1)).as("c1"))
        val vocab = uni.agg(count(lit(1)).as("v"))
        val model = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
          .join(uni, col("w1") === col("u_w"))
          .crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"),
            expr("CAST(round(ln((c12 + 1.0) / (c1 + v)) * 1000000) AS BIGINT)")
              .as("s_micro"))
        val scored = Loop.pinnedPersist(
          pairs.join(model, Seq("w1", "w2"))
            .groupBy("doc_id")
            .agg(sum("s_micro").as("sm"), count(lit(1)).as("nb"))
            .select(col("doc_id"),
              round(col("sm") / 1e6 / col("nb"), 4).as("avg_logp")))
        graft.operators.GlobalOrder.withGlobalNtile(scored,
            Seq(col("avg_logp").desc, col("doc_id").asc), 3, "tile")
          .select(col("doc_id"), col("avg_logp"),
            when(col("tile") === 1, "head")
              .when(col("tile") === 2, "middle")
              .otherwise("tail").as("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH pairs AS (
             |  SELECT doc_id, l[i] AS w1, l[i + 1] AS w2
             |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |       LATERAL (SELECT unnest(generate_series(1, len(l) - 1)) AS i) t),
             |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
             |uni AS (SELECT tok AS u_w, count(*) AS c1 FROM toks GROUP BY 1),
             |voc AS (SELECT count(DISTINCT tok) AS v FROM toks),
             |model AS (
             |  SELECT w1, w2,
             |    CAST(round(ln((c12 + 1.0) / (c1 + v)) * 1000000) AS BIGINT) AS s_micro
             |  FROM (SELECT w1, w2, count(*) AS c12 FROM pairs GROUP BY 1, 2)
             |  JOIN uni ON w1 = u_w CROSS JOIN voc),
             |scored AS (
             |  SELECT p.doc_id,
             |    round(CAST(sum(s_micro) AS BIGINT) / 1e6 / count(*), 4) AS avg_logp
             |  FROM pairs p JOIN model USING (w1, w2) GROUP BY 1)
             |SELECT doc_id, avg_logp,
             |  CASE ntile(3) OVER (ORDER BY avg_logp DESC, doc_id)
             |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
             |FROM scored ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition suite, char-weighted: the published filter
    // family q_repetition's single top-3-gram ratio approximates. Per
    // document and per n ∈ {2,3,4}: the fraction of characters covered
    // by the single heaviest n-gram (count × gram length, the max taken
    // over the PRODUCT so no tie-break is ever needed); per n ∈ {5,10}:
    // the fraction of characters inside n-grams occurring 2+ times
    // (an upper-bound proxy — overlapping occurrences double-count,
    // identically in both engines). All five metrics come from ONE scan
    // (the five n-widths' gram arrays concatenate as n-tagged structs
    // inside the projection — each width re-tokenizes in-expression, but
    // the text column is read and decoded once), one (doc,n,gram) count,
    // one (doc,n) coverage agg, and one conditional pivot back to
    // columns — three map-side-combined shuffles total, each linear in
    // corpus token count. Verdict applies Gopher's published thresholds
    // to the rounded fractions.
    QueryDef(
      "q_gopher_repetition",
      (s, d) => {
        val docs = Tables.documents(s, d).select("doc_id", "n_chars", "text")
        val tagged = Seq(2, 3, 4, 5, 10).map { n =>
          transform(graft.operators.DedupOps.wordNGrams(col("text"), n),
            g => struct(lit(n).as("n"), g.as("gram")))
        }
        val byN = docs
          .select(col("doc_id"), col("n_chars"),
            explode(concat(tagged: _*)).as("t"))
          .select(col("doc_id"), col("n_chars"),
            col("t.n").as("n"), col("t.gram").as("gram"))
        val counts = byN.groupBy("doc_id", "n_chars", "n", "gram")
          .agg(count(lit(1)).as("c"))
        val cov = counts.groupBy("doc_id", "n_chars", "n").agg(
          max(col("c") * length(col("gram"))).as("top_cov"),
          sum(when(col("c") >= 2, col("c") * length(col("gram")))
            .otherwise(0L)).as("dup_cov"))
        def frac(n: Int, c: Column) =
          max(when(col("n") === n, round(c / col("n_chars").cast("double"), 4)))
        val out = cov.groupBy("doc_id", "n_chars").agg(
          frac(2, col("top_cov")).as("top2"),
          frac(3, col("top_cov")).as("top3"),
          frac(4, col("top_cov")).as("top4"),
          frac(5, col("dup_cov")).as("dup5"),
          frac(10, col("dup_cov")).as("dup10"))
        out.withColumn("verdict",
            when(col("top2") <= 0.20 && col("top3") <= 0.18 &&
              col("top4") <= 0.16 && col("dup5") <= 0.15 &&
              col("dup10") <= 0.10, "keep").otherwise("drop"))
          .orderBy("doc_id")
      },
      Some {
        def grams(n: Int) =
          s"""SELECT doc_id, n_chars, $n AS n,
             |      [array_to_string(toks[i:i+${n - 1}], ' ')
             |       for i in range(1, greatest(len(toks)-${n - 1}, 1)+1)] AS grams
             |    FROM t""".stripMargin
        s"""WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
           |g AS (SELECT doc_id, n_chars, n, unnest(grams) AS gram FROM (
           |    ${Seq(2, 3, 4, 5, 10).map(grams).mkString("\n    UNION ALL\n    ")})),
           |c AS (SELECT doc_id, n_chars, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3, 4),
           |cov AS (SELECT doc_id, n_chars, n,
           |    max(c * len(gram)) AS top_cov,
           |    sum(CASE WHEN c >= 2 THEN c * len(gram) ELSE 0 END) AS dup_cov
           |  FROM c GROUP BY 1, 2, 3),
           |p AS (SELECT doc_id, n_chars,
           |    max(CASE WHEN n = 2 THEN round(top_cov / CAST(n_chars AS DOUBLE), 4) END) AS top2,
           |    max(CASE WHEN n = 3 THEN round(top_cov / CAST(n_chars AS DOUBLE), 4) END) AS top3,
           |    max(CASE WHEN n = 4 THEN round(top_cov / CAST(n_chars AS DOUBLE), 4) END) AS top4,
           |    max(CASE WHEN n = 5 THEN round(dup_cov / CAST(n_chars AS DOUBLE), 4) END) AS dup5,
           |    max(CASE WHEN n = 10 THEN round(dup_cov / CAST(n_chars AS DOUBLE), 4) END) AS dup10
           |  FROM cov GROUP BY 1, 2)
           |SELECT doc_id, n_chars, top2, top3, top4, dup5, dup10,
           |  CASE WHEN top2 <= 0.20 AND top3 <= 0.18 AND top4 <= 0.16
           |        AND dup5 <= 0.15 AND dup10 <= 0.10 THEN 'keep' ELSE 'drop' END AS verdict
           |FROM p ORDER BY doc_id""".stripMargin
      }),

    // per-source KL divergence from the corpus word distribution — the
    // dataset-card "how different is this source" number that decides
    // mixture weights. KL(s‖corpus) = Σ_w p_s(w)·ln(p_s(w)/p(w)), all
    // four inputs exact integer counts; each term is ONE double
    // expression per (source, word) — identical in both engines —
    // quantized to integer NANO-nats before the per-source sum (terms
    // are O(1/vocab), micro-nats would zero them), so aggregation order
    // can't move the result. Shapes: the (source, word) count table is
    // the only data-sized shuffle; the word-marginal join keys on word;
    // the source-marginal and corpus totals broadcast.
    QueryDef(
      "q_domain_kl",
      (s, d) => {
        val sw = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
        val srcTot = sw.groupBy("source").agg(sum("c_sw").as("n_s"))
        val wTot = sw.groupBy("w").agg(sum("c_sw").as("c_w"))
        val tot = sw.agg(sum("c_sw").as("n_tot"))
        sw.join(broadcast(srcTot), "source")
          .join(wTot, "w")
          .crossJoin(tot)
          .select(col("source"), expr(
            """CAST(round(c_sw / CAST(n_s AS DOUBLE)
              |  * ln((c_sw * CAST(n_tot AS DOUBLE)) / (CAST(n_s AS DOUBLE) * c_w))
              |  * 1e9) AS BIGINT)""".stripMargin).as("t_nano"))
          .groupBy("source")
          .agg(sum("t_nano").as("s_nano"), count(lit(1)).as("n_terms"))
          .select(col("source"), col("n_terms"),
            round(col("s_nano") / 1e9, 6).as("kl_nats"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
             |sw AS (SELECT source, w, count(*) AS c_sw FROM toks GROUP BY 1, 2),
             |st AS (SELECT source, CAST(sum(c_sw) AS BIGINT) AS n_s FROM sw GROUP BY 1),
             |wt AS (SELECT w, CAST(sum(c_sw) AS BIGINT) AS c_w FROM sw GROUP BY 1),
             |tot AS (SELECT CAST(sum(c_sw) AS BIGINT) AS n_tot FROM sw)
             |SELECT sw.source, CAST(count(*) AS BIGINT) AS n_terms,
             |  round(CAST(sum(CAST(round(c_sw / CAST(n_s AS DOUBLE)
             |    * ln((c_sw * CAST(n_tot AS DOUBLE)) / (CAST(n_s AS DOUBLE) * c_w))
             |    * 1e9) AS BIGINT)) AS BIGINT) / 1e9, 6) AS kl_nats
             |FROM sw JOIN st USING (source) JOIN wt USING (w) CROSS JOIN tot
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Zipf-law fit over the corpus vocabulary: least-squares slope and
    // intercept of ln(freq) on ln(rank) — the one-row corpus-health
    // number (natural text ≈ −1; template floods and degenerate corpora
    // bend it). Rank is a GLOBAL position over the vocabulary — at real
    // scale the vocab table is itself huge, so it comes from
    // GlobalOrder.withGlobalRowNumber (range shuffle, no data-sized
    // window). Determinism: x = ln(rank), y = ln(c) are doubles from
    // exact ints; each regression moment term (x, y, x², x·y) quantizes
    // to integer nano-units per word before the sums, and the closed
    // form runs once on the five exact integer sums.
    QueryDef(
      "q_zipf_fit",
      (s, d) => {
        val vocab = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val ranked = graft.operators.GlobalOrder.withGlobalRowNumber(
          vocab, Seq(col("c").desc, col("w").asc), "rank")
        val q = (c: org.apache.spark.sql.Column) =>
          round(c * lit(1e9)).cast("long")
        val moments = ranked
          .select(
            q(log(col("rank"))).as("sx"), q(log(col("c"))).as("sy"),
            q(log(col("rank")) * log(col("rank"))).as("sxx"),
            q(log(col("rank")) * log(col("c"))).as("sxy"))
          .agg(count(lit(1)).as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
            sum("sxx").as("sxx"), sum("sxy").as("sxy"))
        moments
          .withColumn("slope_raw",
            (col("n") * (col("sxy") / 1e9) - (col("sx") / 1e9) * (col("sy") / 1e9)) /
              (col("n") * (col("sxx") / 1e9) - (col("sx") / 1e9) * (col("sx") / 1e9)))
          .select(col("n").as("n_vocab"),
            round(col("slope_raw"), 4).as("slope"),
            round((col("sy") / 1e9 - col("slope_raw") * (col("sx") / 1e9)) / col("n"), 4)
              .as("intercept"))
      },
      Some("""WITH v AS (SELECT w, count(*) AS c FROM (
             |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1),
             |r AS (SELECT c, CAST(row_number() OVER (ORDER BY c DESC, w) AS BIGINT) AS rank FROM v),
             |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(CAST(round(ln(rank) * 1e9) AS BIGINT)) AS BIGINT) AS sx,
             |    CAST(sum(CAST(round(ln(c) * 1e9) AS BIGINT)) AS BIGINT) AS sy,
             |    CAST(sum(CAST(round(ln(rank) * ln(rank) * 1e9) AS BIGINT)) AS BIGINT) AS sxx,
             |    CAST(sum(CAST(round(ln(rank) * ln(c) * 1e9) AS BIGINT)) AS BIGINT) AS sxy
             |  FROM r),
             |s AS (SELECT n, sx, sy,
             |    (n * (sxy / 1e9) - (sx / 1e9) * (sy / 1e9))
             |      / (n * (sxx / 1e9) - (sx / 1e9) * (sx / 1e9)) AS slope_raw
             |  FROM m)
             |SELECT n AS n_vocab, round(slope_raw, 4) AS slope,
             |  round((sy / 1e9 - slope_raw * (sx / 1e9)) / n, 4) AS intercept
             |FROM s""".stripMargin)),

    // language-ID confusion matrix — the classifier-quality report for
    // the heuristic next to q_lang_id's per-doc view: per (labeled lang,
    // guess) cell count and its share of the label's row count. Two tiny
    // aggregates (the cell table is |langs×guesses|) over one scan; the
    // per-lang totals broadcast back. The share divides two exact counts
    // once per CELL, so it is deterministic under any aggregation order.
    QueryDef(
      "q_lang_confusion",
      (s, d) => {
        val guessed = Tables.documents(s, d)
          .select(col("lang"), languageGuess(col("text")).as("guess"))
        val cells = guessed.groupBy("lang", "guess").agg(count(lit(1)).as("n"))
        val tot = guessed.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        cells.join(broadcast(tot), "lang")
          .select(col("lang"), col("guess"), col("n"),
            round(col("n") / col("n_lang").cast("double"), 4).as("share"))
          .orderBy("lang", "guess")
      },
      Some("""WITH g AS (SELECT lang,
             |    CASE WHEN len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) >= 2 THEN 'en'
             |         WHEN len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) = 1 THEN 'mixed'
             |         ELSE 'other' END AS guess
             |  FROM documents),
             |c AS (SELECT lang, guess, count(*) AS n FROM g GROUP BY 1, 2),
             |t AS (SELECT lang, count(*) AS n_lang FROM g GROUP BY 1)
             |SELECT c.lang, c.guess, CAST(c.n AS BIGINT) AS n,
             |  round(CAST(c.n AS DOUBLE) / t.n_lang, 4) AS share
             |FROM c JOIN t USING (lang)
             |ORDER BY lang, guess""".stripMargin)),

    // word2vec-style skip-gram training pairs: (center, context) counts
    // for a ±2 window — the co-occurrence table embedding trainers and
    // PMI-style association measures consume (q_pmi_bigrams is the
    // adjacent-pair special case). A pair at distance k is exactly the
    // (first, last) of a (k+1)-gram, so the whole table falls out of ONE
    // scan through the native word_ngrams expression — no token
    // self-join (a first cut joined (doc, pos) against (doc, pos±k):
    // two scans + a data-sized shuffle, 5.0× at the 10× probe vs 1.1×
    // for this form). Both orientations are emitted per gram before the
    // single map-combined aggregate; output is vocabulary², bounded by
    // the vocabulary, not the corpus. The length guards keep degenerate
    // short docs from disguising an n-token text as an n-gram.
    QueryDef(
      "q_skipgram_pairs",
      (s, d) => {
        val nToks = size(split(col("text"), " "))
        val grams = Tables.documents(s, d).select(explode(flatten(array(
            when(nToks >= 2, graft.operators.DedupOps.wordNGrams(col("text"), 2))
              .otherwise(array().cast("array<string>")),
            when(nToks >= 3, graft.operators.DedupOps.wordNGrams(col("text"), 3))
              .otherwise(array().cast("array<string>"))))).as("g"))
        grams.select(split(col("g"), " ").as("ts"))
          .select(explode(array(
            struct(element_at(col("ts"), 1).as("center"),
              element_at(col("ts"), -1).as("context")),
            struct(element_at(col("ts"), -1).as("center"),
              element_at(col("ts"), 1).as("context")))).as("p"))
          .groupBy(col("p.center").as("center"), col("p.context").as("context"))
          .agg(count(lit(1)).as("n"))
          .orderBy("center", "context")
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |t AS (SELECT doc_id, unnest(toks) AS w,
             |        generate_subscripts(toks, 1) AS pos FROM s),
             |p AS (SELECT a.w AS center, b.w AS context
             |      FROM t a JOIN t b
             |      ON a.doc_id = b.doc_id AND b.pos - a.pos IN (-2, -1, 1, 2))
             |SELECT center, context, count(*) AS n FROM p
             |GROUP BY 1, 2 ORDER BY center, context""".stripMargin)),

    // character-class composition per source: alpha / digit / space /
    // other shares of the raw character mass (integer micros) — the
    // cheapest corpus fingerprint there is, and the first split that
    // separates prose from tables, code, and OCR noise in a quality
    // funnel. On this clean word fixture digit and punctuation land at
    // exactly ZERO — that IS the audit (the q_benford convention): any
    // nonzero digit share after a regeneration is a corpus change the
    // gate catches. Class counts come from codegen'd regexp strips in
    // one map-combined aggregate; one shuffle of |sources| rows.
    QueryDef(
      "q_char_class_mix",
      (s, d) => Tables.documents(s, d)
        .groupBy("source")
        .agg(sum(length(col("text"))).as("chars"),
          sum(length(regexp_replace(col("text"), "[^a-zA-Z]", ""))).as("alpha"),
          sum(length(regexp_replace(col("text"), "[^0-9]", ""))).as("digit"),
          sum(length(regexp_replace(col("text"), "[^ ]", ""))).as("space"))
        .select(col("source"), col("chars"),
          expr("(alpha * CAST(1000000 AS BIGINT)) div chars").as("alpha_micro"),
          expr("(digit * CAST(1000000 AS BIGINT)) div chars").as("digit_micro"),
          expr("(space * CAST(1000000 AS BIGINT)) div chars").as("space_micro"),
          expr("((chars - alpha - digit - space) * CAST(1000000 AS BIGINT)) div chars")
            .as("other_micro"))
        .orderBy("source"),
      Some("""WITH c AS (SELECT source,
             |    sum(length(text)) AS chars,
             |    sum(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))) AS alpha,
             |    sum(length(regexp_replace(text, '[^0-9]', '', 'g'))) AS digit,
             |    sum(length(regexp_replace(text, '[^ ]', '', 'g'))) AS space
             |  FROM documents GROUP BY 1)
             |SELECT source, CAST(chars AS BIGINT) AS chars,
             |  CAST(alpha * 1000000 // chars AS BIGINT) AS alpha_micro,
             |  CAST(digit * 1000000 // chars AS BIGINT) AS digit_micro,
             |  CAST(space * 1000000 // chars AS BIGINT) AS space_micro,
             |  CAST((chars - alpha - digit - space) * 1000000 // chars AS BIGINT) AS other_micro
             |FROM c ORDER BY source""".stripMargin)),

    // hybrid retrieval via reciprocal-rank fusion: the q_bm25 lexical
    // ranker and a cosine ranker against query vector 0, each truncated
    // to its top-100 candidate list (the production shape — RRF fuses
    // top-k LISTS from each retriever, never full rankings, so each arm
    // ends in a TakeOrderedAndProject and the fusion join touches ≤200
    // rows), then scored 1/(60+rank) per list in exact integer micros.
    // Ranks are exact cross-engine: BM25 in integer micros, cosine
    // rounded to 4 places, doc_id tiebreaks; absent-from-list arms
    // contribute 0 (standard RRF). The windows run over ≤100-row lists
    // by construction (PlanAuditSpec whitelist).
    QueryDef(
      "q_rrf_fusion",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val toks = docs
          .select(col("doc_id"), size(split(col("text"), " ")).as("dl"),
            explode(split(col("text"), " ")).as("tok"))
          .where(col("tok").isin("dup", "scan", "spark"))
        val tf = toks.groupBy("doc_id", "tok", "dl").agg(count(lit(1)).as("tf"))
        val dfreq = toks.groupBy("tok").agg(countDistinct("doc_id").as("df"))
        val stats = docs.agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " "))).as("tot_toks"))
        val bm = tf.join(broadcast(dfreq), "tok").crossJoin(stats)
          .select(col("doc_id"), expr(
            """CAST(round(
              |  ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
              |    * (tf * 2.2)
              |    / (tf + 1.2 * (0.25
              |        + 0.75 * dl / (CAST(tot_toks AS DOUBLE) / n_docs)))
              |    * 1000000) AS BIGINT)""".stripMargin).as("contrib_micro"))
          .groupBy("doc_id")
          .agg(sum("contrib_micro").as("bm25_micro"))
          .orderBy(col("bm25_micro").desc, col("doc_id")).limit(100)
        val lex = bm.withColumn("r_lex",
          row_number().over(Window.orderBy(col("bm25_micro").desc, col("doc_id"))))
          .select("doc_id", "r_lex")
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.asDouble(col("embedding")).as("ed"))
        val qv = emb.where(col("vec_id") === 0)
          .select(col("ed").as("qe"))
        val cs = emb.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .select(col("vec_id").as("doc_id"),
            round(Similarity.dot(col("qe"), col("ed")), 4).as("sim"))
          .orderBy(col("sim").desc, col("doc_id")).limit(100)
        val sem = cs.withColumn("r_sem",
          row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))))
          .select("doc_id", "r_sem")
        lex.join(sem, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(expr("1000000 div (60 + r_lex)"), lit(0L)) +
             coalesce(expr("1000000 div (60 + r_sem)"), lit(0L))).as("rrf_micro"),
            col("r_lex"), col("r_sem"))
          .orderBy(col("rrf_micro").desc, col("doc_id")).limit(20)
      },
      Some("""WITH t AS (
             |  SELECT doc_id, len(string_split(text, ' ')) AS dl,
             |    unnest(string_split(text, ' ')) AS tok
             |  FROM documents),
             |q AS (SELECT * FROM t WHERE tok IN ('dup', 'scan', 'spark')),
             |tf AS (SELECT doc_id, tok, dl, count(*) AS tf FROM q GROUP BY 1, 2, 3),
             |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM q GROUP BY 1),
             |stats AS (SELECT count(*) AS n_docs,
             |    sum(len(string_split(text, ' '))) AS tot_toks FROM documents),
             |k AS (SELECT doc_id, CAST(round(
             |    ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
             |      * (tf * 2.2)
             |      / (tf + 1.2 * (0.25
             |          + 0.75 * dl / (CAST(tot_toks AS DOUBLE) / n_docs)))
             |      * 1000000) AS BIGINT) AS contrib_micro
             |  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats),
             |bm AS (SELECT doc_id, CAST(sum(contrib_micro) AS BIGINT) AS bm25_micro
             |       FROM k GROUP BY 1 ORDER BY bm25_micro DESC, doc_id LIMIT 100),
             |lex AS (SELECT doc_id,
             |    CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id) AS INT) AS r_lex
             |  FROM bm),
             |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
             |qv AS (SELECT ed AS qe FROM e WHERE vec_id = 0),
             |cs AS (SELECT e.vec_id AS doc_id, round(list_dot_product(qe, ed), 4) AS sim
             |       FROM e CROSS JOIN qv WHERE e.vec_id <> 0
             |       ORDER BY sim DESC, doc_id LIMIT 100),
             |sem AS (SELECT doc_id,
             |    CAST(row_number() OVER (ORDER BY sim DESC, doc_id) AS INT) AS r_sem
             |  FROM cs)
             |SELECT coalesce(lex.doc_id, sem.doc_id) AS doc_id,
             |  coalesce(1000000 // (60 + r_lex), 0) + coalesce(1000000 // (60 + r_sem), 0)
             |    AS rrf_micro,
             |  r_lex, r_sem
             |FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
             |ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin)),

    // McNemar's paired test — the right way to compare two classifiers
    // evaluated on the SAME documents (two independent accuracy CIs
    // ignore the pairing): detector A = the four-profile argmax
    // (q_lang_profile), detector B = the crude ≥2-stopword-hits English
    // flag (q_lang_id), truth = the lang column. Only the discordant
    // cells matter: b = A-right/B-wrong, c = B-right/A-wrong, χ² =
    // (b−c)²/(b+c). One scan, exact integer counts, χ² in exact milli.
    QueryDef(
      "q_mcnemar",
      (s, d) => {
        val base = langProfiles.foldLeft(Tables.documents(s, d)) {
          case (df, (l, p)) => df.withColumn(l, profileHits(col("text"), p))
        }
        val scored = base.select(col("lang"),
          when(col("en") >= col("de") && col("en") >= col("es") && col("en") >= col("fr"), "en")
            .when(col("de") >= col("es") && col("de") >= col("fr"), "de")
            .when(col("es") >= col("fr"), "es")
            .otherwise("fr").as("guess_a"),
          when(col("en") >= 2, "en").when(col("en") === 1, "mixed")
            .otherwise("other").as("guess_b"))
          .select(
            when(col("guess_a") === col("lang"), 1L).otherwise(0L).as("ra"),
            when(col("guess_b") === col("lang"), 1L).otherwise(0L).as("rb"))
        scored.agg(count(lit(1)).as("n"),
            sum("ra").as("a_correct"), sum("rb").as("b_correct"),
            sum(expr("CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END")).as("b_disc"),
            sum(expr("CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END")).as("c_disc"))
          .select(col("n").as("n_docs"),
            expr("a_correct * 1000000 div n").as("acc_a_micro"),
            expr("b_correct * 1000000 div n").as("acc_b_micro"),
            col("b_disc"), col("c_disc"),
            expr("""CASE WHEN b_disc + c_disc = 0 THEN CAST(0 AS BIGINT)
                   | ELSE (b_disc - c_disc) * (b_disc - c_disc) * 1000
                   |   div (b_disc + c_disc) END""".stripMargin)
              .as("mcnemar_chi2_milli"))
      },
      Some("""WITH sc AS (SELECT lang,
             |    CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
             |         WHEN de >= es AND de >= fr THEN 'de'
             |         WHEN es >= fr THEN 'es' ELSE 'fr' END AS guess_a,
             |    CASE WHEN en >= 2 THEN 'en' WHEN en = 1 THEN 'mixed'
             |         ELSE 'other' END AS guess_b
             |  FROM (SELECT lang,
             |      CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) AS INT) AS en,
             |      CAST(len(regexp_extract_all(text, '\b(der|die|das|und|nicht)\b')) AS INT) AS de,
             |      CAST(len(regexp_extract_all(text, '\b(el|la|los|que|y)\b')) AS INT) AS es,
             |      CAST(len(regexp_extract_all(text, '\b(le|la|les|et|des)\b')) AS INT) AS fr
             |    FROM documents)),
             |r AS (SELECT CASE WHEN guess_a = lang THEN 1 ELSE 0 END AS ra,
             |             CASE WHEN guess_b = lang THEN 1 ELSE 0 END AS rb FROM sc),
             |m AS (SELECT count(*) AS n, sum(ra) AS a_correct, sum(rb) AS b_correct,
             |        sum(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS b_disc,
             |        sum(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS c_disc
             |      FROM r)
             |SELECT CAST(n AS BIGINT) AS n_docs,
             |  CAST(a_correct * 1000000 // n AS BIGINT) AS acc_a_micro,
             |  CAST(b_correct * 1000000 // n AS BIGINT) AS acc_b_micro,
             |  CAST(b_disc AS BIGINT) AS b_disc, CAST(c_disc AS BIGINT) AS c_disc,
             |  CAST(CASE WHEN b_disc + c_disc = 0 THEN 0
             |    ELSE (b_disc - c_disc) * (b_disc - c_disc) * 1000 // (b_disc + c_disc)
             |  END AS BIGINT) AS mcnemar_chi2_milli
             |FROM m""".stripMargin)),

    // corpus keyness — top-3 distinctive terms per source by the G²
    // log-likelihood ratio (Dunning 1993) of the word-vs-rest 2×2 table:
    // the standard keyword-extraction screen that complements q_source_js
    // (which measures whole-distribution divergence, not which words carry
    // it). One tokenized scan → grouped counts; the source (20-row) and
    // vocabulary margins broadcast back onto the (source, word) frame, so
    // shuffle ∝ distinct (source, word) — vocabulary-sized, never corpus-
    // sized. G² is 4 ln terms on exact count rationals, micro-rounded once;
    // the per-source rank window is partitioned by source.
    QueryDef(
      "q_keyness",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
        val cnt = tok.groupBy("source", "w").agg(count(lit(1)).as("a"))
        val st = cnt.groupBy("source").agg(sum("a").as("ns"))
        val wt = cnt.groupBy("w").agg(sum("a").as("nw"))
        val tot = cnt.agg(sum("a").as("n"))
        val g2 = cnt.join(broadcast(st), "source").join(broadcast(wt), "w")
          .crossJoin(tot)
          .select(col("source"), col("w"),
            expr("""CAST(round(2000000.0 * (
                   |  CASE WHEN a > 0 THEN a*ln(CAST(a AS DOUBLE)*n/(CAST(ns AS DOUBLE)*nw)) ELSE 0.0 END +
                   |  CASE WHEN nw-a > 0 THEN (nw-a)*ln(CAST(nw-a AS DOUBLE)*n/(CAST(n-ns AS DOUBLE)*nw)) ELSE 0.0 END +
                   |  CASE WHEN ns-a > 0 THEN (ns-a)*ln(CAST(ns-a AS DOUBLE)*n/(CAST(ns AS DOUBLE)*(n-nw))) ELSE 0.0 END +
                   |  CASE WHEN n-ns-nw+a > 0 THEN (n-ns-nw+a)*ln(CAST(n-ns-nw+a AS DOUBLE)*n/(CAST(n-ns AS DOUBLE)*(n-nw))) ELSE 0.0 END
                   |)) AS BIGINT)""".stripMargin).as("g2_micro"))
        g2.withColumn("rk",
            row_number().over(Window.partitionBy("source")
              .orderBy(col("g2_micro").desc, col("w"))))
          .where(col("rk") <= 3)
          .select(col("source"), col("w"), col("g2_micro"), col("rk").cast("long").as("rk"))
          .orderBy("source", "rk")
      },
      Some("""WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS w FROM documents),
             |c AS (SELECT source, w, count(*) AS a FROM tok GROUP BY 1,2),
             |st AS (SELECT source, sum(a) AS ns FROM c GROUP BY 1),
             |wt AS (SELECT w, sum(a) AS nw FROM c GROUP BY 1),
             |t AS (SELECT sum(a) AS n FROM c),
             |g AS (SELECT c.source, c.w, c.a, st.ns, wt.nw, t.n
             |      FROM c JOIN st USING (source) JOIN wt USING (w) CROSS JOIN t),
             |g2 AS (SELECT source, w,
             |  CAST(round(2000000.0 * (
             |    CASE WHEN a > 0 THEN a*ln(CAST(a AS DOUBLE)*n/(CAST(ns AS DOUBLE)*nw)) ELSE 0.0 END +
             |    CASE WHEN nw-a > 0 THEN (nw-a)*ln(CAST(nw-a AS DOUBLE)*n/(CAST(n-ns AS DOUBLE)*nw)) ELSE 0.0 END +
             |    CASE WHEN ns-a > 0 THEN (ns-a)*ln(CAST(ns-a AS DOUBLE)*n/(CAST(ns AS DOUBLE)*(n-nw))) ELSE 0.0 END +
             |    CASE WHEN n-ns-nw+a > 0 THEN (n-ns-nw+a)*ln(CAST(n-ns-nw+a AS DOUBLE)*n/(CAST(n-ns AS DOUBLE)*(n-nw))) ELSE 0.0 END
             |  )) AS BIGINT) AS g2_micro FROM g),
             |rk AS (SELECT source, w, g2_micro,
             |    row_number() OVER (PARTITION BY source ORDER BY g2_micro DESC, w) AS rk
             |  FROM g2)
             |SELECT source, w, g2_micro, CAST(rk AS BIGINT) AS rk
             |FROM rk WHERE rk <= 3 ORDER BY source, rk""".stripMargin)),

    // tokenizer fertility per source — subword pieces per whitespace word
    // and characters per piece, the standard tokenizer-efficiency readout
    // (fertility ≈ 1 means the regex tokenizer splits near word level;
    // high fertility sources cost proportionally more training tokens —
    // the budget input q_token_budget allocates against). Reuses the
    // codegen'd tokenCount/bpeishCount expressions from q_token_count in
    // ONE map-combined grouped sum; ratios are exact integer micro.
    // Fixture honesty: the synthetic corpus is single-case [a-z0-9]+
    // words, so fertility pins at exactly 1.000000 — the chars-per-piece
    // column carries the per-source variation at this scale.
    QueryDef(
      "q_token_fertility",
      (s, d) => Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("ws_tokens"),
          sum(bpeishCount(col("text")).cast("long")).as("re_tokens"),
          sum(col("n_chars")).as("chars"))
        .select(col("source"), col("n_docs"), col("ws_tokens"), col("re_tokens"),
          col("chars"),
          expr("re_tokens * 1000000 div ws_tokens").as("fertility_micro"),
          expr("chars * 1000000 div re_tokens").as("chars_per_piece_micro"))
        .orderBy("source"),
      Some("""WITH t AS (SELECT source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             |    CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_re,
             |    n_chars
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
             |  CAST(sum(n_re) AS BIGINT) AS re_tokens,
             |  CAST(sum(n_chars) AS BIGINT) AS chars,
             |  CAST(sum(n_re) * 1000000 // sum(n_ws) AS BIGINT) AS fertility_micro,
             |  CAST(sum(n_chars) * 1000000 // sum(n_re) AS BIGINT) AS chars_per_piece_micro
             |FROM t GROUP BY 1 ORDER BY 1""".stripMargin)),

    // term burstiness (Church–Gale) — variance-to-mean ratio of per-doc
    // counts for the top-10 corpus terms, zeros included via the closed
    // form var = Σc²/D − μ² (absent docs contribute 0 to Σc², so no dense
    // doc×term frame is ever built). VMR ≈ 1 means Poisson scatter;
    // bursty terms (content words) sit well above function words — the
    // screen that separates topical from structural vocabulary, feeding
    // stopword selection where q_keyness feeds keyword selection.
    QueryDef(
      "q_term_burstiness",
      (s, d) => {
        val dc = Tables.documents(s, d)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
        val nd = Tables.documents(s, d).agg(countDistinct("doc_id").as("d"))
        val st = dc.groupBy("w")
          .agg(sum("c").as("cf"), count(lit(1)).as("df"), sum(expr("c*c")).as("cc"))
        st.orderBy(col("cf").desc, col("w")).limit(10)
          .crossJoin(nd)
          .select(col("w"), col("cf").as("corpus_freq"), col("df").as("doc_freq"),
            expr("""CAST(round(1000000.0 *
                   |  (CAST(cc AS DOUBLE)/d - (CAST(cf AS DOUBLE)/d)*(CAST(cf AS DOUBLE)/d))
                   |  / (CAST(cf AS DOUBLE)/d)) AS BIGINT)""".stripMargin).as("vmr_micro"))
          .orderBy(col("corpus_freq").desc, col("w"))
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS w
             |      FROM documents),
             |dc AS (SELECT w, doc_id, count(*) AS c FROM tok GROUP BY 1,2),
             |nd AS (SELECT count(DISTINCT doc_id) AS d FROM documents),
             |st AS (SELECT w, sum(c) AS cf, count(*) AS df, sum(c*c) AS cc
             |       FROM dc GROUP BY 1),
             |top AS (SELECT * FROM st ORDER BY cf DESC, w LIMIT 10)
             |SELECT w, CAST(cf AS BIGINT) AS corpus_freq, CAST(df AS BIGINT) AS doc_freq,
             |  CAST(round(1000000.0 *
             |    (CAST(cc AS DOUBLE)/(SELECT d FROM nd)
             |      - (CAST(cf AS DOUBLE)/(SELECT d FROM nd))*(CAST(cf AS DOUBLE)/(SELECT d FROM nd)))
             |    / (CAST(cf AS DOUBLE)/(SELECT d FROM nd))) AS BIGINT) AS vmr_micro
             |FROM top ORDER BY corpus_freq DESC, w""".stripMargin)),

    // Burrows' Delta stylometry — which source pairs write most alike?
    // The classic authorship-attribution distance: z-scores of the
    // top-50 words' relative frequencies across sources, Delta(a, b) =
    // mean |z_a − z_b|. Frequencies quantize to truncating nano
    // BEFORE the cross-source moments (so the z inputs are exact
    // integers), everything after the one token-count pass is bounded
    // by |sources|×50, and the pair table is |sources|². Reports the
    // 10 closest pairs — the candidate same-pipeline/same-template
    // sources a provenance audit checks first.
    QueryDef(
      "q_burrows_delta",
      (s, d) => {
        val tw = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .groupBy("source", "w").agg(count(lit(1)).as("c"))
        val st = tw.groupBy("source").agg(sum("c").as("n"))
        val top = tw.groupBy("w").agg(sum("c").as("tc"))
          .orderBy(col("tc").desc, col("w")).limit(50).select("w")
        val f = st.crossJoin(broadcast(top))
          .join(tw, Seq("source", "w"), "left").na.fill(0L, Seq("c"))
          .select(col("source"), col("w"),
            expr("CAST(CAST(c AS DECIMAL(38,0)) * 1000000000 div n AS BIGINT)")
              .as("fn"))
        val mu = f.groupBy("w").agg(avg(expr("CAST(fn AS DOUBLE)")).as("m"),
          expr("""sqrt(avg(CAST(fn AS DOUBLE)*fn)
                 | - avg(CAST(fn AS DOUBLE))*avg(CAST(fn AS DOUBLE)))""".stripMargin)
            .as("sd"))
        val z = f.join(broadcast(mu), "w").where(col("sd") > 0)
          .select(col("source"), col("w"),
            expr("CAST(round(1000000.0*(fn - m)/sd) AS BIGINT)").as("z"))
        z.select(col("source").as("src_a"), col("w"), col("z").as("za"))
          .join(z.select(col("source").as("src_b"), col("w"), col("z").as("zb")),
            "w")
          .where(col("src_a") < col("src_b"))
          .groupBy("src_a", "src_b")
          .agg(expr("CAST(round(avg(CAST(abs(za - zb) AS DOUBLE))) AS BIGINT)")
            .as("delta_micro"))
          .orderBy("delta_micro", "src_a", "src_b")
          .limit(10)
      },
      Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS w
             |      FROM documents),
             |tw AS (SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2),
             |st AS (SELECT source, sum(c) AS n FROM tw GROUP BY 1),
             |top AS (SELECT w FROM (SELECT w, sum(c) AS tc FROM tw GROUP BY 1
             |        ORDER BY tc DESC, w LIMIT 50)),
             |f AS (SELECT st.source, top.w,
             |        CAST(coalesce(tw.c, 0) AS HUGEINT) * 1000000000 // st.n AS fn
             |      FROM st CROSS JOIN top
             |      LEFT JOIN tw ON tw.source = st.source AND tw.w = top.w),
             |mu AS (SELECT w, avg(CAST(fn AS DOUBLE)) AS m,
             |        sqrt(avg(CAST(fn AS DOUBLE)*fn)
             |          - avg(CAST(fn AS DOUBLE))*avg(CAST(fn AS DOUBLE))) AS sd
             |      FROM f GROUP BY 1),
             |z AS (SELECT f.source, f.w,
             |        CAST(round(1000000.0*(fn - m)/sd) AS BIGINT) AS z
             |      FROM f JOIN mu USING (w) WHERE sd > 0),
             |pairs AS (SELECT a.source AS src_a, b.source AS src_b,
             |        CAST(round(avg(CAST(abs(a.z - b.z) AS DOUBLE))) AS BIGINT)
             |          AS delta_micro
             |      FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
             |      GROUP BY 1, 2)
             |SELECT src_a, src_b, delta_micro FROM pairs
             |ORDER BY delta_micro, src_a, src_b LIMIT 10""".stripMargin)),

    // best-passage extraction — the snippet step of a search stack:
    // for each doc, the 10-token window carrying the most query-term
    // hits (query = the top-3 document-frequency terms, deterministic),
    // reported for the 10 densest docs. The window sum is PARTITIONED
    // by doc (ROWS BETWEEN CURRENT AND 9 FOLLOWING — per-doc sliding,
    // never a global window), the query set is a 3-row broadcast, and
    // ties resolve to the earliest start. One tokenize scan end to end.
    QueryDef(
      "q_best_passage",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " "))
            .as(Seq("pos0", "w")))
          .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("w"))
        val qt = toks.groupBy("w").agg(countDistinct("doc_id").as("df"))
          .orderBy(col("df").desc, col("w")).limit(3).select(col("w"))
        val fl = toks
          .join(qt.withColumn("hit", lit(1L)), Seq("w"), "left")
          .select(col("doc_id"), col("pos"),
            coalesce(col("hit"), lit(0L)).as("f"))
        val win = fl.withColumn("score",
          sum("f").over(Window.partitionBy("doc_id").orderBy("pos")
            .rowsBetween(0, 9)))
        win.withColumn("rk",
            row_number().over(Window.partitionBy("doc_id")
              .orderBy(col("score").desc, col("pos"))))
          .where(col("rk") === 1)
          .select(col("doc_id"), col("pos").cast("long").as("start_pos"),
            col("score").as("matched"))
          .orderBy(col("matched").desc, col("doc_id")).limit(10)
      },
      Some("""WITH toks AS (SELECT doc_id, i AS pos, ws[i] AS w
             |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |    LATERAL unnest(range(1, len(ws)+1)) AS t(i)),
             |df AS (SELECT w, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |qt AS (SELECT w FROM df ORDER BY df DESC, w LIMIT 3),
             |fl AS (SELECT doc_id, pos,
             |    CASE WHEN w IN (SELECT w FROM qt) THEN 1 ELSE 0 END AS f
             |    FROM toks),
             |win AS (SELECT doc_id, pos,
             |    sum(f) OVER (PARTITION BY doc_id ORDER BY pos
             |                 ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS score
             |  FROM fl),
             |best AS (SELECT doc_id, pos AS start_pos, score,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, pos) AS rk
             |  FROM win)
             |SELECT doc_id, CAST(start_pos AS BIGINT) AS start_pos,
             |  CAST(score AS BIGINT) AS matched
             |FROM best WHERE rk = 1
             |ORDER BY matched DESC, doc_id LIMIT 10""".stripMargin)),

    // RAKE keyword extraction (Rose et al. 2010): candidate phrases are
    // the maximal ≤3-token runs between stopwords; each word scores
    // deg/freq (deg = Σ phrase length over its occurrences — words that
    // travel in long company score high) and a phrase scores the sum of
    // its words. ALL integer arithmetic: deg/freq rides a single 128-bit
    // `div`, phrase scores are exact sums of those integers, so the
    // top-15 ranking is engine-deterministic with the (score, phrase)
    // tiebreak. Phrase segmentation is one doc-PARTITIONED running
    // stopword count; word stats are one vocabulary-sized aggregate —
    // both linear at corpus scale. The stopword list is fixed (the two
    // grammatical stopwords the synthetic corpus has, plus its four
    // highest-df content words — the corpus-derived-stopword practice
    // for jargon corpora).
    QueryDef(
      "q_rake_keywords",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val pid = words
          .withColumn("st",
            when(col("w").isin("the", "a", "data", "row", "table", "join"),
              1L).otherwise(0L))
          .withColumn("pid",
            sum("st").over(Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, 0)))
        val toks0 = pid.where(col("st") === 0)
          .select("doc_id", "pid", "pos", "w")
        val keep = toks0.groupBy("doc_id", "pid")
          .agg(count(lit(1)).as("len")).where(col("len") <= 3)
        val toks = toks0.join(keep, Seq("doc_id", "pid"))
        val wsc = toks.groupBy("w")
          .agg(count(lit(1)).as("freq"), sum("len").as("deg"))
          .select(col("w"),
            expr("(1000000 * CAST(deg AS DECIMAL(38,0))) div freq")
              .as("score_micro"))
        val ph = toks.join(wsc, "w")
          .groupBy("doc_id", "pid")
          .agg(array_join(
              transform(array_sort(collect_list(struct(col("pos"), col("w")))),
                x => x.getField("w")), " ").as("phrase"),
            sum("score_micro").as("pscore"))
        ph.groupBy("phrase")
          .agg(count(lit(1)).as("n_occurrences"), max("pscore").as("pscore"))
          .select(col("phrase"),
            col("n_occurrences").cast("long").as("n_occurrences"),
            col("pscore").cast("long").as("score_micro"))
          .orderBy(col("score_micro").desc, col("phrase")).limit(15)
      },
      Some("""WITH w AS (SELECT doc_id, u.pos, u.w FROM documents,
             |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
             |             generate_subscripts(string_split(text, ' '), 1) AS pos) u),
             |mk AS (SELECT doc_id, pos, w,
             |    CASE WHEN w IN ('the', 'a', 'data', 'row', 'table', 'join')
             |      THEN 1 ELSE 0 END AS st FROM w),
             |pid AS (SELECT doc_id, pos, w, st,
             |    sum(st) OVER (PARTITION BY doc_id ORDER BY pos
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
             |  FROM mk),
             |toks0 AS (SELECT doc_id, pid, pos, w FROM pid WHERE st = 0),
             |keep AS (SELECT doc_id, pid, count(*) AS len FROM toks0
             |  GROUP BY 1, 2 HAVING count(*) <= 3),
             |toks AS (SELECT t.*, keep.len FROM toks0 t JOIN keep USING (doc_id, pid)),
             |ws AS (SELECT w, count(*) AS freq, sum(len) AS deg FROM toks GROUP BY 1),
             |wsc AS (SELECT w, (1000000 * CAST(deg AS HUGEINT)) // freq AS score_micro FROM ws),
             |ph AS (SELECT t.doc_id, t.pid,
             |    string_agg(t.w, ' ' ORDER BY t.pos) AS phrase,
             |    sum(wsc.score_micro) AS pscore
             |  FROM toks t JOIN wsc ON wsc.w = t.w GROUP BY 1, 2),
             |uniq AS (SELECT phrase, count(*) AS n_occurrences,
             |    max(pscore) AS score_micro FROM ph GROUP BY 1)
             |SELECT phrase, CAST(n_occurrences AS BIGINT) AS n_occurrences,
             |  CAST(score_micro AS BIGINT) AS score_micro
             |FROM uniq ORDER BY score_micro DESC, phrase LIMIT 15""".stripMargin)),

    // interpolated Kneser–Ney bigram probabilities (discount d = 0.75
    // held as the exact rational 3/4) — the smoothing that made n-gram
    // LMs competitive and the continuation-count idea modern tokenizer
    // quality metrics reuse: p(w₂|w₁) = max(c−d,0)/c(w₁) +
    // (d·N₁₊(w₁•)/c(w₁)) · N₁₊(•w₂)/N₁₊(••). Every term is a 128-bit
    // integer `div` over exact bigram/continuation counts (all c ≥ 1 so
    // the max never binds), so the whole table is bit-stable — the
    // add-k q_bigram_lm's production-grade sibling.
    //
    // Plan shape (round 12 — the old form's 100× probe grew 63×
    // because the full bigram-TYPE table shuffled four separate
    // times): the type table materializes ONCE (Loop.cutLineage — it
    // feeds four consumers, each of whose actions would otherwise
    // re-run the positional self-join), the top-20 output rows are
    // selected FIRST on the (c desc, w1, w2) order the final sort uses
    // (a TakeOrdered, no full sort shuffle — restricting c1/cont to
    // surviving keys cannot change their per-key counts), and the
    // per-key denominator aggregates then run behind broadcast
    // semi-joins on those ≤20 keys, so everything after the one type
    // aggregation is O(top-k), not O(vocab²).
    QueryDef(
      "q_kneser_ney",
      (s, d) => {
        val w = Tables.documents(s, d).select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val bg = w.select(col("doc_id"), col("pos"), col("w").as("w1"))
          .join(w.select(col("doc_id"), (col("pos") - 1).as("pos"),
            col("w").as("w2")), Seq("doc_id", "pos"))
        val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
          .transform(Loop.cutLineage(_))
        val top = c12.orderBy(col("c").desc, col("w1"), col("w2")).limit(20)
          .transform(Loop.cutLineage(_))
        val c1 = c12.join(top.select("w1").distinct(), "w1",
            "left_semi").groupBy("w1")
          .agg(sum("c").as("cw1"), count(lit(1)).as("nfollow"))
        val cont = c12.join(top.select("w2").distinct(), "w2",
            "left_semi").groupBy("w2").agg(count(lit(1)).as("nprec"))
        val tot = c12.agg(count(lit(1)).as("ntypes"))
        top.join(broadcast(c1), "w1").join(broadcast(cont), "w2")
          .crossJoin(tot)
          .select(col("w1"), col("w2"), col("c").cast("long").as("c"),
            expr("""CAST(
                   |  (1000000 * (CAST(c AS DECIMAL(38,0)) * 4 - 3)) div (cw1 * 4)
                   |  + ((1000000 * CAST(3 AS DECIMAL(38,0)) * nfollow) div (4 * cw1))
                   |    * nprec div ntypes
                   |AS BIGINT)""".stripMargin).as("pkn_micro"))
          .orderBy(col("c").desc, col("w1"), col("w2")).limit(20)
      },
      Some("""WITH w AS (SELECT doc_id, u.pos, u.w FROM documents,
             |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
             |             generate_subscripts(string_split(text, ' '), 1) AS pos) u),
             |bg AS (SELECT a.w AS w1, b.w AS w2 FROM w a JOIN w b
             |    ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
             |c12 AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2),
             |c1 AS (SELECT w1, sum(c) AS cw1, count(*) AS nfollow FROM c12 GROUP BY 1),
             |cont AS (SELECT w2, count(*) AS nprec FROM c12 GROUP BY 1),
             |tot AS (SELECT count(*) AS ntypes FROM c12)
             |SELECT w1, w2, CAST(c AS BIGINT) AS c,
             |  CAST(
             |    (1000000 * (CAST(c AS HUGEINT) * 4 - 3)) // (cw1 * 4)
             |    + ((1000000 * CAST(3 AS HUGEINT) * nfollow) // (4 * cw1)) * nprec // ntypes
             |  AS BIGINT) AS pkn_micro
             |FROM c12 JOIN c1 USING (w1) CROSS JOIN tot
             |JOIN cont USING (w2)
             |ORDER BY c DESC, w1, w2 LIMIT 20""".stripMargin)),

    // Yule's K lexical-richness characteristic + Simpson's repeat-rate
    // — the frequency-of-frequencies stylometry constants (K is
    // corpus-size-invariant where raw TTR is not; the q_burrows_delta /
    // q_heaps_fit family's scalar summary). Everything is EXACT integer
    // arithmetic over the V_m spectrum (two vocabulary-sized
    // aggregates): K = 10⁴·(Σm²V_m − N)/N², Simpson = (Σm²V_m − N)/
    // (N(N−1)) — both one 128-bit `div`.
    QueryDef(
      "q_yule_k",
      (s, d) => {
        val cw = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("m"))
        cw.groupBy("m").agg(count(lit(1)).as("vm"))
          .agg(sum(expr("CAST(m AS DECIMAL(38,0)) * m * vm")).as("s2"),
            sum(expr("CAST(m AS DECIMAL(38,0)) * vm")).as("n"),
            sum("vm").as("vocab"))
          .select(col("n").cast("long").as("n_tokens"),
            col("vocab").cast("long").as("vocab"),
            expr("CAST((10000 * (s2 - n) * 1000) div (n * n) AS BIGINT)")
              .as("yule_k_milli"),
            expr("CAST((1000000 * (s2 - n)) div (n * (n - 1)) AS BIGINT)")
              .as("simpson_micro"))
      },
      Some("""WITH w AS (SELECT u.w FROM documents,
             |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w) u),
             |cw AS (SELECT w, count(*) AS m FROM w GROUP BY 1),
             |ff AS (SELECT m, count(*) AS vm FROM cw GROUP BY 1),
             |t AS (SELECT sum(CAST(m AS HUGEINT) * m * vm) AS s2,
             |    sum(CAST(m AS HUGEINT) * vm) AS n, sum(vm) AS vocab FROM ff)
             |SELECT CAST(n AS BIGINT) AS n_tokens, CAST(vocab AS BIGINT) AS vocab,
             |  CAST((10000 * (s2 - n) * 1000) // (n * n) AS BIGINT) AS yule_k_milli,
             |  CAST((1000000 * (s2 - n)) // (CAST(n AS HUGEINT) * (n - 1)) AS BIGINT) AS simpson_micro
             |FROM t""".stripMargin)),

    // simple Good–Turing adjusted counts r* = (r+1)·N_{r+1}/N_r for the
    // low-count BIGRAM region r = 1..5 — the smoothing that reassigns
    // probability mass from once-seen n-grams to the unseen, and the
    // ratios Katz backoff runs verbatim. Bigram types (not unigrams)
    // because that is where the low-count spectrum lives at EVERY
    // corpus scale — the fixture's unigram vocabulary saturates past
    // count 5 already at sf0.01, which is itself the reason real LM
    // smoothing happens at the n-gram level. Everything is exact
    // integer arithmetic over the frequency-of-frequencies table (one
    // n-gram-typed aggregate + a self-join on the ≤ max-count spectrum,
    // both skinny); an absent N_{r+1} reads 0, which IS the SGT
    // "switch to the fitted line here" signal.
    QueryDef(
      "q_good_turing",
      (s, d) => {
        val ff = Tables.documents(s, d)
          .select(explode(
            graft.operators.DedupOps.wordNGrams(col("text"), 2)).as("w"))
          .groupBy("w").agg(count(lit(1)).as("m"))
          .groupBy("m").agg(count(lit(1)).as("vm"))
        ff.where(col("m") <= 5)
          .join(broadcast(ff.select((col("m") - 1).as("m"),
            col("vm").as("vnext"))), Seq("m"), "left")
          .select(col("m").cast("long").as("r"),
            col("vm").cast("long").as("n_r"),
            coalesce(col("vnext"), lit(0L)).cast("long").as("n_next"),
            expr("""CAST((1000000 * (m + 1) * CAST(coalesce(vnext, 0)
                   |  AS DECIMAL(38,0))) div vm AS BIGINT)""".stripMargin)
              .as("r_star_micro"))
          .orderBy("r")
      },
      Some("""WITH w AS (SELECT unnest(grams) AS w FROM (
             |    SELECT [array_to_string(toks[i:i+1], ' ')
             |       for i in range(1, greatest(len(toks)-1, 1)+1)] AS grams
             |    FROM (SELECT string_split(text, ' ') AS toks FROM documents))),
             |cw AS (SELECT w, count(*) AS m FROM w GROUP BY 1),
             |ff AS (SELECT m, count(*) AS vm FROM cw GROUP BY 1)
             |SELECT CAST(a.m AS BIGINT) AS r, CAST(a.vm AS BIGINT) AS n_r,
             |  CAST(coalesce(b.vm, 0) AS BIGINT) AS n_next,
             |  CAST((1000000 * (a.m + 1) * CAST(coalesce(b.vm, 0) AS HUGEINT))
             |    // a.vm AS BIGINT) AS r_star_micro
             |FROM ff a LEFT JOIN ff b ON b.m = a.m + 1
             |WHERE a.m <= 5 ORDER BY r""".stripMargin)),

    // Chao1 species-richness estimator + Good's coverage — "how much
    // vocabulary has this corpus slice NOT seen yet": chao1 = V +
    // F₁(F₁−1)/(2(F₂+1)) (the bias-corrected form, defined even at
    // F₂ = 0) and C = 1 − F₁/N. The pair a curator reads before
    // deciding whether more data buys more vocabulary (q_heaps_fit
    // fits the growth curve; this estimates its asymptote). One
    // vocabulary-sized aggregate; singleton/doubleton counts are
    // conditional sums; both estimates are single 128-bit ratios.
    QueryDef(
      "q_chao1",
      (s, d) => {
        Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("m"))
          .agg(count(lit(1)).as("v"),
            sum(when(col("m") === 1, 1L).otherwise(0L)).as("f1"),
            sum(when(col("m") === 2, 1L).otherwise(0L)).as("f2"),
            sum(expr("CAST(m AS DECIMAL(38,0))")).as("n"))
          .select(col("v").cast("long").as("vocab"),
            col("f1").cast("long").as("f1"),
            col("f2").cast("long").as("f2"),
            col("n").cast("long").as("n_tokens"),
            expr("""CAST(1000 * v + (1000 * CAST(f1 AS DECIMAL(38,0)) * (f1 - 1))
                   |  div (2 * (f2 + 1)) AS BIGINT)""".stripMargin)
              .as("chao1_milli"),
            expr("CAST(1000000 - (1000000 * CAST(f1 AS DECIMAL(38,0))) div n AS BIGINT)")
              .as("coverage_micro"))
      },
      Some("""WITH w AS (SELECT u.w FROM documents,
             |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w) u),
             |cw AS (SELECT w, count(*) AS m FROM w GROUP BY 1),
             |t AS (SELECT count(*) AS v,
             |    sum(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS f1,
             |    sum(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS f2,
             |    sum(CAST(m AS HUGEINT)) AS n FROM cw)
             |SELECT CAST(v AS BIGINT) AS vocab, CAST(f1 AS BIGINT) AS f1,
             |  CAST(f2 AS BIGINT) AS f2, CAST(n AS BIGINT) AS n_tokens,
             |  CAST(1000 * v + (1000 * CAST(f1 AS HUGEINT) * (f1 - 1))
             |    // (2 * (f2 + 1)) AS BIGINT) AS chao1_milli,
             |  CAST(1000000 - (1000000 * CAST(f1 AS HUGEINT)) // n AS BIGINT)
             |    AS coverage_micro
             |FROM t""".stripMargin)),

    // Gries' deviation of proportions (DP) for the top-10 corpus words
    // — the dispersion statistic that separates "frequent because it is
    // everywhere" from "frequent because one source spams it":
    // DP(w) = ½·Σ_s |share of w's occurrences in s − s's share of all
    // tokens|, 0 = perfectly dispersed, →1 = concentrated in one
    // source. Complements q_term_burstiness (per-DOC concentration)
    // with the per-SOURCE view a mixing curator acts on. ONE tokenize +
    // one (w, source) shuffle builds the skinny count table; word
    // totals, source totals and the top-10 all re-aggregate from it;
    // the |sources|×10 grid rides broadcast joins; terms are exact
    // integer micro with the same `div` in both engines.
    QueryDef(
      "q_dispersion",
      (s, d) => {
        val ws = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
          .groupBy("w", "source").agg(count(lit(1)).as("c"))
        val wt = ws.groupBy("w").agg(sum("c").as("cw"))
        val top = wt.orderBy(col("cw").desc, col("w")).limit(10)
        val st = ws.groupBy("source").agg(sum("c").as("ts"))
        val tt = st.agg(sum(expr("CAST(ts AS DECIMAL(38,0))")).as("tt"))
        val wsTop = ws.join(top.select("w"), Seq("w"), "left_semi")
        top.crossJoin(broadcast(st)).crossJoin(tt)
          .join(broadcast(wsTop), Seq("w", "source"), "left")
          .select(col("w"), col("cw"),
            abs(expr("""CAST(coalesce(c, 0) AS DECIMAL(38,0)) * 1000000 div cw
                       |- CAST(ts AS DECIMAL(38,0)) * 1000000 div tt"""
              .stripMargin)).as("term"))
          .groupBy("w", "cw")
          .agg(expr("CAST(sum(term) div 2 AS BIGINT)").as("dp_micro"))
          .select(col("w").as("word"), col("cw").cast("long").as("n_occurrences"),
            col("dp_micro"))
          .orderBy(col("dp_micro").desc, col("word"))
      },
      Some("""WITH tok AS (SELECT source, u.w FROM documents,
             |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w) u),
             |ws AS (SELECT w, source, count(*) AS c FROM tok GROUP BY 1, 2),
             |wt AS (SELECT w, sum(c) AS cw FROM ws GROUP BY 1),
             |top AS (SELECT w, cw FROM wt ORDER BY cw DESC, w LIMIT 10),
             |st AS (SELECT source, sum(c) AS ts FROM ws GROUP BY 1),
             |tt AS (SELECT sum(CAST(ts AS HUGEINT)) AS tt FROM st),
             |terms AS (SELECT top.w, top.cw,
             |    abs(CAST(coalesce(ws.c, 0) AS HUGEINT) * 1000000 // top.cw
             |      - CAST(st.ts AS HUGEINT) * 1000000 // (SELECT tt FROM tt)) AS term
             |  FROM top CROSS JOIN st
             |  LEFT JOIN ws ON ws.w = top.w AND ws.source = st.source)
             |SELECT w AS word, CAST(cw AS BIGINT) AS n_occurrences,
             |  CAST(sum(term) // 2 AS BIGINT) AS dp_micro
             |FROM terms GROUP BY 1, 2 ORDER BY dp_micro DESC, word""".stripMargin)),

    // standardized type-token ratio (STTR-25) per source — raw TTR
    // falls with corpus length (q_ttr_curve measures exactly that
    // decay), so corpora of different sizes are comparable only on
    // FIXED-length windows: chunk every document into consecutive
    // 25-token blocks (the classic window is 100, but the fixture docs
    // run 10–99 tokens — the window must sit inside the document
    // length distribution or every block is ragged), keep complete
    // blocks only (the standard STTR convention — the ragged tail
    // would bias short docs upward), and
    // average the per-block type counts. Distinct types per block is an
    // exact integer, so STTR is exact micro: mean TTR = (Σ types)·10⁴ /
    // #blocks. One posexplode + two keyed aggregates, everything
    // partitioned by (doc, block) then source — no global state.
    QueryDef(
      "q_sttr",
      (s, d) => {
        val blocks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
          .groupBy(col("source"), col("doc_id"),
            expr("pos div 25").as("blk"))
          .agg(count(lit(1)).as("n_tok"), countDistinct("w").as("types"))
          .where(col("n_tok") === 25)
        blocks.groupBy("source")
          .agg(count(lit(1)).as("n_blocks"), sum("types").as("t"))
          .select(col("source"), col("n_blocks").cast("long").as("n_blocks"),
            expr("CAST((t * 40000) div n_blocks AS BIGINT)").as("sttr_micro"))
          .orderBy("source")
      },
      Some("""WITH w AS (SELECT doc_id, source, u.pos, u.w FROM documents,
             |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w,
             |             generate_subscripts(string_split(text, ' '), 1) AS pos) u),
             |blk AS (SELECT source, doc_id, (pos - 1) // 25 AS blk,
             |    count(*) AS n_tok, count(DISTINCT w) AS types
             |  FROM w GROUP BY 1, 2, 3),
             |full_blk AS (SELECT source, types FROM blk WHERE n_tok = 25)
             |SELECT source, count(*) AS n_blocks,
             |  CAST((sum(types) * 40000) // count(*) AS BIGINT) AS sttr_micro
             |FROM full_blk GROUP BY 1 ORDER BY 1""".stripMargin)),

    // word2vec negative-sampling table — the unigram^0.75 noise
    // distribution every skip-gram trainer draws from (the 3/4 power
    // flattens the head so frequent words are not over-sampled): per
    // word, p ∝ count^0.75. Portability note: c^0.75 is computed as
    // sqrt(sqrt(c³)), because IEEE 754 REQUIRES sqrt to be correctly
    // rounded while pow() is engine-libm territory (a measured 1-ulp
    // exp() divergence already forced q_decay_popularity off libm) —
    // two correctly-rounded sqrts of identical doubles are bit-equal
    // everywhere. Per-word scores nano-quantize before the exact total;
    // top-30 by probability with the exact integer p_micro.
    QueryDef(
      "q_unigram_sampling",
      (s, d) => {
        val cw = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
          .select(col("w"), col("c"),
            expr("""CAST(round(1e9 * sqrt(sqrt(CAST(c AS DOUBLE)
                   |  * c * c))) AS BIGINT)""".stripMargin).as("s_nano"))
        val tot = cw.agg(sum(expr("CAST(s_nano AS DECIMAL(38,0))")).as("ts"))
        cw.crossJoin(tot)
          .select(col("w").as("word"), col("c").cast("long").as("n_occurrences"),
            expr("CAST((1000000 * CAST(s_nano AS DECIMAL(38,0))) div ts AS BIGINT)")
              .as("p_micro"))
          .orderBy(col("p_micro").desc, col("word")).limit(30)
      },
      Some("""WITH w AS (SELECT u.w FROM documents,
             |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w) u),
             |cw AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
             |sc AS (SELECT w, c,
             |    CAST(round(1e9 * sqrt(sqrt(CAST(c AS DOUBLE) * c * c))) AS BIGINT)
             |      AS s_nano FROM cw),
             |t AS (SELECT sum(CAST(s_nano AS HUGEINT)) AS ts FROM sc)
             |SELECT w AS word, CAST(c AS BIGINT) AS n_occurrences,
             |  CAST((1000000 * CAST(s_nano AS HUGEINT)) // ts AS BIGINT) AS p_micro
             |FROM sc CROSS JOIN t
             |ORDER BY p_micro DESC, word LIMIT 30""".stripMargin))
  )
}
