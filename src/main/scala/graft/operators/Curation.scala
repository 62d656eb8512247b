package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation pipeline stages beyond dedup (north-star scope):
  * benchmark decontamination, composite quality filtering, domain-mix
  * resampling, and sequence packing. These are the remaining operations a
  * training-data pipeline runs between "raw crawl" and "tokenizer input"
  * that [[DedupOps]] / [[graft.functions.TextAnalysis]] don't already
  * cover. Everything is deterministic (md5-derived randomness, pinned
  * orders) so each query is oracle-checkable cross-engine.
  *
  * Generalizes the reference's filter stages (status/message guards,
  * src/trv/transform.py:90-109) to corpus-level admission control.
  */
object Curation {

  /** Number of shards for parallel sequence packing; at cluster scale
    * this is O(total tokens / tokens-per-writer-task). */
  val PackShards = 8

  /** Bloom-filter geometry for [[q_bloom_decontaminate]]: positions are
    * 20-bit (2^20 bits = 16 Ki 64-bit words = 128 KiB), two positions per
    * gram from disjoint md5 hex slices. Size for ~10 bits/element at the
    * expected benchmark-gram cardinality; the filter is fixed-size no
    * matter how big the training corpus gets. */
  private val BloomHexChars = 5

  /** Sliding-window chunk geometry, shared by [[q_doc_chunk]] (the chunk
    * LISTING) and [[q_chunk_dedup]] (the chunk-level dup metric) on BOTH
    * engines — window/stride and the ceil chunk-count formula live here
    * and nowhere else, so the two queries cannot drift on what a "chunk"
    * is. Chunk count for an n-token doc = max(1, ceil((n−overlap)/stride))
    * with overlap = len−stride; chunk i covers tokens
    * [i·stride+1, i·stride+len], the last truncating at the doc end. */
  private val ChunkLen = 32
  private val ChunkStride = 24
  private val ChunkCeilAdd = 2 * ChunkStride - ChunkLen - 1 // (n+15) for 32/24

  private def chunkTable(docs: org.apache.spark.sql.DataFrame) = {
    val toks = split(col("text"), " ")
    docs
      .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .withColumn("nc",
        greatest(lit(1), expr(s"(n + $ChunkCeilAdd) div $ChunkStride")).cast("int"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), col("nc") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        size(slice(col("toks"), col("chunk_id") * ChunkStride + 1, lit(ChunkLen)))
          .as("chunk_tokens"),
        array_join(slice(col("toks"), col("chunk_id") * ChunkStride + 1, lit(ChunkLen)), " ")
          .as("chunk_text"))
  }

  /** DuckDB twin of [[chunkTable]] (CTE body up to `chunks`, no WITH). */
  private val chunkCte =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n FROM documents),
       |c AS (SELECT doc_id, toks, CAST(u.i AS INT) AS chunk_id
       |  FROM t, LATERAL (SELECT unnest(range(0,
       |    greatest(1, (n + $ChunkCeilAdd) // $ChunkStride))) AS i) u),
       |chunks AS (SELECT doc_id, chunk_id,
       |    CAST(len(toks[chunk_id * $ChunkStride + 1 :
       |      chunk_id * $ChunkStride + $ChunkLen]) AS INT) AS chunk_tokens,
       |    array_to_string(toks[chunk_id * $ChunkStride + 1 :
       |      chunk_id * $ChunkStride + $ChunkLen], ' ') AS chunk_text
       |  FROM c)""".stripMargin

  /** Bloom position of a gram: `BloomHexChars` hex chars of md5 starting
    * at `off` (1-based), parsed base-16. Engine-portable: DuckDB computes
    * the identical value with per-char `instr` arithmetic. */
  private def bloomPos(gram: org.apache.spark.sql.Column, off: Int) =
    conv(substring(md5(gram), off, BloomHexChars), 16, 10).cast("long")

  /** DuckDB equivalent of [[bloomPos]] (no `conv` there — horner-expand
    * the hex digits). */
  private def bloomPosSql(off: Int): String =
    (0 until BloomHexChars).map(i =>
      s"(instr('0123456789abcdef', substr(md5(gram),${off + i},1))-1)*${math.pow(16, BloomHexChars - 1 - i).toLong}")
      .mkString(" + ")

  /** Token budget per packed training sequence. */
  val PackBudget = 512

  /** The contamination contract, spelled once: deterministic
    * benchmark/train split (doc_id % 97) and the benchmark's distinct
    * 5-gram set. Both decontamination queries derive from this, and
    * `BehavioralSpec` asserts their verdicts are identical — changing the
    * modulus or gram width here changes both together. */
  private def benchTrainGrams(s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val train = docs.where(col("doc_id") % 97 =!= 0)
    val bg = docs.where(col("doc_id") % 97 === 0)
      .select(explode(DedupOps.shingles(col("text"), 5)).as("gram")).distinct()
    (train, bg)
  }

  /** Iterative BPE vocabulary induction (Sennrich et al. 2016) over a
    * document corpus — the tokenizer-training step between "curated
    * corpus" and "training tokens".
    *
    * Trains on the word-frequency table (the standard formulation: pair
    * statistics are per unique word × its corpus frequency, so corpus
    * size only affects the ONE word-count aggregate; every merge round
    * runs on the distinct-word table, ∝ vocabulary). Symbols start as
    * characters; each round counts adjacent symbol pairs (zip_with, no
    * explode of raw text), picks the most frequent (ties broken
    * lexicographically, so training is deterministic), and rewrites the
    * symbol arrays with a left-to-right non-overlapping fold — [a,a,a]
    * with merge (a,a) becomes [aa,a], the reference behavior. The word
    * table's lineage is cut each round ([[Loop.cutLineage]], the CC-loop
    * discipline: iterative lineage must be cut, or analysis cost grows
    * per round).
    *
    * Returns the ordered merge list — with the word table's final
    * symbolization, the artifacts a tokenizer ships.
    */
  def bpeTrain(docs: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int): Seq[(String, String)] = {
    var words = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), split(col("w"), "").as("syms"))
      .transform(Loop.cutLineage(_))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.size < numMerges && !exhausted) {
      val szm1 = size(col("syms")) - 1
      val top = words.where(size(col("syms")) >= 2)
        .select(col("freq"), explode(zip_with(
          slice(col("syms"), lit(1), szm1), slice(col("syms"), lit(2), szm1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top.head.getString(0), top.head.getString(1))
        merges += ((a, b))
        val merged = aggregate(col("syms"),
          array().cast("array<string>"),
          (acc, x) =>
            when(size(acc) > 0 &&
                element_at(acc, -1) === lit(a) && x === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
              .otherwise(concat(acc, array(x))))
        words = words.select(col("freq"), merged.as("syms"))
          .transform(Loop.cutLineage(_))
      }
    }
    merges.toSeq
  }

  /** Memoized [[bpeTrain]] — the registry sweeps (plan audits, Verify,
    * Bench) construct each query several times, and training is 8
    * blocking jobs; the merge list is deterministic per (corpus, k), so
    * per-directory memoization changes nothing but the job count. */
  private val bpeMergeCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Seq[(String, String)]]
  private def bpeMerges(s: org.apache.spark.sql.SparkSession, d: String,
      k: Int): Seq[(String, String)] =
    bpeMergeCache.getOrElseUpdate((d, k), bpeTrain(Tables.documents(s, d), "text", k))

  val defs: Seq[QueryDef] = Seq(

    // the oracle-able single step of [[bpeTrain]]: the weighted adjacent
    // character-pair statistics of the corpus's word-frequency table and
    // the top-10 merge candidates in training order (count desc, pair
    // lexicographic). Before any merge every symbol is one character, so
    // a pair is substr(w, i, 2) — expressible identically in both
    // engines; later rounds (multi-char symbols) are BpeSpec territory.
    QueryDef(
      "q_bpe_first_merge",
      (s, d) => {
        val words = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .where(length(col("w")) > 0)
          .groupBy("w").agg(count(lit(1)).as("freq"))
        words.where(length(col("w")) >= 2)
          .select(col("freq"), explode(transform(
            sequence(lit(1), length(col("w")) - 1),
            i => col("w").substr(i, lit(2)))).as("pair"))
          .groupBy("pair").agg(sum("freq").as("n"))
          .orderBy(col("n").desc, col("pair")).limit(10)
      },
      Some("""WITH w AS (SELECT tok AS w, count(*) AS freq FROM (
             |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
             |  WHERE length(tok) > 0 GROUP BY 1),
             |p AS (SELECT substr(w, CAST(u.i AS INT), 2) AS pair, freq
             |  FROM w, LATERAL (SELECT unnest(range(1, length(w))) AS i) u
             |  WHERE length(w) >= 2)
             |SELECT pair, CAST(sum(freq) AS BIGINT) AS n
             |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 10""".stripMargin)),

    // the APPLY half of the tokenizer: train 8 merges with [[bpeTrain]],
    // then encode every document with the native greedy `bpe_encode`
    // expression and report word/piece counts + compression. The merge
    // list is a plan-time literal (the artifact a tokenizer ships — at
    // real scale it trains once and is baked into the job, exactly as
    // here); encoding is then a pure per-row map over the scan, no
    // shuffle, whole-stage codegen. No DuckDB oracle: both the iterative
    // training and the greedy rank loop are outside SQL — this is the
    // registry's second deliberate oracle exception (q_approx_distinct
    // is the first). Gated instead by BpeSpec: hand cases, structural
    // properties (concat-identity, monotone counts), and full-vocabulary
    // equivalence against an independent sequential-replay encoder.
    QueryDef(
      "q_bpe_encode",
      (s, d) => {
        val merges = bpeMerges(s, d, 8)
        val mergeLit = array(merges.map { case (a, b) => lit(a + " " + b) }: _*)
          .cast("array<string>") // a degenerate corpus can train 0 merges
        Tables.documents(s, d)
          .select(col("doc_id"),
            size(split(col("text"), " ")).as("n_words"),
            size(graft.functions.BpeEncode.bpeEncode(col("text"), mergeLit))
              .as("n_pieces"),
            length(col("text")).as("n_text_chars"))
          .withColumn("pieces_per_word",
            round(col("n_pieces") / col("n_words").cast("double"), 4))
          .orderBy("doc_id")
      },
      None),

    // boilerplate-window detection (the Dolma/RefinedWeb cleanup pass):
    // a sliding 3-token window shared verbatim by ≥5 distinct documents
    // is template text, and a document's boilerplate RATIO is a drop
    // signal. One explode → one window-frequency aggregate → one
    // re-join; shuffle is ∝ windows, the frequency table is ∝ distinct
    // shared windows (tiny), and nothing is quadratic in documents.
    QueryDef(
      "q_boilerplate",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("l"))
          .where(size(col("l")) >= 3)
        val wins = toks.select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(l) - 2), i -> concat_ws(' ', slice(l, i, 3)))"))
          .as("win"))
        val boiler = wins.groupBy("win")
          .agg(countDistinct(col("doc_id")).as("nd"))
          .where(col("nd") >= 5)
          .select(col("win"), lit(1).as("b"))
        wins.join(boiler, Seq("win"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_windows"), count(col("b")).as("n_boiler"))
          .select(col("doc_id"), col("n_windows"), col("n_boiler"),
            round(col("n_boiler") / col("n_windows").cast("double"), 4)
              .as("boiler_ratio"))
          .orderBy("doc_id")
      },
      Some("""WITH wins AS (
             |  SELECT doc_id, array_to_string(l[i:i+2], ' ') AS win
             |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
             |       LATERAL (SELECT unnest(generate_series(1, len(l) - 2)) AS i) t),
             |f AS (SELECT win FROM wins GROUP BY win
             |      HAVING count(DISTINCT doc_id) >= 5)
             |SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
             |  CAST(count(f.win) AS BIGINT) AS n_boiler,
             |  round(CAST(count(f.win) AS DOUBLE) / count(*), 4) AS boiler_ratio
             |FROM wins w LEFT JOIN f ON w.win = f.win
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // benchmark decontamination — the eval-leakage guard every training
    // pipeline runs: any training doc sharing a 5-gram with the held-out
    // benchmark set is flagged for removal. The benchmark gram set is
    // small by construction (it's an eval set), so it BROADCASTS and the
    // whole check is one map-side semi-join over the training scan — no
    // training-side shuffle except the per-doc hit count. 5-grams, not
    // unigrams: contamination means verbatim overlap, not vocabulary
    // overlap.
    QueryDef(
      "q_decontaminate",
      (s, d) => {
        val (train, bg) = benchTrainGrams(s, d)
        val tg = train.select(col("doc_id"),
          explode(DedupOps.shingles(col("text"), 5)).as("gram"))
        val hits = tg.join(broadcast(bg), "gram")
          .groupBy("doc_id").agg(countDistinct("gram").as("n_hits"))
        train.join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            when(coalesce(col("n_hits"), lit(0L)) > 0, "drop")
              .otherwise("keep").as("verdict"))
          .orderBy("doc_id")
      },
      Some("""WITH sh AS (SELECT doc_id, unnest(g) AS gram FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+4], ' ')
             |       for i in range(1, greatest(len(toks)-4, 1)+1)] AS g
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
             |bg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 97 = 0),
             |hits AS (SELECT doc_id, count(DISTINCT gram) AS n_hits
             |         FROM sh JOIN bg USING (gram)
             |         WHERE doc_id % 97 <> 0 GROUP BY 1)
             |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
             |  CASE WHEN coalesce(h.n_hits, 0) > 0 THEN 'drop' ELSE 'keep' END AS verdict
             |FROM documents d LEFT JOIN hits h USING (doc_id)
             |WHERE d.doc_id % 97 <> 0
             |ORDER BY doc_id""".stripMargin)),

    // bloom-filter decontamination — the 100 TB shape of q_decontaminate.
    // There the distinct benchmark-gram SET broadcasts; at corpus scale
    // that set is tens of GB and the broadcast dies. Here it compresses
    // to a FIXED 128 KiB bit array: bench grams set two md5-derived bloom
    // bits each (one groupBy over 16 Ki words, bit_or-packed into longs),
    // the packed words broadcast, and every training gram tests its two
    // bits map-side. Bloom has no false negatives, so the exact
    // confirmation join only runs over the bloom-POSITIVE grams (the
    // ~FP-rate-sized survivor set), never the whole corpus — verdicts are
    // exactly q_decontaminate's, at a fraction of its shuffle. The
    // confirm join carries NO broadcast hint on the gram set (that hint
    // is the thing this query exists to remove): with the bloom-positive
    // side reduced to ~FP-rate size, either join strategy is cheap, and
    // the planner chooses. The oracle states the same membership logic on
    // the position SET (bit set ⇔ position present — bit-packing is
    // representation, not semantics).
    QueryDef(
      "q_bloom_decontaminate",
      (s, d) => {
        val (train, bg) = benchTrainGrams(s, d)
        val bloom = bg.select(bloomPos(col("gram"), 1).as("p"))
          .unionByName(bg.select(bloomPos(col("gram"), 9).as("p")))
          .select(expr("p div 64").as("w"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").as("b"))
          .groupBy("w").agg(expr("bit_or(b)").as("bits"))
        // shingles() is array_distinct per doc, so gram counts below are
        // distinct-gram counts without a re-distinct
        val tg = train.select(col("doc_id"),
            explode(DedupOps.shingles(col("text"), 5)).as("gram"))
          .withColumn("p1", bloomPos(col("gram"), 1))
          .withColumn("p2", bloomPos(col("gram"), 9))
          .withColumn("w1", expr("p1 div 64"))
          .withColumn("w2", expr("p2 div 64"))
        val bloomHit = tg
          .join(broadcast(bloom.select(col("w").as("w1"), col("bits").as("bits1"))), "w1")
          .join(broadcast(bloom.select(col("w").as("w2"), col("bits").as("bits2"))), "w2")
          .where(
            expr("(bits1 & shiftleft(CAST(1 AS BIGINT), CAST(pmod(p1, 64) AS INT))) != 0") &&
            expr("(bits2 & shiftleft(CAST(1 AS BIGINT), CAST(pmod(p2, 64) AS INT))) != 0"))
          .select("doc_id", "gram")
        val bh = bloomHit.groupBy("doc_id").agg(count(lit(1)).as("bloom_hits"))
        val ex = bloomHit.join(bg, "gram")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        train.join(bh, Seq("doc_id"), "left").join(ex, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("bloom_hits"), lit(0L)).as("bloom_hits"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            when(coalesce(col("n_hits"), lit(0L)) > 0, "drop")
              .otherwise("keep").as("verdict"))
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, unnest(g) AS gram FROM (
              |    SELECT doc_id,
              |      [array_to_string(toks[i:i+4], ' ')
              |       for i in range(1, greatest(len(toks)-4, 1)+1)] AS g
              |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
              |bg AS (SELECT DISTINCT gram FROM sh WHERE doc_id % 97 = 0),
              |bpos AS (SELECT ${bloomPosSql(1)} AS p FROM bg
              |         UNION SELECT ${bloomPosSql(9)} FROM bg),
              |tg AS (SELECT DISTINCT doc_id, gram FROM sh WHERE doc_id % 97 <> 0),
              |tp AS (SELECT doc_id, gram, ${bloomPosSql(1)} AS p1,
              |         ${bloomPosSql(9)} AS p2 FROM tg),
              |bloomhit AS (SELECT doc_id, gram FROM tp
              |  WHERE p1 IN (SELECT p FROM bpos) AND p2 IN (SELECT p FROM bpos)),
              |bh AS (SELECT doc_id, count(*) AS bloom_hits FROM bloomhit GROUP BY 1),
              |ex AS (SELECT doc_id, count(*) AS n_hits
              |       FROM bloomhit JOIN bg USING (gram) GROUP BY 1)
              |SELECT d.doc_id, coalesce(bh.bloom_hits, 0) AS bloom_hits,
              |  coalesce(ex.n_hits, 0) AS n_hits,
              |  CASE WHEN coalesce(ex.n_hits, 0) > 0 THEN 'drop' ELSE 'keep' END AS verdict
              |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
              |LEFT JOIN bh USING (doc_id) LEFT JOIN ex USING (doc_id)
              |ORDER BY doc_id""".stripMargin)),

    // composite quality filter — the Gopher-style admission rule: token
    // count in range, at least one stopword hit, repetition ratio under
    // threshold. The only shuffle is the per-doc 3-gram top-share
    // aggregation; every other signal is row-local and stays in the scan
    // stage. At 100 TB this is the shape you want: one explode+agg pass
    // producing all signals, one verdict column, no per-rule passes.
    QueryDef(
      "q_quality_filter",
      (s, d) => {
        import graft.functions.TextAnalysis.{enStopwordHits, tokenCount}
        val grams = DedupOps.wordNGrams(col("text"), 3)
        val rep = Tables.documents(s, d)
          .select(col("doc_id"), explode(grams).as("gram"))
          .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(round(max("n").cast("double") / sum("n"), 4).as("rep_ratio"))
        Tables.documents(s, d)
          .withColumn("n_tokens", tokenCount(col("text")))
          .withColumn("stop_hits", enStopwordHits(col("text")))
          .join(rep, "doc_id")
          .select(col("doc_id"), col("n_tokens"), col("stop_hits"),
            col("rep_ratio"),
            round(col("n_chars").cast("double") / col("n_tokens"), 4)
              .as("chars_per_tok"),
            when(col("n_tokens").between(30, 500) && col("stop_hits") >= 1 &&
              col("rep_ratio") <= 0.2, "keep").otherwise("drop").as("verdict"))
          .orderBy("doc_id")
      },
      Some("""WITH g AS (SELECT doc_id, unnest(grams) AS gram FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS grams
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
             |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2),
             |rep AS (SELECT doc_id,
             |    round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS rep_ratio
             |  FROM c GROUP BY 1),
             |sig AS (SELECT doc_id, n_chars,
             |    CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
             |    CAST(len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) AS INT) AS stop_hits
             |  FROM documents)
             |SELECT s.doc_id, s.n_tokens, s.stop_hits, r.rep_ratio,
             |  round(CAST(s.n_chars AS DOUBLE) / s.n_tokens, 4) AS chars_per_tok,
             |  CASE WHEN s.n_tokens BETWEEN 30 AND 500 AND s.stop_hits >= 1
             |            AND r.rep_ratio <= 0.2
             |       THEN 'keep' ELSE 'drop' END AS verdict
             |FROM sig s JOIN rep r USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every
    // document by how much more likely its tokens are under a TARGET
    // domain's unigram model than under the whole corpus's — here the
    // target is the labeled-English slice, the proxy for "looks like the
    // domain we want more of". Both models are add-1-smoothed count
    // tables over the shared vocabulary; each word's log-ratio quantizes
    // to integer micro-nats ONCE in the model table (pure function of
    // four exact integers), so per-doc sums are order-free. Shapes: two
    // vocab-sized aggregates, one word-keyed model join back to the
    // token stream (the only data-sized shuffles), scalars broadcast.
    // At 100 TB the model table persists as a rollup and reapplies by
    // join — the same stored-model pattern as q_bigram_lm.
    QueryDef(
      "q_dsir_weight",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("w"))
        val cc = toks.groupBy("w").agg(count(lit(1)).as("c_c"))
        val ct = toks.where(col("lang") === "en")
          .groupBy("w").agg(count(lit(1)).as("c_t"))
        val nC = toks.agg(count(lit(1)).as("n_c"))
        val nT = toks.where(col("lang") === "en").agg(count(lit(1)).as("n_t"))
        val vocabN = cc.agg(count(lit(1)).as("v"))
        val model = cc.join(ct, Seq("w"), "left")
          .na.fill(0L, Seq("c_t"))
          .crossJoin(broadcast(nC)).crossJoin(broadcast(nT))
          .crossJoin(broadcast(vocabN))
          .select(col("w"), expr(
            """CAST(round((ln((c_t + 1.0) / (n_t + v))
              |  - ln((c_c + 1.0) / (n_c + v))) * 1000000) AS BIGINT)""".stripMargin)
            .as("s_micro"))
        toks.join(model, "w")
          .groupBy("doc_id")
          .agg(sum("s_micro").as("sm"), count(lit(1)).as("n_tokens"))
          // full micro precision, NOT round(...,4): sm is integer micro-
          // nats, so 4-decimal rounding lands on exact .5 ties where the
          // two engines' rounding modes diverge; sm/1e6 is one IEEE
          // division of exact operands — bit-identical everywhere
          .select(col("doc_id"), col("n_tokens"),
            (col("sm") / 1e6).as("log_ratio"),
            when(col("sm") > 0, "target").otherwise("background").as("bucket"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (SELECT doc_id, lang,
             |    unnest(string_split(text, ' ')) AS w FROM documents),
             |cc AS (SELECT w, count(*) AS c_c FROM toks GROUP BY 1),
             |ct AS (SELECT w, count(*) AS c_t FROM toks WHERE lang = 'en' GROUP BY 1),
             |nc AS (SELECT count(*) AS n_c FROM toks),
             |nt AS (SELECT count(*) AS n_t FROM toks WHERE lang = 'en'),
             |v AS (SELECT count(*) AS v FROM cc),
             |model AS (SELECT cc.w,
             |    CAST(round((ln((coalesce(ct.c_t, 0) + 1.0) / (n_t + v))
             |      - ln((cc.c_c + 1.0) / (n_c + v))) * 1000000) AS BIGINT) AS s_micro
             |  FROM cc LEFT JOIN ct USING (w)
             |  CROSS JOIN nc CROSS JOIN nt CROSS JOIN v)
             |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |  CAST(sum(s_micro) AS BIGINT) / 1e6 AS log_ratio,
             |  CASE WHEN CAST(sum(s_micro) AS BIGINT) > 0
             |       THEN 'target' ELSE 'background' END AS bucket
             |FROM toks t JOIN model USING (w)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // domain-mix resampling — data mixing toward a target composition:
    // each source domain is capped at a 4% share of the corpus, with the
    // per-domain keep-rate COMPUTED from measured domain counts (one tiny
    // agg, broadcast back) and membership decided row-locally by md5
    // bucket against a hex threshold. Same mechanics at 100 TB: the rate
    // table is O(domains), the corpus pass is a pure filter over the
    // scan. Thresholds compare as 3-char hex strings ('0'||byte vs
    // printf %03x) so rate 1.0 → cut '100' keeps everything.
    QueryDef(
      "q_domain_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val per = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
        val tot = docs.agg(count(lit(1)).as("total"))
        val rate = least(lit(1.0), lit(0.04) * col("total") / col("n_src"))
        val rates = per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_src"),
            format_string("%03x", floor(rate * lit(256)).cast("int")).as("cut"))
        docs.join(broadcast(rates), "source")
          .where(concat(lit("0"),
            substring(md5(concat(lit("m:"), col("doc_id"))), 1, 2)) < col("cut"))
          .select(col("doc_id"), col("source"), col("n_src"), col("cut"))
          .orderBy("doc_id")
      },
      Some("""WITH per AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
             |tot AS (SELECT count(*) AS total FROM documents),
             |rates AS (SELECT source, n_src,
             |    printf('%03x', CAST(floor(
             |      least(1.0, 0.04 * total / n_src) * 256) AS INT)) AS cut
             |  FROM per CROSS JOIN tot)
             |SELECT d.doc_id, d.source, r.n_src, r.cut
             |FROM documents d JOIN rates r USING (source)
             |WHERE '0' || substr(md5('m:' || d.doc_id), 1, 2) < r.cut
             |ORDER BY d.doc_id""".stripMargin)),

    // column profiler — the data-quality report every ingestion run emits
    // before anything downstream trusts the batch: per column, row/non-null
    // /distinct counts, min/max, and the modal value with its count
    // (ties broken deterministically on the string form). Each column is
    // one hash aggregate plus one value-counts top-1 over the same scan
    // (Spark reuses the exchange); the per-column branches union into one
    // report frame. Numeric columns profile in exact integer domains
    // (cents for the double) so the report hash-matches across engines.
    QueryDef(
      "q_profile",
      (s, d) => {
        val ev = Tables.events(s, d)
        def one(name: String, c: org.apache.spark.sql.Column) = {
          val v = ev.select(c.as("raw"))
          val stats = v.agg(
            count(lit(1)).as("n_rows"),
            count(col("raw")).as("n_nonnull"),
            countDistinct(col("raw")).as("n_distinct"),
            min(col("raw")).cast("string").as("min_v"),
            max(col("raw")).cast("string").as("max_v"))
          val top = v.where(col("raw").isNotNull)
            .groupBy(col("raw").cast("string").as("top_value"))
            .agg(count(lit(1)).as("top_count"))
            .orderBy(col("top_count").desc, col("top_value").asc)
            .limit(1)
          // LEFT join on true, not crossJoin: an all-NULL column has an
          // empty top-1 frame, and a cross join would silently drop that
          // column's whole report row — the exact row a profiler exists
          // to surface. The oracle's scalar subqueries return NULL there;
          // this matches them.
          stats.join(broadcast(top), lit(true), "left")
            .select(lit(name).as("col_name"), col("n_rows"), col("n_nonnull"),
              col("n_distinct"), col("min_v"), col("max_v"),
              col("top_value"), col("top_count"))
        }
        one("event_id", col("event_id"))
          .unionByName(one("event_type", col("event_type")))
          .unionByName(one("user_id", col("user_id")))
          .unionByName(one("value_cents",
            expr("CAST(round(value * 100) AS BIGINT)")))
          .orderBy("col_name")
      },
      Some {
        def one(name: String, c: String) =
          s"""SELECT '$name' AS col_name,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count($c) AS BIGINT) AS n_nonnull,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_v,
             |  CAST(max($c) AS VARCHAR) AS max_v,
             |  (SELECT CAST($c AS VARCHAR) FROM src WHERE $c IS NOT NULL
             |   GROUP BY $c ORDER BY count(*) DESC, CAST($c AS VARCHAR) LIMIT 1) AS top_value,
             |  (SELECT CAST(count(*) AS BIGINT) FROM src WHERE $c IS NOT NULL
             |   GROUP BY $c ORDER BY count(*) DESC, CAST($c AS VARCHAR) LIMIT 1) AS top_count
             |FROM src""".stripMargin
        s"""WITH src AS (SELECT event_id, event_type, user_id,
           |    CAST(round(value * 100) AS BIGINT) AS value_cents FROM events)
           |${Seq("event_id" -> "event_id", "event_type" -> "event_type",
                  "user_id" -> "user_id", "value_cents" -> "value_cents")
              .map { case (n, c) => one(n, c) }.mkString("\nUNION ALL\n")}
           |ORDER BY col_name""".stripMargin
      }),

    // epoch mixing — the UP-sampling twin of q_domain_mix: every source
    // is pulled toward an equal target share with a fractional repeat
    // factor f = (target · total) / n_src, capped at 4 epochs. A doc is
    // emitted floor(f) times unconditionally plus one more copy iff its
    // seedless md5 fraction clears frac(f) — so f = 2.3 repeats every doc
    // twice and a deterministic 30% of docs a third time, and f = 0.4
    // (an over-represented source) degrades to pure down-sampling with
    // zero guaranteed copies. Integer repeats come from
    // explode(sequence(0, n_int)): the blow-up is exactly the intended
    // output size, per-row, with no shuffle — the only aggregates are the
    // tiny per-source rate table (broadcast). The copy_id in the output
    // is what downstream shuffling/packing keys on so repeated copies
    // spread across partitions instead of clumping.
    QueryDef(
      "q_epoch_mix",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val per = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
        val tot = docs.agg(count(lit(1)).as("total"))
        val f = least(lit(4.0), lit(0.25) * col("total") / col("n_src"))
        val rates = per.crossJoin(broadcast(tot))
          .select(col("source"), col("n_src"),
            floor(f).cast("int").as("n_int"),
            format_string("%04x",
              floor((f - floor(f)) * 4096).cast("int")).as("cut"))
        docs.join(broadcast(rates), "source")
          .select(col("doc_id"), col("source"), col("n_int"), col("cut"),
            explode(sequence(lit(0), col("n_int"))).as("copy_id"))
          .where(col("copy_id") < col("n_int") ||
            concat(lit("0"),
              substring(md5(concat(lit("e:"), col("doc_id"))), 1, 3)) < col("cut"))
          .select("doc_id", "source", "copy_id")
          .orderBy("doc_id", "copy_id")
      },
      Some("""WITH per AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
             |tot AS (SELECT count(*) AS total FROM documents),
             |rates AS (SELECT source, n_src,
             |    CAST(floor(f) AS INT) AS n_int,
             |    printf('%04x', CAST(floor((f - floor(f)) * 4096) AS INT)) AS cut
             |  FROM (SELECT source, n_src,
             |      least(4.0, 0.25 * total / n_src) AS f
             |    FROM per CROSS JOIN tot)),
             |x AS (SELECT d.doc_id, d.source, r.n_int, r.cut, u.copy_id
             |  FROM documents d JOIN rates r USING (source),
             |    LATERAL (SELECT unnest(range(0, r.n_int + 1)) AS copy_id) u)
             |SELECT doc_id, source, CAST(copy_id AS INT) AS copy_id
             |FROM x
             |WHERE copy_id < n_int
             |   OR ('0' || substr(md5('e:' || doc_id), 1, 3)) < cut
             |ORDER BY doc_id, copy_id""".stripMargin)),

    // weighted sampling — keep-probability proportional to document
    // length (capped at 1): the data-mixing primitive for upweighting
    // long-form text without RNG state. Same md5-threshold mechanics as
    // q_domain_mix but with a PER-ROW rate, at 12-bit resolution
    // ('0'+3-hex bucket vs 4-hex cut, so rate 1.0 → cut '1000' keeps
    // everything). Row-local: a pure filter over the scan at any scale,
    // reproducible across runs and engines.
    QueryDef(
      "q_weighted_sample",
      (s, d) => Tables.documents(s, d)
        .withColumn("cut", format_string("%04x",
          floor(least(lit(1.0), col("n_chars").cast("double") / 400) * 4096)
            .cast("int")))
        .where(concat(lit("0"),
          substring(md5(concat(lit("w:"), col("doc_id"))), 1, 3)) < col("cut"))
        .select("doc_id", "n_chars", "cut")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, n_chars, cut FROM (
             |  SELECT doc_id, n_chars,
             |    printf('%04x', CAST(floor(least(1.0,
             |      CAST(n_chars AS DOUBLE) / 400) * 4096) AS INT)) AS cut
             |  FROM documents)
             |WHERE '0' || substr(md5('w:' || doc_id), 1, 3) < cut
             |ORDER BY doc_id""".stripMargin)),

    // lexical-diversity signal — Simpson/Gini diversity of each doc's
    // word distribution (1 − Σp²): near 0 = one token repeated (drop),
    // near 1 = fully diverse vocabulary. Deliberately ENTROPY-FREE: the
    // classic Shannon form needs libm log, whose last-ulp differs across
    // engines (see q_tfidf_terms); Σn² stays in exact integer arithmetic
    // until one final division, so both engines agree bit-for-bit.
    QueryDef(
      "q_word_gini",
      (s, d) => Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("n_w"))
        .groupBy("doc_id")
        .agg(sum(col("n_w") * col("n_w")).as("sumsq"), sum("n_w").as("n"))
        .select(col("doc_id"), col("n"),
          round(lit(1) - col("sumsq").cast("double") / (col("n") * col("n")), 6)
            .as("gini"))
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
             |c AS (SELECT doc_id, word, count(*) AS n_w FROM w GROUP BY 1, 2),
             |g AS (SELECT doc_id, sum(n_w * n_w) AS sumsq,
             |        CAST(sum(n_w) AS BIGINT) AS n FROM c GROUP BY 1)
             |SELECT doc_id, n, round(1 - CAST(sumsq AS DOUBLE) / (n * n), 6) AS gini
             |FROM g ORDER BY doc_id""".stripMargin)),

    // sequence packing — assign docs to fixed-token-budget training
    // sequences: shard the corpus (parallel writers), order within shard,
    // running token offset via window cumsum, bin = offset / budget.
    // The window partitions BY SHARD, so packing parallelizes across
    // writers instead of serializing on one global sort — the per-shard
    // window is the scale unit (shards sized so one shard's manifest
    // fits one writer task).
    QueryDef(
      "q_seq_pack",
      (s, d) => {
        import graft.functions.TextAnalysis.tokenCount
        val w = Window.partitionBy("shard").orderBy("doc_id")
        Tables.documents(s, d)
          .select(col("doc_id"),
            (col("doc_id") % PackShards).cast("int").as("shard"),
            tokenCount(col("text")).as("n_tokens"))
          .withColumn("offset",
            (sum("n_tokens").over(w) - col("n_tokens")).cast("bigint"))
          .withColumn("bin", floor(col("offset") / PackBudget).cast("int"))
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, shard, n_tokens,
              |  CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              |       - n_tokens AS BIGINT) AS "offset",
              |  CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
              |       - n_tokens) / $PackBudget) AS INT) AS bin
              |FROM (SELECT doc_id, CAST(doc_id % $PackShards AS INT) AS shard,
              |        CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
              |      FROM documents)
              |ORDER BY doc_id""".stripMargin)),

    // sliding-window document chunking — q_seq_pack's complement: packing
    // concatenates SHORT docs up to a token budget; chunking SPLITS docs
    // longer than the context window into overlapping fixed-size pieces
    // (the standard prep for embedding models and long-doc pretraining).
    // Window L=32 tokens, overlap 8 (stride 24): chunk count for an
    // n-token doc is max(1, ceil((n−8)/24)) = max(1, (n+15) div 24) —
    // integer-exact on both engines — and chunk i covers tokens
    // [24i+1, 24i+32], the last chunk truncating at the doc end (every
    // token belongs to ≥1 chunk; consecutive chunks share 8). The whole
    // op is one stateless projection + explode(sequence(...)) — no
    // shuffle at all until the declared ORDER BY; output rows ≈
    // Σ n_i/24, linear in corpus tokens, embarrassingly parallel.
    QueryDef(
      "q_doc_chunk",
      (s, d) => chunkTable(Tables.documents(s, d))
        .orderBy("doc_id", "chunk_id"),
      Some(s"""WITH $chunkCte
              |SELECT doc_id, chunk_id, chunk_tokens, chunk_text
              |FROM chunks ORDER BY doc_id, chunk_id""".stripMargin)),

    // chunk-level duplication metric — sub-document dedup granularity:
    // chunk every doc with q_doc_chunk's exact window (L=32, stride 24),
    // fingerprint each chunk (md5), and report per doc how many of its
    // chunks also appear verbatim in ANOTHER doc. Catches shared
    // passages (licenses, headers, quoted blocks) that whole-doc
    // fingerprints miss and that MinHash only sees diluted. Cost: one
    // stateless chunk explode (rows ≈ Σ tokens/24), one hash agg keyed
    // on the 128-bit fingerprint (shuffle ∝ chunks, map-side combined),
    // one fingerprint-keyed join back, one per-doc agg — every shuffle
    // linear in corpus size, no pairwise anything.
    QueryDef(
      "q_chunk_dedup",
      (s, d) => {
        val chunks = chunkTable(Tables.documents(s, d))
          .select(col("doc_id"), md5(col("chunk_text")).as("fp"))
        val shared = chunks.groupBy("fp")
          .agg(countDistinct("doc_id").as("n_docs_fp"))
        chunks.join(shared, "fp")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("n_docs_fp") > 1, 1L).otherwise(0L)).as("n_shared"))
          .withColumn("shared_frac",
            round(col("n_shared").cast("double") / col("n_chunks"), 4))
          .orderBy("doc_id")
      },
      Some(s"""WITH $chunkCte,
              |ch AS (SELECT doc_id, md5(chunk_text) AS fp FROM chunks),
              |s AS (SELECT fp, count(DISTINCT doc_id) AS n_docs_fp
              |  FROM ch GROUP BY 1)
              |SELECT doc_id, count(*) AS n_chunks,
              |  CAST(sum(CASE WHEN n_docs_fp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
              |  round(CAST(sum(CASE WHEN n_docs_fp > 1 THEN 1 ELSE 0 END) AS DOUBLE)
              |    / count(*), 4) AS shared_frac
              |FROM ch JOIN s USING (fp)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // content-defined chunking (CDC) dedup — the shift-robust complement
    // to q_chunk_dedup's fixed windows: a chunk boundary falls AFTER any
    // token whose md5 starts with hex '0' (p = 1/16 → expected chunk
    // ≈ 16 tokens), so inserting one token near a doc's head moves ONE
    // boundary instead of re-phasing every downstream window — shared
    // passages between edited revisions keep identical fingerprints.
    // This is the Rabin-chunking idea storage dedup systems use, on
    // token streams. Cost: one posexplode (shuffle ∝ corpus tokens,
    // keyed by doc_id — the only window is per-doc, never global), one
    // fingerprint hash agg, one join back, one per-doc agg.
    QueryDef(
      "q_cdc_chunks",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .withColumnRenamed("col", "tok")
        val w = Window.partitionBy("doc_id").orderBy("pos")
          .rowsBetween(Window.unboundedPreceding, -1)
        val chunks = toks
          .withColumn("brk",
            (substring(md5(col("tok")), 1, 1) === "0").cast("int"))
          .withColumn("chunk_id",
            coalesce(sum("brk").over(w), lit(0)).cast("int"))
          .groupBy("doc_id", "chunk_id")
          .agg(md5(array_join(transform(
            sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ")).as("fp"))
        val shared = chunks.groupBy("fp")
          .agg(countDistinct("doc_id").as("n_docs_fp"))
        chunks.join(shared, "fp")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("n_docs_fp") > 1, 1L).otherwise(0L)).as("n_shared"))
          .withColumn("shared_frac",
            round(col("n_shared").cast("double") / col("n_chunks"), 4))
          .orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tok AS (SELECT doc_id, CAST(u.i AS INT) AS pos, toks[u.i] AS tok
             |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i) u),
             |c AS (SELECT doc_id, pos, tok,
             |    CAST(coalesce(sum(CASE WHEN substr(md5(tok), 1, 1) = '0'
             |        THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS INT) AS chunk_id
             |  FROM tok),
             |ch AS (SELECT doc_id, chunk_id,
             |    md5(string_agg(tok, ' ' ORDER BY pos)) AS fp
             |  FROM c GROUP BY 1, 2),
             |s AS (SELECT fp, count(DISTINCT doc_id) AS n_docs_fp
             |  FROM ch GROUP BY 1)
             |SELECT doc_id, count(*) AS n_chunks,
             |  CAST(sum(CASE WHEN n_docs_fp > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
             |  round(CAST(sum(CASE WHEN n_docs_fp > 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*), 4) AS shared_frac
             |FROM ch JOIN s USING (fp)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // label-balance card — the class-distribution summary a dataset card
    // reports for a labeled corpus: label count, Shannon entropy of the
    // label distribution (nats), entropy normalized by the uniform
    // maximum ln(k), and the majority-class share. Per-label entropy
    // contributions −p·ln p are micro-quantized to integers before the
    // sum (order-free, the q_chisq convention); two tiny aggregates over
    // one label-grain hash agg — shuffle ∝ distinct labels.
    QueryDef(
      "q_label_balance",
      (s, d) => {
        val byLabel = Tables.embeddings(s, d)
          .groupBy("label").agg(count(lit(1)).as("n"))
        val total = byLabel.agg(sum("n").as("t"),
          count(lit(1)).as("k"), max("n").as("max_n"))
        byLabel.crossJoin(broadcast(total))
          .select(col("k"), col("t"), col("max_n"), expr(
            """CAST(round(-(n / CAST(t AS DOUBLE))
              |  * ln(n / CAST(t AS DOUBLE)) * 1000000) AS BIGINT)"""
              .stripMargin).as("h_micro"))
          .groupBy("k", "t", "max_n")
          .agg(sum("h_micro").as("h_sum"))
          .select(
            col("k").as("n_labels"), col("t").as("n_vecs"),
            round(col("h_sum") / 1e6, 4).as("entropy"),
            // a one-label corpus has zero diversity by convention (the
            // ln(1)=0 denominator would otherwise make this an
            // engine-specific NULL-vs-NaN)
            when(col("k") < 2, lit(0.0)).otherwise(
              round(col("h_sum") / 1e6 / log(col("k").cast("double")), 4))
              .as("norm_entropy"),
            round(col("max_n").cast("double") / col("t"), 4).as("max_share"))
      },
      Some("""WITH b AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS t, count(*) AS k,
             |    CAST(max(n) AS BIGINT) AS max_n FROM b),
             |h AS (SELECT k, t, max_n,
             |    CAST(round(-(n / CAST(t AS DOUBLE))
             |      * ln(n / CAST(t AS DOUBLE)) * 1000000) AS BIGINT) AS h_micro
             |  FROM b CROSS JOIN t)
             |SELECT k AS n_labels, t AS n_vecs,
             |  round(CAST(sum(h_micro) AS BIGINT) / 1e6, 4) AS entropy,
             |  CASE WHEN k < 2 THEN 0.0
             |  ELSE round(CAST(sum(h_micro) AS BIGINT) / 1e6
             |    / ln(CAST(k AS DOUBLE)), 4) END AS norm_entropy,
             |  round(CAST(max_n AS DOUBLE) / t, 4) AS max_share
             |FROM h GROUP BY k, t, max_n""".stripMargin)),

    // per-domain quality thresholding: keep each source's top half by
    // quality (FineWeb-style — a single global cutoff would let one
    // verbose domain crowd out every other; ranking WITHIN the source
    // makes the filter distribution-free across domains). Quality is the
    // exact-integer lexical-diversity score shared with q_token_budget;
    // the window partitions by source, so no task ever sees more than one
    // domain (a pathologically dominant domain is the known skew case —
    // the mitigation at 100 TB is pre-aggregating the rank key, or
    // salting the hot domain and merging ranks, both documented in
    // Skew.scala's patterns).
    QueryDef(
      "q_domain_percentile",
      (s, d) => {
        val scored = Tables.documents(s, d).select(
            col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("toks"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("uniq"))
          .withColumn("q_micro", expr("(1000000 * uniq) div toks"))
        val w = Window.partitionBy("source")
          .orderBy(col("q_micro").desc, col("doc_id").asc)
        scored
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
          .where(col("rn") <= expr("(n + 1) div 2"))
          .select("source", "doc_id", "q_micro", "rn")
          .orderBy("source", "rn")
      },
      Some("""WITH s AS (SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
             |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS uniq
             |  FROM documents),
             |q AS (SELECT source, doc_id, (1000000 * uniq) // toks AS q_micro FROM s),
             |r AS (SELECT source, doc_id, q_micro,
             |        CAST(row_number() OVER (PARTITION BY source
             |          ORDER BY q_micro DESC, doc_id) AS BIGINT) AS rn,
             |        CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
             |      FROM q)
             |SELECT source, doc_id, q_micro, rn FROM r
             |WHERE rn <= (n + 1) // 2 ORDER BY source, rn""".stripMargin)),

    // Readability banding: Flesch-Kincaid-style grade per document from
    // three regexp counts (words [A-Za-z]+, sentence marks [.!?], syllable
    // proxy = vowel groups [aeiouy]+), banded into a 2-grade-wide corpus
    // histogram. The grade is computed ENTIRELY in integer centi-units
    // with per-term truncating division — (39·W) div S + (1180·Y) div W −
    // 1559 — so both engines land on the same integer (no float FK
    // formula to disagree on ulps); the band divides the 0-clamped grade
    // so truncation-vs-floor on negatives never applies. One scan, three
    // codegen'd regexp counts per row, one map-combined aggregate —
    // shuffle ∝ distinct bands (dozens), embarrassingly scalable.
    QueryDef(
      "q_readability",
      (s, d) => {
        val m = Tables.documents(s, d).select(
          greatest(size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0))), lit(1))
            .cast("long").as("words"),
          greatest(size(regexp_extract_all(col("text"), lit("[.!?]"), lit(0))), lit(1))
            .cast("long").as("sents"),
          size(regexp_extract_all(col("text"), lit("[aeiouyAEIOUY]+"), lit(0)))
            .cast("long").as("sylls"))
        val g = m.select(col("words"),
          (expr("(39 * words) div sents") + expr("(1180 * sylls) div words") - lit(1559L))
            .as("grade_centi"))
        g.groupBy(expr("greatest(grade_centi, CAST(0 AS BIGINT)) div 200").as("band"))
          .agg(count(lit(1)).as("docs"),
            min("grade_centi").as("min_centi"),
            max("grade_centi").as("max_centi"),
            expr("(sum(words) * CAST(1000000 AS BIGINT)) div count(1)").as("avg_words_micro"))
          .orderBy("band")
      },
      Some("""WITH m AS (
             |  SELECT CAST(greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS BIGINT) AS words,
             |         CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT) AS sents,
             |         CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT) AS sylls
             |  FROM documents),
             |g AS (SELECT words,
             |        (39 * words) // sents + (1180 * sylls) // words - 1559 AS grade_centi
             |      FROM m)
             |SELECT greatest(grade_centi, 0) // 200 AS band,
             |  count(*) AS docs,
             |  min(grade_centi) AS min_centi, max(grade_centi) AS max_centi,
             |  CAST((sum(words) * 1000000) // count(*) AS BIGINT) AS avg_words_micro
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // N-gram novelty profile: per document, the fraction of its distinct
    // 3-gram shingles whose FIRST corpus occurrence (min doc_id) is this
    // document — the "how much new text does each source actually add"
    // dataset-card curve that motivates ordering/cutoff decisions.
    // Per-doc fractions are integer micros ((novel·1e6) div shingles), so
    // the per-source averages are exact integer sums with one truncating
    // division. Two shuffles, both keyed on the shingle (Catalyst reuses
    // the exchange between the min-doc aggregate and the join back);
    // per-source rollup is map-combined over the bounded source domain.
    QueryDef(
      "q_ngram_novelty",
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(DedupOps.shingles(col("text"), 3)).as("tok"))
        val first = sh.groupBy("tok").agg(min("doc_id").as("first_doc"))
        val per = sh.join(first, "tok")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_sh"),
            count(when(col("first_doc") === col("doc_id"), 1)).as("novel"))
          .select(col("source"),
            expr("(novel * CAST(1000000 AS BIGINT)) div n_sh").as("nov_micro"))
        per.groupBy("source")
          .agg(count(lit(1)).as("docs"),
            expr("sum(nov_micro) div count(1)").as("avg_novelty_micro"),
            min("nov_micro").as("min_novelty_micro"),
            max("nov_micro").as("max_novelty_micro"))
          .orderBy("source")
      },
      Some("""WITH d AS (SELECT doc_id, source, string_split(text,' ') AS toks
             |           FROM documents),
             |sh AS (SELECT DISTINCT doc_id, source,
             |         unnest([array_to_string(toks[i:i+2],' ')
             |                 for i in range(1, greatest(len(toks)-2,1)+1)]) AS tok
             |       FROM d),
             |f AS (SELECT tok, min(doc_id) AS first_doc FROM sh GROUP BY 1),
             |per AS (SELECT s.doc_id, s.source, count(*) AS n_sh,
             |          count(*) FILTER (f.first_doc = s.doc_id) AS novel
             |        FROM sh s JOIN f USING (tok) GROUP BY 1, 2)
             |SELECT source, count(*) AS docs,
             |  CAST(sum((novel*1000000)//n_sh) // count(*) AS BIGINT) AS avg_novelty_micro,
             |  CAST(min((novel*1000000)//n_sh) AS BIGINT) AS min_novelty_micro,
             |  CAST(max((novel*1000000)//n_sh) AS BIGINT) AS max_novelty_micro
             |FROM per GROUP BY 1 ORDER BY 1""".stripMargin)),

    // signal-correlation stat: exact Pearson correlation between lexical
    // diversity (the q_domain_percentile quality score, CENTI-quantized)
    // and document length — the dataset-card number that says whether a
    // quality gate is secretly a length gate. The five moment sums are
    // exact integers (centi scale keeps every sum under 2^53 to ~1e9
    // docs, so the final double arithmetic starts from exactly-cast
    // values and both engines compute the identical closed form). One
    // scan, one map-combined aggregate, one output row.
    QueryDef(
      "q_quality_length_corr",
      (s, d) => {
        val sdf = Tables.documents(s, d).select(
          expr("(CAST(10000 AS BIGINT) * size(array_distinct(split(text, ' ')))) " +
            "div size(split(text, ' '))").as("x"),
          col("n_chars").as("y"))
        sdf.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"),
            sum(col("x") * col("y")).as("sxy"))
          .select(col("n"),
            round((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              sqrt((col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
                (col("n").cast("double") * col("syy").cast("double") -
                  col("sy").cast("double") * col("sy").cast("double"))), 6)
              .as("corr"))
      },
      Some("""WITH s AS (SELECT
             |    (10000 * CAST(len(list_distinct(string_split(text,' '))) AS BIGINT))
             |      // CAST(len(string_split(text,' ')) AS BIGINT) AS x,
             |    n_chars AS y
             |  FROM documents),
             |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |        sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy FROM s)
             |SELECT CAST(n AS BIGINT) AS n,
             |  round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
             |        sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
             |             (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
             |    AS corr
             |FROM m""".stripMargin)),

    // vocabulary coverage curve: the share of all corpus tokens covered
    // by the k most frequent words (k = 10/25/50) — the number tokenizer
    // vocab-size decisions read off. The vocabulary is DATA-sized, so its
    // global frequency rank rides GlobalOrder's range shuffle (the
    // q_zipf_fit convention), never a partitionless window; the three
    // cutoffs fan out of one exploded literal array and aggregate in a
    // single map-combined pass.
    QueryDef(
      "q_vocab_coverage",
      (s, d) => {
        val freq = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
        val ranked = GlobalOrder.withGlobalRowNumber(
          freq, Seq(col("n").desc, col("w")), "rnk")
        val tot = freq.agg(sum("n").as("t"))
        ranked.crossJoin(broadcast(tot))
          .select(explode(array(lit(10), lit(25), lit(50))).as("k"),
            col("rnk"), col("n"), col("t"))
          .groupBy("k")
          .agg(expr("(sum(CASE WHEN rnk <= k THEN n ELSE 0 END) * CAST(1000000 AS BIGINT)) div max(t)")
            .as("coverage_micro"))
          .orderBy("k")
      },
      Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
             |freq AS (SELECT w, count(*) AS n FROM toks GROUP BY 1),
             |tot AS (SELECT sum(n) AS t FROM freq),
             |r AS (SELECT n, row_number() OVER (ORDER BY n DESC, w) AS rnk FROM freq)
             |SELECT ks.k, CAST((sum(CASE WHEN r.rnk <= ks.k THEN r.n ELSE 0 END) * 1000000)
             |         // max(t.t) AS BIGINT) AS coverage_micro
             |FROM (VALUES (10), (25), (50)) AS ks(k)
             |CROSS JOIN r CROSS JOIN tot t
             |GROUP BY ks.k ORDER BY ks.k""".stripMargin)),

    // filter FUNNEL — the per-stage drop accounting every curation paper
    // publishes (C4, Gopher, FineWeb report exactly this table): apply
    // q_quality_filter's three gates in sequence (length band → stopword
    // presence → repetition cap) and report survivors and drops at each
    // stage. The per-doc predicate bits are computed ONCE in a single
    // pass; all four funnel rows come out of one aggregate (conditional
    // counts over the bit combinations), exploded to rows — the corpus is
    // never re-scanned per stage.
    QueryDef(
      "q_filter_funnel",
      (s, d) => {
        import graft.functions.TextAnalysis.{enStopwordHits, tokenCount}
        val grams = DedupOps.wordNGrams(col("text"), 3)
        val rep = Tables.documents(s, d)
          .select(col("doc_id"), explode(grams).as("gram"))
          .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(round(max("n").cast("double") / sum("n"), 4).as("rep_ratio"))
        val fl = Tables.documents(s, d)
          .withColumn("n_tokens", tokenCount(col("text")))
          .withColumn("stop_hits", enStopwordHits(col("text")))
          .join(rep, "doc_id")
          .select(col("n_tokens").between(30, 500).as("p_len"),
            (col("stop_hits") >= 1).as("p_stop"),
            (col("rep_ratio") <= 0.2).as("p_rep"))
        val agg = fl.agg(
          count(lit(1)).as("all_n"),
          count(when(col("p_len"), 1)).as("s1"),
          count(when(col("p_len") && col("p_stop"), 1)).as("s2"),
          count(when(col("p_len") && col("p_stop") && col("p_rep"), 1)).as("s3"))
        agg.select(explode(array(
            struct(lit("0_all").as("stage"), col("all_n").as("remaining"),
              lit(0L).as("dropped")),
            struct(lit("1_length").as("stage"), col("s1").as("remaining"),
              (col("all_n") - col("s1")).as("dropped")),
            struct(lit("2_stopwords").as("stage"), col("s2").as("remaining"),
              (col("s1") - col("s2")).as("dropped")),
            struct(lit("3_repetition").as("stage"), col("s3").as("remaining"),
              (col("s2") - col("s3")).as("dropped")))).as("r"))
          .select("r.*")
          .orderBy("stage")
      },
      Some("""WITH g AS (SELECT doc_id, unnest(grams) AS gram FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS grams
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
             |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2),
             |rep AS (SELECT doc_id,
             |    round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS rep_ratio
             |  FROM c GROUP BY 1),
             |fl AS (SELECT
             |    (len(string_split(d.text, ' ')) BETWEEN 30 AND 500) AS p_len,
             |    (len(regexp_extract_all(d.text, '\b(the|and|of|to|in)\b')) >= 1) AS p_stop,
             |    (r.rep_ratio <= 0.2) AS p_rep
             |  FROM documents d JOIN rep r ON r.doc_id = d.doc_id)
             |SELECT stage, remaining, dropped FROM (
             |  SELECT '0_all' AS stage, count(*) AS remaining,
             |         CAST(0 AS BIGINT) AS dropped FROM fl
             |  UNION ALL
             |  SELECT '1_length', count(*) FILTER (p_len),
             |         count(*) - count(*) FILTER (p_len) FROM fl
             |  UNION ALL
             |  SELECT '2_stopwords', count(*) FILTER (p_len AND p_stop),
             |         count(*) FILTER (p_len) - count(*) FILTER (p_len AND p_stop) FROM fl
             |  UNION ALL
             |  SELECT '3_repetition', count(*) FILTER (p_len AND p_stop AND p_rep),
             |         count(*) FILTER (p_len AND p_stop)
             |           - count(*) FILTER (p_len AND p_stop AND p_rep) FROM fl)
             |ORDER BY stage""".stripMargin)),

    // ROBUST per-source outlier detection: median + median-absolute-
    // deviation of document length (both RANK-CEIL exact, the q_winsorize
    // convention — interpolating quantiles drift cross-engine, rank ones
    // cannot), flagging docs beyond 3×MAD. MAD-based flags survive the
    // exact pathology that breaks z-scores: the outliers themselves
    // inflate a standard deviation until nothing is flagged, while the
    // median/MAD barely move. Two per-source window passes + two
    // broadcast-sized joins back (one row per source each).
    QueryDef(
      "q_robust_outliers",
      (s, d) => {
        val docs = Tables.documents(s, d).select("source", "doc_id", "n_chars")
        val w1 = Window.partitionBy("source").orderBy("n_chars", "doc_id")
        val med = docs
          .withColumn("rn", row_number().over(w1).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
          .where(col("rn") === expr("(50 * n + 99) div 100"))
          .select(col("source"), col("n_chars").as("med"))
        val dev = docs.join(med, "source")
          .select(col("source"), col("doc_id"),
            abs(col("n_chars") - col("med")).as("ad"), col("med"))
        val w2 = Window.partitionBy("source").orderBy("ad", "doc_id")
        val mad = dev
          .withColumn("rn", row_number().over(w2).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
          .where(col("rn") === expr("(50 * n + 99) div 100"))
          .select(col("source"), col("ad").as("mad"))
        dev.join(mad, "source")
          .groupBy("source")
          .agg(max("med").as("median_chars"), max("mad").as("mad_chars"),
            count(lit(1)).as("docs"),
            count(when(col("ad") > lit(3) * col("mad"), 1)).as("outliers"))
          .orderBy("source")
      },
      Some("""WITH r1 AS (SELECT source, doc_id, n_chars,
             |       row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             |       count(*) OVER (PARTITION BY source) AS n
             |     FROM documents),
             |med AS (SELECT source, n_chars AS med FROM r1 WHERE rn = (50*n + 99) // 100),
             |dev AS (SELECT d.source, d.doc_id, abs(d.n_chars - m.med) AS ad, m.med
             |        FROM documents d JOIN med m USING (source)),
             |r2 AS (SELECT source, ad,
             |         row_number() OVER (PARTITION BY source ORDER BY ad, doc_id) AS rn,
             |         count(*) OVER (PARTITION BY source) AS n
             |       FROM dev),
             |mad AS (SELECT source, ad AS mad FROM r2 WHERE rn = (50*n + 99) // 100)
             |SELECT v.source, max(v.med) AS median_chars, max(m.mad) AS mad_chars,
             |  count(*) AS docs,
             |  CAST(count(CASE WHEN v.ad > 3 * m.mad THEN 1 END) AS BIGINT) AS outliers
             |FROM dev v JOIN mad m USING (source)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // corpus-balance GINI: one-row Gini coefficient of per-source CHAR
    // mass (0 = perfectly balanced, → 1 = one source is the corpus) —
    // the single number a dataset card quotes for source concentration.
    // Uses the exact pairwise form G = Σᵢⱼ|xᵢ−xⱼ| / (2k·total) over the
    // k-row per-source aggregate — all integer arithmetic, no sort, no
    // global window; the k² pair space is bounded by the SOURCE count,
    // and the one-row sides broadcast.
    QueryDef(
      "q_source_gini",
      (s, d) => {
        val src = Tables.documents(s, d).groupBy("source")
          .agg(sum("n_chars").as("n"))
        val sad = src.select(col("n").as("na"))
          .crossJoin(broadcast(src.select(col("n").as("nb"))))
          .agg(sum(abs(col("na") - col("nb"))).as("sad"))
        val t = src.agg(count(lit(1)).as("k"), sum("n").as("tot"))
        sad.crossJoin(broadcast(t))
          .select(col("k").as("sources"), col("tot").as("chars"),
            expr("(sad * CAST(1000000 AS BIGINT)) div (2 * k * tot)")
              .as("gini_micro"))
      },
      Some("""WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n
             |           FROM documents GROUP BY 1),
             |p AS (SELECT CAST(sum(abs(a.n - b.n)) AS BIGINT) AS sad
             |      FROM s a CROSS JOIN s b),
             |t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS tot
             |      FROM s)
             |SELECT t.k AS sources, t.tot AS chars,
             |  CAST((p.sad * 1000000) // (2 * t.k * t.tot) AS BIGINT) AS gini_micro
             |FROM p CROSS JOIN t""".stripMargin)),

    // Heaps'-law fit — q_zipf_fit's companion: regress ln(vocab) on
    // ln(tokens) across documents (V ≈ k·N^β; β ≈ 0.5 on natural text)
    // — the growth law that predicts how big the corpus vocabulary gets
    // at 100× before you build it. Same exact-integer-moment OLS as
    // q_zipf_fit: logs micro-quantized per point, the five sums carried
    // in DECIMAL(38,0) (micro-log squares pass 2^53 within one sf step),
    // closed form on exactly-cast values. One scan, one aggregate.
    QueryDef(
      "q_heaps_fit",
      (s, d) => {
        val pts = Tables.documents(s, d).select(
            size(split(col("text"), " ")).cast("long").as("n_tok"),
            size(array_distinct(split(col("text"), " "))).cast("long").as("v"))
          .where(col("n_tok") > 0 && col("v") > 0)
          .select(round(log(col("n_tok")) * 1e6).cast("long").as("x"),
            round(log(col("v")) * 1e6).cast("long").as("y"))
        val m = pts.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
          sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"))
        m.select(col("n").cast("long").as("docs"),
            ((col("n").cast("double") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy").cast("double")) /
              (col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double"))).as("beta_raw"),
            col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"),
            col("n").cast("double").as("nd"))
          .select(col("docs"), round(col("beta_raw"), 6).as("beta"),
            round((col("syd") - col("beta_raw") * col("sxd")) / col("nd"))
              .cast("long").as("intercept_micro"))
      },
      Some("""WITH s AS (SELECT CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
             |             CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS v
             |           FROM documents),
             |pts AS (SELECT CAST(round(ln(n_tok) * 1000000) AS BIGINT) AS x,
             |          CAST(round(ln(v) * 1000000) AS BIGINT) AS y
             |        FROM s WHERE n_tok > 0 AND v > 0),
             |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |        sum(x*x) AS sxx, sum(x*y) AS sxy FROM pts),
             |b AS (SELECT n, sx, sy,
             |        (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
             |        (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
             |          AS beta_raw
             |      FROM m)
             |SELECT CAST(n AS BIGINT) AS docs, round(beta_raw, 6) AS beta,
             |  CAST(round((CAST(sy AS DOUBLE) - beta_raw * CAST(sx AS DOUBLE))
             |       / CAST(n AS DOUBLE)) AS BIGINT) AS intercept_micro
             |FROM b""".stripMargin)),

    // type-token-ratio curve by length band — the measured form of the
    // "lexical diversity falls with length" effect q_quality_length_corr
    // summarizes to one number: micro-exact pooled TTR per 25-token band
    // (capped at band 8). The banding is why per-doc TTRs are never
    // compared across lengths raw. One scan, one map-combined aggregate.
    QueryDef(
      "q_ttr_curve",
      (s, d) => Tables.documents(s, d).select(
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          size(array_distinct(split(col("text"), " "))).cast("long").as("v"))
        .select(least(expr("n_tok div 25"), lit(8L)).as("band"),
          col("n_tok"), col("v"))
        .groupBy("band")
        .agg(count(lit(1)).as("docs"), sum("n_tok").as("tokens"),
          expr("(sum(v) * CAST(1000000 AS BIGINT)) div sum(n_tok)").as("ttr_micro"))
        .orderBy("band"),
      Some("""WITH s AS (SELECT CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
             |             CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS v
             |           FROM documents),
             |b AS (SELECT least(n_tok // 25, 8) AS band, n_tok, v FROM s)
             |SELECT band, count(*) AS docs,
             |  CAST(sum(n_tok) AS BIGINT) AS tokens,
             |  CAST((sum(v) * 1000000) // sum(n_tok) AS BIGINT) AS ttr_micro
             |FROM b GROUP BY 1 ORDER BY 1""".stripMargin)),

    // pairwise Jensen-Shannon divergence between source word
    // distributions — q_domain_kl's symmetric, bounded sibling at pair
    // grain (JS never blows up on one-sided words, so it's the metric
    // for ranking SOURCE PAIRS by redistributional closeness — the
    // distribution-level complement of q_source_overlap's shingle-set
    // view). One-sided words contribute their exact 0.5·p·ln2 mass via
    // a source-pair × vocabulary grid (pairs bounded by the source
    // count; the vocab axis shuffles on the word, the data-sized key);
    // terms nano-quantized pre-sum. Top-10 CLOSEST pairs.
    QueryDef(
      "q_source_js",
      (s, d) => {
        val cnt = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("word"))
          .groupBy("source", "word").agg(count(lit(1)).as("n"))
        val tot = cnt.groupBy("source").agg(sum("n").as("t"))
        val p = cnt.join(broadcast(tot), "source")
          .select(col("source"), col("word"),
            (col("n").cast("double") / col("t").cast("double")).as("p"))
        val srcs = tot.select(col("source").as("sa"))
          .crossJoin(broadcast(tot.select(col("source").as("sb"))))
          .where(col("sa") < col("sb"))
        val words = cnt.select("word").distinct()
        val grid = words.crossJoin(broadcast(srcs))
        val j = grid
          .join(p.select(col("source").as("sa"), col("word"), col("p").as("pa0")),
            Seq("sa", "word"), "left")
          .join(p.select(col("source").as("sb"), col("word"), col("p").as("pb0")),
            Seq("sb", "word"), "left")
          .select(col("sa"), col("sb"),
            coalesce(col("pa0"), lit(0.0)).as("pa"),
            coalesce(col("pb0"), lit(0.0)).as("pb"))
          .where(col("pa") > 0 || col("pb") > 0)
        j.select(col("sa"), col("sb"),
            round((when(col("pa") > 0,
              lit(0.5) * col("pa") * log(lit(2.0) * col("pa") / (col("pa") + col("pb"))))
              .otherwise(lit(0.0)) +
              when(col("pb") > 0,
                lit(0.5) * col("pb") * log(lit(2.0) * col("pb") / (col("pa") + col("pb"))))
                .otherwise(lit(0.0))) * lit(1e9)).cast("long").as("term_nano"))
          .groupBy("sa", "sb")
          .agg(sum("term_nano").as("js_nano"))
          .select(col("sa").as("source_a"), col("sb").as("source_b"), col("js_nano"))
          .orderBy(col("js_nano"), col("source_a"), col("source_b"))
          .limit(10)
      },
      Some("""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
             |           FROM documents),
             |cnt AS (SELECT source, word, count(*) AS n FROM w GROUP BY 1, 2),
             |tot AS (SELECT source, sum(n) AS t FROM cnt GROUP BY 1),
             |p AS (SELECT c.source, c.word, CAST(c.n AS DOUBLE) / t.t AS p
             |      FROM cnt c JOIN tot t USING (source)),
             |srcs AS (SELECT a.source AS sa, b.source AS sb
             |         FROM tot a JOIN tot b ON a.source < b.source),
             |words AS (SELECT DISTINCT word FROM cnt),
             |grid AS (SELECT s.sa, s.sb, w.word FROM srcs s CROSS JOIN words w),
             |j AS (SELECT g.sa, g.sb, g.word,
             |        coalesce(pa.p, 0) AS pa, coalesce(pb.p, 0) AS pb
             |      FROM grid g
             |      LEFT JOIN p pa ON pa.source = g.sa AND pa.word = g.word
             |      LEFT JOIN p pb ON pb.source = g.sb AND pb.word = g.word),
             |terms AS (SELECT sa, sb,
             |    CAST(round(((CASE WHEN pa > 0
             |                  THEN 0.5 * pa * ln(2*pa/(pa+pb)) ELSE 0 END)
             |              + (CASE WHEN pb > 0
             |                  THEN 0.5 * pb * ln(2*pb/(pa+pb)) ELSE 0 END)) * 1e9)
             |         AS BIGINT) AS term_nano
             |  FROM j WHERE pa > 0 OR pb > 0)
             |SELECT sa AS source_a, sb AS source_b,
             |  CAST(sum(term_nano) AS BIGINT) AS js_nano
             |FROM terms GROUP BY 1, 2
             |ORDER BY js_nano, source_a, source_b LIMIT 10""".stripMargin)),

    // corpus ENTROPY RATE: conditional word entropy H(next | prev) over
    // the bigram distribution, in nano-nats — the information-theoretic
    // compressibility number beside q_token_entropy's unigram view and
    // q_bigram_lm's per-doc scores (a boilerplate-heavy corpus shows a
    // collapsing rate long before a dedup pass finds the culprits).
    // Terms p(w1,w2)·ln(c(w1)/c(w1,w2)) are nano-quantized pre-sum; the
    // bigram table comes from the shared native word_ngrams expression
    // with its truncated-short-doc convention, filtered to true bigrams
    // identically on both engines.
    QueryDef(
      "q_entropy_rate",
      (s, d) => {
        val grams = Tables.documents(s, d)
          .select(explode(DedupOps.wordNGrams(col("text"), 2)).as("gram"))
          .where(instr(col("gram"), " ") > 0)
        val c2 = grams.groupBy("gram").agg(count(lit(1)).as("n"))
          .withColumn("w1", substring_index(col("gram"), " ", 1))
        val ct = c2.groupBy("w1").agg(sum("n").as("t"))
        val tot = c2.agg(sum("n").as("g"))
        c2.join(ct, "w1").crossJoin(broadcast(tot))
          .select(round((col("n").cast("double") / col("g").cast("double")) *
            log(col("t").cast("double") / col("n").cast("double")) * lit(1e9))
            .cast("long").as("term_nano"))
          .agg(count(lit(1)).as("bigrams"),
            sum("term_nano").cast("long").as("entropy_rate_nano"))
      },
      Some("""WITH g AS (SELECT unnest([array_to_string(ts[i:i+1], ' ')
             |                          for i in range(1, greatest(len(ts)-1, 1)+1)]) AS gram
             |           FROM (SELECT string_split(text, ' ') AS ts FROM documents)),
             |bg AS (SELECT gram FROM g WHERE strpos(gram, ' ') > 0),
             |c2 AS (SELECT gram, count(*) AS n FROM bg GROUP BY 1),
             |c1 AS (SELECT string_split(gram, ' ')[1] AS w1, gram, n FROM c2),
             |ct AS (SELECT w1, sum(n) AS t FROM c1 GROUP BY 1),
             |tot AS (SELECT sum(n) AS g FROM c2),
             |terms AS (SELECT
             |    CAST(round((CAST(c1.n AS DOUBLE) / tot.g) *
             |               ln(CAST(ct.t AS DOUBLE) / c1.n) * 1e9) AS BIGINT) AS term_nano
             |  FROM c1 JOIN ct USING (w1) CROSS JOIN tot)
             |SELECT count(*) AS bigrams,
             |  CAST(sum(term_nano) AS BIGINT) AS entropy_rate_nano
             |FROM terms""".stripMargin)),

    // sampler BIAS audit: draw the standard deterministic ~12.5 % md5
    // sample and compare each source's share in the sample against its
    // share in the full corpus — max and mean absolute deviation in
    // micros. This is the gate that says whether a cheap hash sample can
    // stand in for the corpus in dataset-card numbers (a skewed hash or
    // a correlated key shows up here immediately). Two map-combined
    // aggregates; the report is one row.
    QueryDef(
      "q_sample_bias",
      (s, d) => {
        val f = Tables.documents(s, d)
          .select(col("source"),
            (substring(md5(concat(lit("smp:"), col("doc_id"))), 1, 1) < "2")
              .as("sampled"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), count(when(col("sampled"), 1)).as("k"))
        val t = f.agg(sum("n").as("tn"), sum("k").as("tk"))
        f.crossJoin(broadcast(t))
          .select(
            expr("(n * CAST(1000000 AS BIGINT)) div tn").as("full_micro"),
            expr("CAST(CASE WHEN tk > 0 THEN (k * 1000000) div tk ELSE 0 END AS BIGINT)")
              .as("sample_micro"))
          .agg(count(lit(1)).as("sources"),
            max(abs(col("sample_micro") - col("full_micro")))
              .as("max_abs_dev_micro"),
            expr("sum(abs(sample_micro - full_micro)) div count(1)")
              .as("mean_abs_dev_micro"))
      },
      Some("""WITH s AS (SELECT source,
             |             substr(md5('smp:' || doc_id), 1, 1) < '2' AS sampled
             |           FROM documents),
             |f AS (SELECT source, count(*) AS n,
             |        count(CASE WHEN sampled THEN 1 END) AS k
             |      FROM s GROUP BY 1),
             |t AS (SELECT sum(n) AS tn, sum(k) AS tk FROM f),
             |dev AS (SELECT f.source,
             |          (f.n * 1000000) // t.tn AS full_micro,
             |          CAST(CASE WHEN t.tk > 0 THEN (f.k * 1000000) // t.tk ELSE 0 END
             |               AS BIGINT) AS sample_micro
             |        FROM f CROSS JOIN t)
             |SELECT count(*) AS sources,
             |  CAST(max(abs(sample_micro - full_micro)) AS BIGINT) AS max_abs_dev_micro,
             |  CAST(sum(abs(sample_micro - full_micro)) // count(*) AS BIGINT)
             |    AS mean_abs_dev_micro
             |FROM dev""".stripMargin)),

    // SPEARMAN rank correlation between two quality signals (lexical
    // diversity vs readability grade) — the monotone-association check
    // that Pearson (q_quality_length_corr) can't give: it answers "do
    // these two gates rank documents the same way" regardless of either
    // signal's scale. Ranks are EXACT integers (doc_id tiebreak — the
    // declared tie convention, so both engines produce identical rank
    // vectors) and ride GlobalOrder's range shuffle twice, once per
    // signal; the closed form then runs on exactly-cast integer moment
    // sums. −0.97 on fixtures: the two gates are near-redundant, which
    // is precisely what this query is for discovering.
    QueryDef(
      "q_spearman",
      (s, d) => {
        val sdf = Tables.documents(s, d).select(col("doc_id"),
          expr("(CAST(10000 AS BIGINT) * size(array_distinct(split(text, ' ')))) " +
            "div size(split(text, ' '))").as("x"),
          (expr("(39 * CAST(greatest(size(regexp_extract_all(text, '[A-Za-z]+', 0)), 1) AS BIGINT)) " +
            "div CAST(greatest(size(regexp_extract_all(text, '[.!?]', 0)), 1) AS BIGINT)") +
            expr("(1180 * CAST(size(regexp_extract_all(text, '[aeiouyAEIOUY]+', 0)) AS BIGINT)) " +
              "div CAST(greatest(size(regexp_extract_all(text, '[A-Za-z]+', 0)), 1) AS BIGINT)") -
            lit(1559L)).as("y"))
        val rx = GlobalOrder.withGlobalRowNumber(sdf, Seq(col("x"), col("doc_id")), "rx")
        val rxy = GlobalOrder.withGlobalRowNumber(rx, Seq(col("y"), col("doc_id")), "ry")
        val m = rxy.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
          sum(col("rx").cast("decimal(38,0)")).as("sx"),
          sum(col("ry").cast("decimal(38,0)")).as("sy"),
          sum((col("rx") * col("rx")).cast("decimal(38,0)")).as("sxx"),
          sum((col("ry") * col("ry")).cast("decimal(38,0)")).as("syy"),
          sum((col("rx") * col("ry")).cast("decimal(38,0)")).as("sxy"))
        m.select(col("n").cast("long").as("docs"),
          round((col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            sqrt((col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              (col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
            .as("spearman"))
      },
      Some("""WITH s AS (SELECT doc_id,
             |    (10000 * CAST(len(list_distinct(string_split(text,' '))) AS BIGINT))
             |      // CAST(len(string_split(text,' ')) AS BIGINT) AS x,
             |    (39 * CAST(greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS BIGINT))
             |      // CAST(greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS BIGINT)
             |    + (1180 * CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT))
             |      // CAST(greatest(len(regexp_extract_all(text, '[A-Za-z]+')), 1) AS BIGINT)
             |    - 1559 AS y
             |  FROM documents),
             |r AS (SELECT row_number() OVER (ORDER BY x, doc_id) AS rx,
             |        row_number() OVER (ORDER BY y, doc_id) AS ry
             |      FROM s),
             |m AS (SELECT count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
             |        sum(rx*rx) AS sxx, sum(ry*ry) AS syy, sum(rx*ry) AS sxy FROM r)
             |SELECT CAST(n AS BIGINT) AS docs,
             |  round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
             |        sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
             |             (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
             |    AS spearman
             |FROM m""".stripMargin)),

    // temperature-scaled source mixing (the multilingual-sampling
    // formula, α = 0.7): sampled share ∝ p_i^α flattens the source
    // distribution — head sources downweight, tail sources upweight —
    // the standard mix transform between "natural crawl proportions"
    // and "what the training run actually samples". Shares are on char
    // mass (source doc-COUNTS are fixture-balanced — the documented
    // degeneracy); p^α evaluates as exp(α·ln p) SPELLED IDENTICALLY in
    // both engines and is nano-rounded per source before any ratio, so
    // the cross-engine surface is one libm-stable transcendental per
    // source, not an accumulated float sum. Everything after the
    // per-source rollup is |sources|-row broadcast work.
    QueryDef(
      "q_temperature_mix",
      (s, d) => {
        val src = Tables.documents(s, d)
          .groupBy("source").agg(sum(length(col("text"))).as("c"))
        val t = src.agg(sum("c").as("ct"))
        val w = src.crossJoin(broadcast(t))
          .select(col("source"), col("c"), col("ct"),
            round(exp(lit(0.7) * log(col("c").cast("double") / col("ct"))) * 1e9)
              .cast("long").as("w_nano"))
        val z = w.agg(sum("w_nano").as("wz"))
        w.crossJoin(broadcast(z))
          .select(col("source"), col("c").as("chars"),
            expr("CAST(CAST(c AS DECIMAL(38,0)) * 1000000 div ct AS BIGINT)")
              .as("raw_share_micro"),
            expr("CAST(CAST(w_nano AS DECIMAL(38,0)) * 1000000 div wz AS BIGINT)")
              .as("temp_share_micro"),
            expr("CAST(CAST(w_nano AS DECIMAL(38,0)) * 1000000 * ct div (CAST(wz AS DECIMAL(38,0)) * c) AS BIGINT)")
              .as("upweight_micro"))
          .orderBy("source")
      },
      Some("""WITH s AS (SELECT source, CAST(sum(length(text)) AS BIGINT) AS c
             |           FROM documents GROUP BY 1),
             |t AS (SELECT sum(c) AS ct FROM s),
             |w AS (SELECT source, c, t.ct,
             |        CAST(round(exp(0.7 * ln(CAST(c AS DOUBLE) / t.ct)) * 1e9) AS BIGINT) AS w_nano
             |      FROM s CROSS JOIN t),
             |z AS (SELECT sum(w_nano) AS wz FROM w)
             |SELECT w.source, w.c AS chars,
             |  CAST(CAST(w.c AS HUGEINT) * 1000000 // w.ct AS BIGINT) AS raw_share_micro,
             |  CAST(CAST(w.w_nano AS HUGEINT) * 1000000 // z.wz AS BIGINT) AS temp_share_micro,
             |  CAST(CAST(w.w_nano AS HUGEINT) * 1000000 * w.ct // (CAST(z.wz AS HUGEINT) * w.c) AS BIGINT)
             |    AS upweight_micro
             |FROM w CROSS JOIN z ORDER BY w.source""".stripMargin)),

    // two IRLS/Newton steps of logistic regression (purchase ~ value) —
    // the GLM-training-on-Spark shape beside q_kmeans_iter: each step is
    // ONE pass of map-combined moment aggregation (gradient + 2×2
    // Hessian), the 100 TB distributed-training pattern where compute
    // scales with rows and only six numbers shuffle. Step 1 exploits
    // β₀ = 0 (σ ≡ ½), so gradient and Hessian are pure integer moments
    // and the Newton solve is an exact 128-bit closed form. Step 2
    // evaluates the sigmoid at the step-1 coefficients, micro-rounds the
    // per-row probability ONCE (both engines evaluate the identical IEEE
    // expression on exact integers), and re-solves on exact integer
    // sums. Fixture check: β₀ walks −1.184 → −1.353 toward the true
    // base-rate logit −1.398. DECIMAL(38,0)/HUGEINT throughout; the
    // moment magnitudes bound exactness to ~1e9 rows at milli
    // quantization — past that, quantize coarser (documented trade).
    QueryDef(
      "q_logreg_irls",
      (s, d) => {
        val e = Tables.events(s, d).select(
          expr("CAST(round(value * 1000) AS BIGINT)").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val m = e.agg(count(lit(1)).as("n"), sum("y").as("n1"),
          sum(expr("CAST(v AS DECIMAL(38,0))")).as("sv"),
          sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("sv2"),
          sum(expr("CAST(2 * y - 1 AS DECIMAL(38,0)) * v")).as("g2_1"))
        val b1 = m.select(col("n"), col("n1").as("n_pos"),
          expr("""CAST(2 * (sv2 * CAST(2 * n1 - n AS DECIMAL(38,0)) - sv * g2_1)
                 | * 1000000 div (n * sv2 - sv * sv) AS BIGINT)""".stripMargin)
            .as("b0_micro"),
          expr("""CAST(2 * (n * g2_1 - sv * CAST(2 * n1 - n AS DECIMAL(38,0)))
                 | * 1000000000 div (n * sv2 - sv * sv) AS BIGINT)""".stripMargin)
            .as("b1_nano"))
        val pr = e.crossJoin(broadcast(b1))
          .withColumn("p_micro",
            expr("""CAST(round(1000000.0 / (1.0 + exp(-(b0_micro / 1000000.0
                   | + b1_nano / 1000000000.0 * v)))) AS BIGINT)""".stripMargin))
          .withColumn("w_micro", expr("p_micro * (1000000 - p_micro) div 1000000"))
        val s2 = pr.agg(
          sum(expr("CAST(y * 1000000 - p_micro AS DECIMAL(38,0))")).as("g0s"),
          sum(expr("CAST(y * 1000000 - p_micro AS DECIMAL(38,0)) * v")).as("g1s"),
          sum(expr("CAST(w_micro AS DECIMAL(38,0))")).as("h00s"),
          sum(expr("CAST(w_micro AS DECIMAL(38,0)) * v")).as("h01s"),
          sum(expr("CAST(w_micro AS DECIMAL(38,0)) * v * v")).as("h11s"))
        s2.crossJoin(broadcast(b1))
          .select(col("n"), col("n_pos"),
            col("b0_micro").as("beta0_micro"), col("b1_nano").as("beta1_nano"),
            expr("""b0_micro + CAST((h11s * g0s - h01s * g1s) * 1000000
                   | div (h00s * h11s - h01s * h01s) AS BIGINT)""".stripMargin)
              .as("beta0_2_micro"),
            expr("""b1_nano + CAST((h00s * g1s - h01s * g0s) * 1000000000
                   | div (h00s * h11s - h01s * h01s) AS BIGINT)""".stripMargin)
              .as("beta1_2_nano"))
      },
      Some("""WITH e AS (SELECT CAST(round(value*1000) AS BIGINT) AS v,
             |            CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y FROM events),
             |m AS (SELECT count(*) AS n, sum(y) AS n1,
             |        sum(CAST(v AS HUGEINT)) AS sv, sum(CAST(v AS HUGEINT)*v) AS sv2,
             |        sum(CAST(2*y-1 AS HUGEINT)*v) AS g2_1,
             |        CAST(2*sum(y)-count(*) AS HUGEINT) AS g2_0
             |      FROM e),
             |b1 AS (SELECT CAST(n AS BIGINT) AS n, CAST(n1 AS BIGINT) AS n_pos,
             |  CAST(2*(sv2*g2_0 - sv*g2_1)*1000000 // (n*sv2 - sv*sv) AS BIGINT) AS b0_micro,
             |  CAST(2*(n*g2_1 - sv*g2_0)*1000000000 // (n*sv2 - sv*sv) AS BIGINT) AS b1_nano
             |FROM m),
             |pr AS (SELECT e.y, e.v,
             |         CAST(round(1000000.0 / (1.0 + exp(-(b0_micro / 1000000.0
             |           + b1_nano / 1000000000.0 * v)))) AS BIGINT) AS p_micro
             |       FROM e CROSS JOIN b1),
             |s2 AS (SELECT
             |    sum(CAST(y * 1000000 - p_micro AS HUGEINT)) AS g0s,
             |    sum(CAST(y * 1000000 - p_micro AS HUGEINT) * v) AS g1s,
             |    sum(CAST(p_micro * (1000000 - p_micro) // 1000000 AS HUGEINT)) AS h00s,
             |    sum(CAST(p_micro * (1000000 - p_micro) // 1000000 AS HUGEINT) * v) AS h01s,
             |    sum(CAST(p_micro * (1000000 - p_micro) // 1000000 AS HUGEINT) * v * v) AS h11s
             |  FROM pr)
             |SELECT b1.n, b1.n_pos, b1.b0_micro AS beta0_micro, b1.b1_nano AS beta1_nano,
             |  b1.b0_micro + CAST((h11s*g0s - h01s*g1s) * 1000000
             |    // (h00s*h11s - h01s*h01s) AS BIGINT) AS beta0_2_micro,
             |  b1.b1_nano + CAST((h00s*g1s - h01s*g0s) * 1000000000
             |    // (h00s*h11s - h01s*h01s) AS BIGINT) AS beta1_2_nano
             |FROM s2 CROSS JOIN b1""".stripMargin)),

    // one ALS half-step of implicit-feedback matrix factorization
    // (customer × part, rank 2) — the recommender-training-on-Spark
    // shape (spark.ml ALS): with item factors FROZEN (deterministic
    // md5-seeded milli vectors — exactly how a rank sweep seeds its
    // first sweep), every user's factor solve is an independent 2×2
    // ridge system over that user's own ratings, i.e. ONE groupBy
    // producing five exact integer moments per user and a closed-form
    // 128-bit solve — no gradient loop, no driver-side state, perfectly
    // partitioned by user at any scale. λ=1 (milli² units) keeps
    // single-item users non-singular. Output: the first 21 customers'
    // solved factors in exact micros.
    QueryDef(
      "q_als_step",
      (s, d) => {
        val r = Tables.lineitem(s, d)
          .join(Tables.orders(s, d).select("o_orderkey", "o_custkey"),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_custkey").as("c"), col("l_partkey").as("p"))
          .agg(sum("l_quantity").cast("long").as("r"))
        def fcol(salt: String) =
          (conv(substring(md5(concat(lit(salt), col("p").cast("string"))), 1, 12),
            16, 10).cast("long") % 2001L - 1000L)
        val f = r.select("p").distinct()
          .select(col("p"), fcol("f1:").as("f1"), fcol("f2:").as("f2"))
        val m = r.join(f, "p")
          .groupBy("c")
          .agg(count(lit(1)).as("n_rated"),
            (sum(expr("CAST(f1 AS DECIMAL(38,0)) * f1")) + 1000000L).as("a11"),
            sum(expr("CAST(f1 AS DECIMAL(38,0)) * f2")).as("a12"),
            (sum(expr("CAST(f2 AS DECIMAL(38,0)) * f2")) + 1000000L).as("a22"),
            sum(expr("CAST(f1 AS DECIMAL(38,0)) * r")).as("b1"),
            sum(expr("CAST(f2 AS DECIMAL(38,0)) * r")).as("b2"))
        m.where(col("c") < 21)
          .select(col("c"), col("n_rated"),
            expr("CAST((a22 * b1 - a12 * b2) * 1000000 div (a11 * a22 - a12 * a12) AS BIGINT)")
              .as("u1_micro"),
            expr("CAST((a11 * b2 - a12 * b1) * 1000000 div (a11 * a22 - a12 * a12) AS BIGINT)")
              .as("u2_micro"))
          .orderBy("c")
      },
      Some("""WITH r AS (SELECT o.o_custkey AS c, l.l_partkey AS p,
             |             CAST(sum(l.l_quantity) AS BIGINT) AS r
             |           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
             |           GROUP BY 1, 2),
             |f AS (SELECT DISTINCT p,
             |        CAST('0x' || substr(md5('f1:' || p), 1, 12) AS BIGINT) % 2001 - 1000 AS f1,
             |        CAST('0x' || substr(md5('f2:' || p), 1, 12) AS BIGINT) % 2001 - 1000 AS f2
             |      FROM r),
             |m AS (SELECT r.c, count(*) AS n_rated,
             |        sum(CAST(f.f1 AS HUGEINT) * f.f1) + 1000000 AS a11,
             |        sum(CAST(f.f1 AS HUGEINT) * f.f2) AS a12,
             |        sum(CAST(f.f2 AS HUGEINT) * f.f2) + 1000000 AS a22,
             |        sum(CAST(f.f1 AS HUGEINT) * r.r) AS b1,
             |        sum(CAST(f.f2 AS HUGEINT) * r.r) AS b2
             |      FROM r JOIN f ON f.p = r.p GROUP BY 1)
             |SELECT c, n_rated,
             |  CAST((a22 * b1 - a12 * b2) * 1000000 // (a11 * a22 - a12 * a12) AS BIGINT) AS u1_micro,
             |  CAST((a11 * b2 - a12 * b1) * 1000000 // (a11 * a22 - a12 * a12) AS BIGINT) AS u2_micro
             |FROM m WHERE c < 21 ORDER BY c""".stripMargin)),

    // histogram-based decision-stump split search — the kernel every
    // distributed gradient-boosted-tree learner (XGBoost/LightGBM-style)
    // runs per node: bin the feature into 32 fixed-width buckets (ONE
    // map-combined histogram pass over the facts — the only data-sized
    // work), then score all 31 split boundaries from the 32-row
    // histogram's running sums and take the purest. Purity is the
    // Gini-equivalent Σside (pos²+neg²)/n_side, kept exact in integer
    // micros (128-bit squares); argmax with a bin tiebreak. Predicting
    // purchase from value: the best split isolates the low-value bins
    // where purchases concentrate.
    QueryDef(
      "q_stump_split",
      (s, d) => {
        val e = Tables.events(s, d).select(
          expr("CAST(round(value*1000) AS BIGINT)").as("v"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val mm = e.agg(min("v").as("vmin"), max("v").as("vmax"))
        val h = e.crossJoin(broadcast(mm))
          .select(expr("CAST(((v - vmin) * 32) div (vmax - vmin + 1) AS INT)")
            .as("bin"), col("y"))
          .groupBy("bin").agg(count(lit(1)).as("n_b"), sum("y").as("pos_b"))
        val w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        val run = h.select(col("bin"),
          sum("n_b").over(w).as("nl"), sum("pos_b").over(w).as("posl"))
        val tot = e.agg(count(lit(1)).as("n"), sum("y").as("pos"))
        val sc = run.crossJoin(broadcast(tot))
          .where(col("nl") > 0 && col("nl") < col("n"))
          .select(col("bin"), col("nl"), col("posl"),
            (col("n") - col("nl")).as("nr"), (col("pos") - col("posl")).as("posr"),
            expr("""CAST((CAST(posl AS DECIMAL(38,0))*posl
                   |   + CAST(nl-posl AS DECIMAL(38,0))*(nl-posl)) * 1000000 div nl
                   | + (CAST(pos-posl AS DECIMAL(38,0))*(pos-posl)
                   |    + CAST((n-nl)-(pos-posl) AS DECIMAL(38,0))*((n-nl)-(pos-posl)))
                   |   * 1000000 div (n - nl) AS BIGINT)""".stripMargin)
              .as("purity_score"))
        val best = sc.orderBy(col("purity_score").desc, col("bin")).limit(1)
        best.crossJoin(broadcast(mm))
          .select(col("vmin"), col("vmax"), col("bin").as("best_bin"),
            expr("CAST(vmin + (bin + 1) * (vmax - vmin + 1) div 32 AS BIGINT)")
              .as("threshold_milli"),
            col("nl").as("n_left"), col("posl").as("pos_left"),
            col("nr").as("n_right"), col("posr").as("pos_right"),
            col("purity_score"))
      },
      Some("""WITH e AS (SELECT CAST(round(value*1000) AS BIGINT) AS v,
             |    CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y FROM events),
             |mm AS (SELECT min(v) AS vmin, max(v) AS vmax FROM e),
             |b AS (SELECT CAST(((v - vmin) * 32) // (vmax - vmin + 1) AS INT) AS bin, y
             |      FROM e CROSS JOIN mm),
             |h AS (SELECT bin, count(*) AS n_b, sum(y) AS pos_b FROM b GROUP BY 1),
             |run AS (SELECT bin,
             |    sum(n_b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
             |    sum(pos_b) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS posl
             |  FROM h),
             |tot AS (SELECT count(*) AS n, sum(y) AS pos FROM e),
             |sc AS (SELECT bin, nl, posl, n - nl AS nr, pos - posl AS posr,
             |    CAST((CAST(posl AS HUGEINT)*posl + CAST(nl-posl AS HUGEINT)*(nl-posl)) * 1000000 // nl
             |       + (CAST(pos-posl AS HUGEINT)*(pos-posl)
             |          + CAST((n-nl)-(pos-posl) AS HUGEINT)*((n-nl)-(pos-posl))) * 1000000 // (n - nl)
             |      AS BIGINT) AS purity_score
             |  FROM run CROSS JOIN tot WHERE nl > 0 AND nl < n),
             |best AS (SELECT * FROM sc ORDER BY purity_score DESC, bin LIMIT 1)
             |SELECT mm.vmin, mm.vmax, best.bin AS best_bin,
             |  CAST(mm.vmin + (best.bin + 1) * (mm.vmax - mm.vmin + 1) // 32 AS BIGINT) AS threshold_milli,
             |  CAST(best.nl AS BIGINT) AS n_left, CAST(best.posl AS BIGINT) AS pos_left,
             |  CAST(best.nr AS BIGINT) AS n_right, CAST(best.posr AS BIGINT) AS pos_right,
             |  best.purity_score
             |FROM best CROSS JOIN mm""".stripMargin)),

    // smoothed mean-target encoding — the feature-engineering transform
    // that turns a categorical into the target's shrunk per-category
    // rate: enc = (pos + m·prior)/(n + m) with m = 10, prior = the
    // global rate. Small categories shrink toward the prior (the
    // overfitting guard that makes target encoding usable at all); the
    // prior is micro-rounded ONCE and reused, so the table is exact
    // integers. One pass for the category stats + a broadcast prior.
    QueryDef(
      "q_target_encode",
      (s, d) => {
        val e = Tables.events(s, d).select(col("event_type"),
          when(col("value") > 250, 1L).otherwise(0L).as("y"))
        val tot = e.agg(count(lit(1)).as("n_tot"), sum("y").as("pos_tot"))
          .select(expr("CAST(pos_tot * 1000000 div n_tot AS BIGINT)")
            .as("prior_micro"))
        e.groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("y").as("pos"))
          .crossJoin(broadcast(tot))
          .select(col("event_type"), col("n"), col("pos"), col("prior_micro"),
            expr("""CAST((CAST(pos AS DECIMAL(38,0)) * 1000000 + 10 * prior_micro)
                   | div (n + 10) AS BIGINT)""".stripMargin).as("enc_micro"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (SELECT event_type, CASE WHEN value > 250 THEN 1 ELSE 0 END AS y FROM events),
             |tot AS (SELECT CAST(sum(y) * 1000000 // count(*) AS BIGINT) AS prior_micro FROM e),
             |g AS (SELECT event_type, count(*) AS n, sum(y) AS pos FROM e GROUP BY 1)
             |SELECT g.event_type, CAST(g.n AS BIGINT) AS n, CAST(g.pos AS BIGINT) AS pos,
             |  t.prior_micro,
             |  CAST((CAST(g.pos AS HUGEINT) * 1000000 + 10 * t.prior_micro) // (g.n + 10) AS BIGINT)
             |    AS enc_micro
             |FROM g CROSS JOIN tot t ORDER BY g.event_type""".stripMargin)),

    // cumulative gains / lift chart — the model-eval readout a scored
    // population is triaged with ("contact the top decile, capture X %
    // of converters"): rank rows by the score (value, the stump's
    // feature), cut into 10 global deciles, and report each decile's
    // cumulative converter share and lift vs random. Deciles ride
    // GlobalOrder's exact global ntile; the cumulative pass runs over
    // the 10-row decile table. Exact integer micros; on the weakly-
    // predictive fixture the lifts sit near 1e6 — the honest null
    // reading a gain chart exists to reveal.
    QueryDef(
      "q_gain_chart",
      (s, d) => {
        val e = Tables.events(s, d).select(
          expr("CAST(round(value*1000) AS BIGINT)").as("score"), col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val tot = e.agg(count(lit(1)).as("n"), sum("y").as("pos"))
        // the lift denominators already count the base frame — hand the
        // same total to the ntile pass instead of letting its default
        // recount e in a separate job (GlobalOrder.withGlobalNtile doc)
        val r = GlobalOrder.withGlobalNtile(e,
          Seq(col("score"), col("event_id")), 10, "decile",
          total = Some(tot.select(col("n").cast("long").as("_go_n"))))
        val g = r.groupBy("decile")
          .agg(count(lit(1)).as("n_d"), sum("y").as("pos_d"))
        val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
        g.withColumn("cum_pos", sum("pos_d").over(w))
          .withColumn("cum_n", sum("n_d").over(w))
          .crossJoin(broadcast(tot))
          .select(col("decile").cast("int").as("decile"), col("n_d"), col("pos_d"),
            expr("CAST(cum_pos * 1000000 div pos AS BIGINT)").as("cum_gain_micro"),
            expr("""CAST((CAST(cum_pos AS DECIMAL(38,0)) * n * 1000000)
                   | div (CAST(cum_n AS DECIMAL(38,0)) * pos) AS BIGINT)""".stripMargin)
              .as("lift_micro"))
          .orderBy("decile")
      },
      Some("""WITH e AS (SELECT CAST(round(value*1000) AS BIGINT) AS score, event_id,
             |    CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y FROM events),
             |r AS (SELECT *, ntile(10) OVER (ORDER BY score, event_id) AS decile FROM e),
             |tot AS (SELECT count(*) AS n, sum(y) AS pos FROM e),
             |g AS (SELECT decile, count(*) AS n_d, sum(y) AS pos_d FROM r GROUP BY 1),
             |c AS (SELECT decile, n_d, pos_d,
             |        sum(pos_d) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             |        sum(n_d) OVER (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
             |      FROM g)
             |SELECT CAST(decile AS INT) AS decile, CAST(n_d AS BIGINT) AS n_d,
             |  CAST(pos_d AS BIGINT) AS pos_d,
             |  CAST(cum_pos * 1000000 // pos AS BIGINT) AS cum_gain_micro,
             |  CAST((CAST(cum_pos AS HUGEINT) * n * 1000000) // (CAST(cum_n AS HUGEINT) * pos) AS BIGINT)
             |    AS lift_micro
             |FROM c CROSS JOIN tot ORDER BY decile""".stripMargin)),

    // hashing-trick featurizer profile: every corpus 3-gram hashed into
    // 64 feature buckets (md5-derived — both engines compute the
    // identical bucket), reporting each bucket's distinct-gram load and
    // total occurrence mass. This is the collision/balance audit run
    // before committing to a hashed feature space (a hot bucket means
    // features alias; ~uniform load means the width is adequate — the
    // fixture's 64 buckets land within ±15 % of uniform). Shuffle is
    // gram-keyed then bucket-keyed — both map-combined; output bounded
    // by the bucket count at any corpus size.
    QueryDef(
      "q_hash_features",
      (s, d) => {
        val grams = Tables.documents(s, d).select(
          explode(DedupOps.wordNGrams(col("text"), 3)).as("g"))
        val m = grams.groupBy("g").agg(count(lit(1)).as("occ"))
        m.select(
            (conv(substring(md5(concat(lit("hf:"), col("g"))), 1, 12), 16, 10)
              .cast("long") % 64).as("bucket"),
            col("occ"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_grams"),
            sum(expr("CAST(occ AS DECIMAL(38,0))")).cast("long").as("mass"))
          .orderBy("bucket")
      },
      Some("""WITH g AS (SELECT unnest(grams) AS g FROM (
             |    SELECT [array_to_string(toks[i:i+2], ' ')
             |            for i in range(1, greatest(len(toks)-2, 1)+1)] AS grams
             |    FROM (SELECT string_split(text, ' ') AS toks FROM documents))),
             |m AS (SELECT g, count(*) AS occ FROM g GROUP BY 1),
             |h AS (SELECT CAST(('0x' || substr(md5('hf:' || g), 1, 12)) AS BIGINT) % 64 AS bucket,
             |        occ FROM m)
             |SELECT bucket, count(*) AS n_grams, CAST(sum(occ) AS BIGINT) AS mass
             |FROM h GROUP BY 1 ORDER BY 1""".stripMargin)),

    // class-rebalancing negative downsample: keep every positive
    // (purchase) and a deterministic md5-thresholded ~pos/neg fraction
    // of negatives, targeting 1:1 — the standard imbalanced-training
    // prep, done WITHOUT randomness so reruns and engines agree
    // row-for-row (the md5 sampler convention). The global pos/neg
    // ratio rides a broadcast one-row frame into the filter; the
    // report states the achieved neg-per-pos ratio (~1.016:1 on the
    // fixture — hash-threshold sampling is binomial-exactly that,
    // never exactly 1).
    QueryDef(
      "q_negative_downsample",
      (s, d) => {
        val lab = Tables.events(s, d).select(col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"))
        val r = lab.agg(sum("y").as("pos"),
          (count(lit(1)) - sum("y")).as("neg"))
        lab.crossJoin(broadcast(r))
          .where(col("y") === 1 ||
            conv(substring(md5(concat(lit("ds:"),
              col("event_id").cast("string"))), 1, 12), 16, 10)
              .cast("long") % 1000000 < expr("1000000 * pos div neg"))
          .agg(count(lit(1)).as("n_kept"), sum("y").as("n_pos"),
            (count(lit(1)) - sum("y")).as("n_neg"))
          .select(col("n_kept"), col("n_pos"), col("n_neg"),
            expr("n_neg * 1000000 div n_pos").as("neg_per_pos_micro"))
      },
      Some("""WITH lab AS (SELECT event_id,
             |      CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS y FROM events),
             |r AS (SELECT sum(y) AS pos, count(*) - sum(y) AS neg FROM lab),
             |kept AS (SELECT l.event_id, l.y FROM lab l CROSS JOIN r
             |         WHERE l.y = 1
             |            OR CAST(('0x' || substr(md5('ds:' || l.event_id), 1, 12)) AS BIGINT)
             |               % 1000000 < 1000000 * r.pos // r.neg)
             |SELECT count(*) AS n_kept, CAST(sum(y) AS BIGINT) AS n_pos,
             |  CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
             |  CAST((count(*) - sum(y)) * 1000000 // sum(y) AS BIGINT) AS neg_per_pos_micro
             |FROM kept""".stripMargin)),

    // weight-of-evidence / information-value feature screen — the
    // credit-scoring-style binned audit of how a noisy score separates
    // the value>250 label (the q_roc_auc construction binned into ten
    // fixed-width buckets): WOE_b = ln(smoothed pos-rate / neg-rate)
    // per bin, IV = Σ (Δrate)·WOE. One grouped pass over events (the
    // bin domain is 10 by construction — clamped BEFORE the integer
    // divide so negative scores never hit engine-dependent floor-vs-
    // truncate division); totals ride a broadcast one-row frame; each
    // IV term is nonnegative by construction and quantizes to nano
    // BEFORE the 10-term window sum (the q_mutual_info convention).
    QueryDef(
      "q_woe_iv",
      (s, d) => {
        val sc = Tables.events(s, d).where(col("value").isNotNull)
          .select((expr("CAST(round(value*100) AS BIGINT)")
              + (conv(substring(md5(concat(lit("auc:"),
                  col("event_id").cast("string"))), 1, 2), 16, 10)
                .cast("long") - 128L) * 200L).as("score"),
            when(col("value") > 250, 1L).otherwise(0L).as("y"))
          .select(expr("least(greatest(score, 0) div 5000, 9)").as("bin"), col("y"))
        val t = sc.agg(sum("y").as("pos"), (count(lit(1)) - sum("y")).as("neg"))
        sc.groupBy("bin")
          .agg(sum("y").as("p"), (count(lit(1)) - sum("y")).as("q"))
          .crossJoin(broadcast(t))
          .select(col("bin"), col("p").as("n_pos"), col("q").as("n_neg"),
            expr("""CAST(round(ln(((CAST(p AS DOUBLE) + 0.5)/pos)
                   | / ((CAST(q AS DOUBLE) + 0.5)/neg)) * 1000000) AS BIGINT)""".stripMargin)
              .as("woe_micro"),
            expr("""CAST(round(((CAST(p AS DOUBLE) + 0.5)/pos - (CAST(q AS DOUBLE) + 0.5)/neg)
                   | * ln(((CAST(p AS DOUBLE) + 0.5)/pos) / ((CAST(q AS DOUBLE) + 0.5)/neg))
                   | * 1000000000) AS BIGINT)""".stripMargin).as("iv_nano"))
          .select(col("bin"), col("n_pos"), col("n_neg"), col("woe_micro"),
            col("iv_nano"),
            expr("CAST(CAST(sum(iv_nano) OVER () AS BIGINT) div 1000 AS BIGINT)")
              .as("iv_total_micro"))
          .orderBy("bin")
      },
      Some("""WITH s AS (SELECT least(greatest(CAST(round(value*100) AS BIGINT)
             |      + (CAST(('0x' || substr(md5('auc:' || event_id), 1, 2)) AS BIGINT) - 128)*200,
             |      0) // 5000, 9) AS bin,
             |    CASE WHEN value > 250 THEN 1 ELSE 0 END AS y
             |  FROM events WHERE value IS NOT NULL),
             |t AS (SELECT sum(y) AS pos, count(*) - sum(y) AS neg FROM s),
             |b AS (SELECT bin, count(*) FILTER (WHERE y=1) AS p,
             |        count(*) FILTER (WHERE y=0) AS q FROM s GROUP BY 1),
             |w AS (SELECT bin, p, q,
             |    CAST(round(ln(((CAST(p AS DOUBLE) + 0.5)/pos)
             |      / ((CAST(q AS DOUBLE) + 0.5)/neg)) * 1000000) AS BIGINT) AS woe_micro,
             |    CAST(round(((CAST(p AS DOUBLE) + 0.5)/pos - (CAST(q AS DOUBLE) + 0.5)/neg)
             |      * ln(((CAST(p AS DOUBLE) + 0.5)/pos) / ((CAST(q AS DOUBLE) + 0.5)/neg))
             |      * 1000000000) AS BIGINT) AS iv_nano
             |  FROM b CROSS JOIN t)
             |SELECT CAST(bin AS BIGINT) AS bin, CAST(p AS BIGINT) AS n_pos,
             |  CAST(q AS BIGINT) AS n_neg, woe_micro, iv_nano,
             |  CAST(CAST(sum(iv_nano) OVER () AS BIGINT) // 1000 AS BIGINT) AS iv_total_micro
             |FROM w ORDER BY bin""".stripMargin)),

    // expanding-window time-series cross-validation plan — five folds
    // with 5-day test windows over the January fixture span, each fold
    // training on everything strictly before its cut: the split report
    // a forecasting/backtest pipeline materializes before training,
    // with the user-overlap column surfacing how many entities leak
    // state across the boundary (q_temporal_split's scalar audit, per
    // fold). Event counts come from the 31-row per-day rollup and user
    // flags from the (user, day) distinct frame — the fold cross join
    // touches users·days rows, never raw events, so the plan is one
    // events shuffle plus bounded broadcast work at any scale.
    QueryDef(
      "q_tscv_folds",
      (s, d) => {
        val ev = Tables.events(s, d)
        val folds = s.range(1, 6).select(col("id").as("fold"),
          expr("date_add(DATE'2024-01-01', CAST(5*id AS INT))").as("cut"))
        val dc = ev.groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val evc = dc.crossJoin(broadcast(folds))
          .groupBy("fold")
          .agg(coalesce(sum(when(col("day") < col("cut"), col("n"))), lit(0L))
              .as("train_n"),
            coalesce(sum(when(col("day") >= col("cut")
              && col("day") < date_add(col("cut"), 5), col("n"))), lit(0L))
              .as("test_n"))
        val ud = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
        val us = ud.crossJoin(broadcast(folds))
          .groupBy("fold", "user_id")
          .agg(max(when(col("day") < col("cut"), 1L).otherwise(0L)).as("tr"),
            max(when(col("day") >= col("cut")
              && col("day") < date_add(col("cut"), 5), 1L).otherwise(0L)).as("te"))
          .groupBy("fold")
          .agg(count(when(col("tr") === 1, 1)).as("train_users"),
            count(when(col("te") === 1, 1)).as("test_users"),
            count(when(col("tr") === 1 && col("te") === 1, 1)).as("shared_users"))
        evc.join(us, "fold")
          .select(col("fold"), col("train_n"), col("test_n"),
            col("train_users"), col("test_users"), col("shared_users"))
          .orderBy("fold")
      },
      Some("""WITH ud AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
             |      FROM events),
             |dc AS (SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, count(*) AS n
             |      FROM events GROUP BY 1),
             |fc AS (SELECT fold, DATE '2024-01-01' + INTERVAL (5 * fold) DAY AS cut
             |      FROM (SELECT unnest(range(1, 6)) AS fold)),
             |ev AS (SELECT fold,
             |         coalesce(sum(n) FILTER (WHERE day < cut), 0) AS train_n,
             |         coalesce(sum(n) FILTER (WHERE day >= cut
             |           AND day < cut + INTERVAL 5 DAY), 0) AS test_n
             |       FROM fc CROSS JOIN dc GROUP BY 1),
             |us AS (SELECT fold,
             |         count(*) FILTER (WHERE tr) AS train_users,
             |         count(*) FILTER (WHERE te) AS test_users,
             |         count(*) FILTER (WHERE tr AND te) AS shared_users
             |       FROM (SELECT fc.fold, ud.user_id,
             |               bool_or(ud.day < fc.cut) AS tr,
             |               bool_or(ud.day >= fc.cut AND ud.day < fc.cut + INTERVAL 5 DAY) AS te
             |             FROM fc CROSS JOIN ud GROUP BY 1, 2)
             |       GROUP BY 1)
             |SELECT CAST(ev.fold AS BIGINT) AS fold, CAST(train_n AS BIGINT) AS train_n,
             |  CAST(test_n AS BIGINT) AS test_n, CAST(train_users AS BIGINT) AS train_users,
             |  CAST(test_users AS BIGINT) AS test_users,
             |  CAST(shared_users AS BIGINT) AS shared_users
             |FROM ev JOIN us ON us.fold = ev.fold ORDER BY fold""".stripMargin)),

    // per-source dataset datasheet — the one-row-per-source summary a
    // corpus release ships (the "datasheets for datasets" table):
    // volume (docs / chars / whitespace tokens), language breadth and
    // the majority language with its share, and the exact-duplicate
    // count within the source (docs whose md5 fingerprint collides).
    // Three grouped passes over documents — per-source, per-(source,
    // lang) with a bounded argmax window, per-(source, hash) — all
    // map-combined on the source key; every column is an exact integer
    // or an integer division.
    QueryDef(
      "q_source_datasheet",
      (s, d) => {
        val base = Tables.documents(s, d).select(col("source"), col("lang"),
          col("n_chars"), md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        val ps = base.groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("chars"), sum("toks").as("tokens"),
          countDistinct("lang").as("n_langs"))
        val wl = Window.partitionBy("source")
          .orderBy(col("nl").desc, col("lang").asc)
        val top = base.groupBy("source", "lang").agg(count(lit(1)).as("nl"))
          .withColumn("r", row_number().over(wl)).where(col("r") === 1)
          .select(col("source"), col("lang").as("top_lang"), col("nl"))
        val dup = base.groupBy("source", "h").agg(count(lit(1)).as("c"))
          .where(col("c") > 1)
          .groupBy("source").agg(sum("c").as("dup_docs"))
        ps.join(top, "source").join(dup, Seq("source"), "left")
          .select(col("source"), col("n_docs"), col("chars"), col("tokens"),
            expr("chars div n_docs").as("mean_chars"), col("n_langs"),
            col("top_lang"),
            expr("nl * 1000 div n_docs").as("top_lang_share_milli"),
            coalesce(col("dup_docs"), lit(0L)).as("dup_docs"))
          .orderBy("source")
      },
      Some("""WITH base AS (SELECT source, lang, n_chars, md5(text) AS h,
             |        len(string_split(text, ' ')) AS toks FROM documents),
             |ps AS (SELECT source, count(*) AS n_docs, sum(n_chars) AS chars,
             |        sum(toks) AS tokens, count(DISTINCT lang) AS n_langs
             |      FROM base GROUP BY 1),
             |pl AS (SELECT source, lang, count(*) AS nl FROM base GROUP BY 1, 2),
             |top AS (SELECT source, lang AS top_lang, nl FROM (
             |          SELECT source, lang, nl, row_number() OVER (PARTITION BY source
             |            ORDER BY nl DESC, lang) AS r FROM pl) WHERE r = 1),
             |dup AS (SELECT source, sum(c) AS dup_docs FROM (
             |          SELECT source, count(*) AS c FROM base GROUP BY source, h
             |          HAVING count(*) > 1) GROUP BY 1)
             |SELECT ps.source, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(chars AS BIGINT) AS chars, CAST(tokens AS BIGINT) AS tokens,
             |  CAST(chars // n_docs AS BIGINT) AS mean_chars,
             |  CAST(n_langs AS BIGINT) AS n_langs, top.top_lang,
             |  CAST(top.nl * 1000 // ps.n_docs AS BIGINT) AS top_lang_share_milli,
             |  CAST(coalesce(dup.dup_docs, 0) AS BIGINT) AS dup_docs
             |FROM ps JOIN top ON top.source = ps.source
             |LEFT JOIN dup ON dup.source = ps.source
             |ORDER BY ps.source""".stripMargin)),

    // per-source out-of-vocabulary rate vs the global top-20 token list —
    // the train/serve vocabulary-mismatch gate (q_vocab_coverage measures
    // what the top-k CAPTURES globally; this measures what each source
    // LOSES). The top-20 list is a TakeOrdered (sort-limit, no global
    // window) broadcast against one tokenized scan; rates are exact
    // integer micro. On the ~37-word fixture vocabulary OOV sits under
    // 1 % — the honest floor; real corpora put this in double digits.
    QueryDef(
      "q_vocab_oov",
      (s, d) => {
        val tok = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ")).as("w"))
        val topv = tok.groupBy("w").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w")).limit(20)
          .select(col("w"), lit(1L).as("in_vocab"))
        tok.join(broadcast(topv), Seq("w"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"))
          .select(col("source"), col("n_tokens"), col("oov_tokens"),
            expr("oov_tokens * 1000000 div n_tokens").as("oov_micro"))
          .orderBy("source")
      },
      Some("""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w
             |      FROM documents),
             |v AS (SELECT w, count(*) AS n FROM tok GROUP BY 1),
             |topv AS (SELECT w FROM (
             |    SELECT w, row_number() OVER (ORDER BY n DESC, w) AS r FROM v)
             |  WHERE r <= 20)
             |SELECT source, count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN topv.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
             |  CAST(sum(CASE WHEN topv.w IS NULL THEN 1 ELSE 0 END) * 1000000
             |    // count(*) AS BIGINT) AS oov_micro
             |FROM tok LEFT JOIN topv USING (w) GROUP BY 1 ORDER BY 1""".stripMargin)),

    // multinomial naive-Bayes train + classify — the count-based distributed
    // trainer (U21 family): Laplace-smoothed per-class token log-probs fit on
    // the even doc-id-blocks half, applied to the held-out half, reported as
    // the confusion matrix. The model (|vocab| × |classes| log-probs) is the
    // ONLY thing broadcast — the corpus streams through one tokenize + one
    // grouped count each side, so shuffle ∝ corpus tokens and the score
    // aggregation is map-combined per (doc, class). ln terms quantize to
    // nano BEFORE the per-doc sum (q_mutual_info convention); argmax breaks
    // ties on class name. Fixture honesty: source word-distributions are iid
    // by construction, so accuracy sits at chance (~1/20) — the machinery
    // and the exact confusion hash are the deliverable, as with
    // q_mutual_info's near-zero MI.
    QueryDef(
      "q_nb_classify",
      (s, d) => {
        nbScores(s, d).withColumn("rk",
            row_number().over(Window.partitionBy("doc_id")
              .orderBy(col("s_nano").desc, col("cls"))))
          .where(col("rk") === 1)
          .groupBy(col("true_source"), col("cls").as("pred_source"))
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("true_source", "pred_source")
      },
      Some("""WITH train AS (SELECT doc_id, source, unnest(string_split(text,' ')) AS w
             |      FROM documents WHERE (doc_id // 20) % 2 = 0),
             |test AS (SELECT doc_id, source AS true_source, unnest(string_split(text,' ')) AS w
             |      FROM documents WHERE (doc_id // 20) % 2 = 1),
             |cw AS (SELECT source, w, count(*) AS a FROM train GROUP BY 1,2),
             |cs AS (SELECT source, sum(a) AS ns FROM cw GROUP BY 1),
             |v AS (SELECT count(DISTINCT w) AS vocab FROM train),
             |pri AS (SELECT source, count(DISTINCT doc_id) AS nd FROM train GROUP BY 1),
             |tot AS (SELECT sum(nd) AS td FROM pri),
             |priors AS (SELECT source AS cls,
             |    CAST(round(1e9*ln(CAST(nd AS DOUBLE)/(SELECT td FROM tot))) AS BIGINT)
             |      AS prior_nano FROM pri),
             |tw AS (SELECT doc_id, true_source, w, count(*) AS cnt
             |       FROM test GROUP BY 1, 2, 3),
             |terms AS (SELECT t.doc_id, t.true_source, cs.source AS cls,
             |    t.cnt * CAST(round(1e9*ln((coalesce(cw.a,0)+1.0)/(cs.ns + (SELECT vocab FROM v))))
             |      AS BIGINT) AS lp_nano
             |  FROM tw t CROSS JOIN cs
             |  LEFT JOIN cw ON cw.source = cs.source AND cw.w = t.w),
             |score AS (SELECT doc_id, true_source, terms.cls,
             |    sum(lp_nano) + any_value(prior_nano) AS s_nano
             |  FROM terms JOIN priors ON priors.cls = terms.cls GROUP BY 1,2,3),
             |pred AS (SELECT doc_id, true_source, cls AS pred_source,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY s_nano DESC, cls) AS rk
             |  FROM score)
             |SELECT true_source, pred_source, count(*) AS n_docs
             |FROM pred WHERE rk = 1 GROUP BY 1,2 ORDER BY 1,2""".stripMargin)),

    // quality-rule overlap matrix — for q_quality_filter's three drop rules
    // (length outside [30,500], zero stopword hits, 3-gram repetition
    // > 0.2): per pair, how many docs each kills, how many both kill, and
    // the Jaccard of their kill sets. The number that decides whether a
    // rule is redundant (high overlap) or carries unique signal — the
    // standard ablation before touching a production filter chain. Same
    // rule expressions as q_quality_filter verbatim, ONE conditional-sum
    // aggregate, 3-row literal pair unrolling post-agg.
    QueryDef(
      "q_filter_overlap",
      (s, d) => {
        import graft.functions.TextAnalysis.{enStopwordHits, tokenCount}
        val grams = DedupOps.wordNGrams(col("text"), 3)
        val rep = Tables.documents(s, d)
          .select(col("doc_id"), explode(grams).as("gram"))
          .groupBy("doc_id", "gram").agg(count(lit(1)).as("n"))
          .groupBy("doc_id")
          .agg(round(max("n").cast("double") / sum("n"), 4).as("rep_ratio"))
        val fl = Tables.documents(s, d)
          .withColumn("n_tokens", tokenCount(col("text")))
          .withColumn("stop_hits", enStopwordHits(col("text")))
          .join(rep, "doc_id")
          .select(
            when(!col("n_tokens").between(30, 500), 1L).otherwise(0L).as("fa"),
            when(col("stop_hits") < 1, 1L).otherwise(0L).as("fb"),
            when(col("rep_ratio") > 0.2, 1L).otherwise(0L).as("fc"))
        val sAgg = fl.agg(sum("fa").as("na"), sum("fb").as("nb"), sum("fc").as("nc"),
          sum(expr("fa*fb")).as("nab"), sum(expr("fa*fc")).as("nac"),
          sum(expr("fb*fc")).as("nbc"))
        def pair(a: String, b: String, fa: String, fb: String, both: String) =
          sAgg.select(lit(a).as("rule_a"), lit(b).as("rule_b"),
            col(fa).as("fail_a"), col(fb).as("fail_b"), col(both).as("fail_both"),
            expr(s"""CAST(CASE WHEN $fa + $fb - $both = 0 THEN 0
                    | ELSE $both*1000 div ($fa + $fb - $both) END AS BIGINT)"""
              .stripMargin).as("jaccard_milli"))
        pair("length", "repetition", "na", "nc", "nac")
          .unionByName(pair("length", "stopword", "na", "nb", "nab"))
          .unionByName(pair("stopword", "repetition", "nb", "nc", "nbc"))
          .orderBy("rule_a", "rule_b")
      },
      Some("""WITH g AS (SELECT doc_id, unnest(grams) AS gram FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS grams
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
             |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2),
             |rep AS (SELECT doc_id,
             |    round(CAST(max(n) AS DOUBLE) / sum(n), 4) AS rep_ratio
             |  FROM c GROUP BY 1),
             |fl AS (SELECT
             |    CASE WHEN NOT (len(string_split(text, ' ')) BETWEEN 30 AND 500)
             |         THEN 1 ELSE 0 END AS fa,
             |    CASE WHEN len(regexp_extract_all(text, '\b(the|and|of|to|in)\b')) < 1
             |         THEN 1 ELSE 0 END AS fb,
             |    CASE WHEN r.rep_ratio > 0.2 THEN 1 ELSE 0 END AS fc
             |  FROM documents d JOIN rep r USING (doc_id)),
             |s AS (SELECT sum(fa) AS na, sum(fb) AS nb, sum(fc) AS nc,
             |    sum(fa*fb) AS nab, sum(fa*fc) AS nac, sum(fb*fc) AS nbc FROM fl)
             |SELECT 'length' AS rule_a, 'repetition' AS rule_b,
             |  CAST(na AS BIGINT) AS fail_a, CAST(nc AS BIGINT) AS fail_b,
             |  CAST(nac AS BIGINT) AS fail_both,
             |  CAST(CASE WHEN na + nc - nac = 0 THEN 0
             |    ELSE nac*1000 // (na+nc-nac) END AS BIGINT) AS jaccard_milli FROM s
             |UNION ALL SELECT 'length', 'stopword', CAST(na AS BIGINT),
             |  CAST(nb AS BIGINT), CAST(nab AS BIGINT),
             |  CAST(CASE WHEN na + nb - nab = 0 THEN 0
             |    ELSE nab*1000 // (na+nb-nab) END AS BIGINT) FROM s
             |UNION ALL SELECT 'stopword', 'repetition', CAST(nb AS BIGINT),
             |  CAST(nc AS BIGINT), CAST(nbc AS BIGINT),
             |  CAST(CASE WHEN nb + nc - nbc = 0 THEN 0
             |    ELSE nbc*1000 // (nb+nc-nbc) END AS BIGINT) FROM s
             |ORDER BY rule_a, rule_b""".stripMargin)),

    // vocabulary coverage curve — token mass captured by the top-k
    // vocabulary at k = 1/5/10/20/50: the vocabulary-size dial
    // q_vocab_coverage's single point expands into (and the input to
    // choosing a tokenizer's vocab budget). The vocab ranking rides
    // GlobalOrder's range-partitioned row number (the q_zipf_fit
    // convention — never a global window over the vocabulary frame);
    // the 5-point grid joins broadcast.
    QueryDef(
      "q_coverage_curve",
      (s, d) => {
        val cnt = Tables.documents(s, d)
          .select(explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"))
        val tot = cnt.agg(sum("n").as("t"), count(lit(1)).as("vocab"))
        val rk = GlobalOrder.withGlobalRowNumber(cnt,
          Seq(col("n").desc, col("w").asc), "r")
        val grid = s.range(0, 5).select(
          expr("CAST(element_at(array(1, 5, 10, 20, 50), CAST(id AS INT) + 1) AS BIGINT)")
            .as("k"))
        rk.crossJoin(broadcast(grid))
          .groupBy("k")
          .agg(sum(when(col("r") <= col("k"), col("n")).otherwise(0L)).as("covered"))
          .crossJoin(broadcast(tot))
          .select(col("k"),
            expr("covered * 1000000 div t").as("coverage_micro"),
            col("vocab").as("vocab_size"))
          .orderBy("k")
      },
      Some("""WITH tok AS (SELECT unnest(string_split(text,' ')) AS w FROM documents),
             |cnt AS (SELECT w, count(*) AS n FROM tok GROUP BY 1),
             |rk AS (SELECT w, n, row_number() OVER (ORDER BY n DESC, w) AS r FROM cnt),
             |tot AS (SELECT sum(n) AS t, count(*) AS vocab FROM cnt),
             |grid AS (SELECT unnest([1,5,10,20,50]) AS k)
             |SELECT CAST(g.k AS BIGINT) AS k,
             |  CAST(sum(CASE WHEN rk.r <= g.k THEN rk.n ELSE 0 END) * 1000000
             |    // (SELECT t FROM tot) AS BIGINT) AS coverage_micro,
             |  CAST((SELECT vocab FROM tot) AS BIGINT) AS vocab_size
             |FROM grid g CROSS JOIN rk GROUP BY g.k ORDER BY k""".stripMargin)),

    // bigram-LM generalization gap — train an add-1-smoothed bigram model
    // on the even doc-id blocks, report perplexity on train vs held-out
    // halves: the overfit screen for q_bigram_lm's model (test ppl above
    // train ppl by ~6 % on the fixture — a REAL generalization gap from
    // unseen bigrams, not noise). Per-bigram ln terms quantize to nano
    // before the sum (q_mutual_info convention); the model broadcasts,
    // the corpus streams through one tokenize + one lead.
    QueryDef(
      "q_lm_generalization",
      (s, d) => {
        // r15 optimization (guide §2.4): adjacent pairs map-side from
        // the split array (bound to a column — an inlined split
        // re-evaluates per lambda element) instead of the window-lead
        // over the token explode — `big` has two consumers (train
        // counts + held-out scoring) and each re-ran the corpus-wide
        // window shuffle+sort. No cache: tr's consumers share its
        // subtree, so ReuseExchange dedupes the train pass in-action.
        val big = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("l"))
          .where(size(col("l")) >= 2)
          .select(expr("(doc_id div 20) % 2").as("half"),
            explode(transform(sequence(lit(1), size(col("l")) - 1),
              i => struct(element_at(col("l"), i).as("w1"),
                element_at(col("l"), i + 1).as("nxt")))).as("b"))
          .select(col("half"), col("b.w1").as("w1"), col("b.nxt").as("nxt"))
        val tr = big.where(col("half") === 0)
          .groupBy("w1", "nxt").agg(count(lit(1)).as("c"))
        val uni = tr.groupBy("w1").agg(sum("c").as("cu"))
        val v = tr.agg(countDistinct("nxt").as("vocab"))
        val sc = big
          .join(broadcast(tr), Seq("w1", "nxt"), "left")
          .join(broadcast(uni), Seq("w1"), "left")
          .crossJoin(broadcast(v))
          .select(col("half"),
            expr("""CAST(round(1e9*ln((coalesce(c,0)+1.0)
                   | /(coalesce(cu,0) + vocab))) AS BIGINT)""".stripMargin)
              .as("lp_nano"))
        sc.groupBy("half").agg(count(lit(1)).as("n"), sum("lp_nano").as("s"))
          .groupBy()
          .agg(max(when(col("half") === 0, col("n"))).as("train_bigrams"),
            max(when(col("half") === 1, col("n"))).as("test_bigrams"),
            max(when(col("half") === 0, col("s"))).as("s0"),
            max(when(col("half") === 1, col("s"))).as("s1"))
          .select(col("train_bigrams"), col("test_bigrams"),
            expr("CAST(round(exp(-CAST(s0 AS DOUBLE)/train_bigrams/1e9)*1000) AS BIGINT)")
              .as("train_ppl_milli"),
            expr("CAST(round(exp(-CAST(s1 AS DOUBLE)/test_bigrams/1e9)*1000) AS BIGINT)")
              .as("test_ppl_milli"))
      },
      Some("""WITH toks AS (SELECT doc_id, (doc_id // 20) % 2 AS half,
             |      i AS pos, ws[i] AS w1, ws[i+1] AS nxt
             |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |    LATERAL unnest(range(1, len(ws))) AS t(i)),
             |big AS (SELECT half, w1, nxt FROM toks WHERE nxt IS NOT NULL),
             |tr AS (SELECT w1, nxt, count(*) AS c FROM big WHERE half = 0 GROUP BY 1, 2),
             |uni AS (SELECT w1, sum(c) AS cu FROM tr GROUP BY 1),
             |v AS (SELECT count(DISTINCT nxt) AS vocab FROM tr),
             |sc AS (SELECT b.half,
             |    CAST(round(1e9*ln((coalesce(tr.c,0)+1.0)
             |      /(coalesce(uni.cu,0) + (SELECT vocab FROM v)))) AS BIGINT) AS lp_nano
             |  FROM big b LEFT JOIN tr ON tr.w1 = b.w1 AND tr.nxt = b.nxt
             |  LEFT JOIN uni ON uni.w1 = b.w1),
             |agg AS (SELECT half, count(*) AS n, sum(lp_nano) AS s FROM sc GROUP BY 1)
             |SELECT
             |  CAST(max(CASE WHEN half=0 THEN n END) AS BIGINT) AS train_bigrams,
             |  CAST(max(CASE WHEN half=1 THEN n END) AS BIGINT) AS test_bigrams,
             |  CAST(round(exp(-CAST(max(CASE WHEN half=0 THEN s END) AS DOUBLE)
             |    /max(CASE WHEN half=0 THEN n END)/1e9)*1000) AS BIGINT) AS train_ppl_milli,
             |  CAST(round(exp(-CAST(max(CASE WHEN half=1 THEN s END) AS DOUBLE)
             |    /max(CASE WHEN half=1 THEN n END)/1e9)*1000) AS BIGINT) AS test_ppl_milli
             |FROM agg""".stripMargin)),

    // log-linear data-scaling fit — train the add-1 bigram LM on nested
    // md5-bucket fractions (1/16 … 16/16 of the train pool), score each
    // against the SAME held-out docs, and fit held-out cross-entropy
    // against ln(train size): the slope is the data-scaling exponent
    // that says what 10× more corpus buys BEFORE you spend the compute.
    // Nested fractions come from ONE bucketed count rolled up through
    // the ≤2× bucket→fraction explosion (never 5 corpus scans);
    // per-bigram ln terms quantize to nano before summing
    // (q_lm_generalization convention); the 5-point OLS is closed-form.
    QueryDef(
      "q_scaling_law",
      (s, d) => {
        // r15 optimization (guide §2.4): map-side adjacent pairs (the
        // q_lm_generalization rewrite, split bound to a column) — `big`
        // has two consumers, each formerly re-running the corpus-wide
        // window shuffle. No cache: tr's four consumers share its
        // subtree, so ReuseExchange dedupes the roll-up in-action.
        val big = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("l"))
          .where(size(col("l")) >= 2)
          .select(
            when(col("doc_id") % 10 === 9, 1L).otherwise(0L).as("tst"),
            (conv(substring(md5(concat(lit("sl:"), col("doc_id").cast("string"))),
              1, 12), 16, 10).cast("long") % 16).as("bkt"),
            explode(transform(sequence(lit(1), size(col("l")) - 1),
              i => struct(element_at(col("l"), i).as("w1"),
                element_at(col("l"), i + 1).as("nxt")))).as("b"))
          .select(col("tst"), col("bkt"), col("b.w1").as("w1"),
            col("b.nxt").as("nxt"))
        val fr = s.createDataFrame(Seq(1L, 2L, 4L, 8L, 16L).map(Tuple1(_)))
          .toDF("m")
        val bc = big.where(col("tst") === 0)
          .groupBy("bkt", "w1", "nxt").agg(count(lit(1)).as("c0"))
        val tr = bc.crossJoin(broadcast(fr)).where(col("bkt") < col("m"))
          .groupBy("m", "w1", "nxt").agg(sum("c0").as("c"))
        val uni = tr.groupBy("m", "w1").agg(sum("c").as("cu"))
        val v = tr.groupBy("m").agg(countDistinct("nxt").as("vocab"))
        val nb = tr.groupBy("m").agg(sum("c").as("ntr"))
        val sc = big.where(col("tst") === 1).crossJoin(broadcast(fr))
          .join(broadcast(tr), Seq("m", "w1", "nxt"), "left")
          .join(broadcast(uni), Seq("m", "w1"), "left")
          .join(broadcast(v), "m")
          .select(col("m"),
            expr("""CAST(round(1e9*ln((coalesce(c,0)+1.0)
                   | /(coalesce(cu,0) + vocab))) AS BIGINT)""".stripMargin)
              .as("lp_nano"))
        val ce = sc.groupBy("m")
          .agg(expr("-sum(lp_nano)/count(1)").as("y_nano"))
          .join(broadcast(nb), "m")
          .select(col("m"), col("ntr"),
            expr("CAST(round(1e9*ln(CAST(ntr AS DOUBLE))) AS BIGINT)").as("x_nano"),
            col("y_nano"))
        val fl = ce.where(col("m") === 16)
          .select(col("ntr").as("fntr"), col("y_nano").as("fy"))
        ce.agg(count(lit(1)).as("k"),
            sum(expr("x_nano/1e9")).as("sx"), sum(expr("y_nano/1e9")).as("sy"),
            sum(expr("(x_nano/1e9)*(x_nano/1e9)")).as("sxx"),
            sum(expr("(x_nano/1e9)*(y_nano/1e9)")).as("sxy"))
          .crossJoin(broadcast(fl))
          .select(col("k").as("n_points"),
            col("fntr").as("full_train_bigrams"),
            expr("CAST(round(fy/1e6) AS BIGINT)").as("ce_full_milli"),
            expr("""CAST(round(1000.0*(k*sxy - sx*sy)/(k*sxx - sx*sx))
                   | AS BIGINT)""".stripMargin).as("slope_milli"),
            expr("""CAST(round((fy/1e9
                   | + (k*sxy - sx*sy)/(k*sxx - sx*sx)*ln(10))*1000)
                   | AS BIGINT)""".stripMargin).as("ce_pred_10x_milli"))
      },
      Some("""WITH toks AS (SELECT doc_id,
             |      CASE WHEN doc_id % 10 = 9 THEN 1 ELSE 0 END AS tst,
             |      CAST(('0x' || substr(md5('sl:' || doc_id), 1, 12)) AS BIGINT) % 16 AS bkt,
             |      i AS pos, ws[i] AS w1, ws[i+1] AS nxt
             |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |    LATERAL unnest(range(1, len(ws))) AS t(i)),
             |big AS (SELECT tst, bkt, w1, nxt FROM toks WHERE nxt IS NOT NULL),
             |fr AS (SELECT unnest([1,2,4,8,16]) AS m),
             |tr AS (SELECT fr.m, w1, nxt, count(*) AS c
             |       FROM big JOIN fr ON big.bkt < fr.m WHERE tst = 0 GROUP BY 1, 2, 3),
             |uni AS (SELECT m, w1, sum(c) AS cu FROM tr GROUP BY 1, 2),
             |v AS (SELECT m, count(DISTINCT nxt) AS vocab FROM tr GROUP BY 1),
             |nb AS (SELECT m, sum(c) AS ntr FROM tr GROUP BY 1),
             |sc AS (SELECT fr.m,
             |    CAST(round(1e9*ln((coalesce(tr.c, 0)+1.0)
             |      /(coalesce(uni.cu, 0) + v.vocab))) AS BIGINT) AS lp_nano
             |  FROM big b CROSS JOIN fr
             |  LEFT JOIN tr ON tr.m = fr.m AND tr.w1 = b.w1 AND tr.nxt = b.nxt
             |  LEFT JOIN uni ON uni.m = fr.m AND uni.w1 = b.w1
             |  JOIN v ON v.m = fr.m
             |  WHERE b.tst = 1),
             |ce AS (SELECT sc.m, nb.ntr,
             |    CAST(round(1e9*ln(CAST(nb.ntr AS DOUBLE))) AS BIGINT) AS x_nano,
             |    -sum(lp_nano)/count(*) AS y_nano
             |  FROM sc JOIN nb ON nb.m = sc.m GROUP BY 1, 2, 3),
             |ols AS (SELECT count(*) AS k, sum(x_nano/1e9) AS sx, sum(y_nano/1e9) AS sy,
             |    sum((x_nano/1e9)*(x_nano/1e9)) AS sxx,
             |    sum((x_nano/1e9)*(y_nano/1e9)) AS sxy
             |  FROM ce),
             |fit AS (SELECT k, (k*sxy - sx*sy)/(k*sxx - sx*sx) AS slope FROM ols),
             |fl AS (SELECT ntr, y_nano FROM ce WHERE m = 16)
             |SELECT CAST(k AS BIGINT) AS n_points,
             |  CAST((SELECT ntr FROM fl) AS BIGINT) AS full_train_bigrams,
             |  CAST(round((SELECT y_nano FROM fl)/1e6) AS BIGINT) AS ce_full_milli,
             |  CAST(round(1000.0*slope) AS BIGINT) AS slope_milli,
             |  CAST(round(((SELECT y_nano FROM fl)/1e9 + slope*ln(10))*1000) AS BIGINT)
             |    AS ce_pred_10x_milli
             |FROM fit""".stripMargin)),

    // uncertainty sampling — the active-learning labeling queue: score
    // every held-out doc with q_nb_classify's exact-integer NB model and
    // surface the 10 docs where the top two classes are CLOSEST (smallest
    // score margin). These are the docs a labeling budget buys the most
    // from; margins are exact nano differences of exact sums, so the
    // queue order is engine-identical. Same collapsed per-(doc, word)
    // scoring as q_nb_classify — the class fan-out rides distinct words.
    QueryDef(
      "q_uncertainty_sample",
      (s, d) => {
        val rk = nbScores(s, d).withColumn("r",
          row_number().over(Window.partitionBy("doc_id")
            .orderBy(col("s_nano").desc, col("cls"))))
        rk.where(col("r") === 1)
          .select(col("doc_id"), col("true_source"),
            col("cls").as("pred_source"), col("s_nano").as("s1"))
          .join(rk.where(col("r") === 2)
            .select(col("doc_id"), col("s_nano").as("s2")), "doc_id")
          .select(col("doc_id"), col("true_source"), col("pred_source"),
            (col("s1") - col("s2")).as("margin_nano"))
          .orderBy("margin_nano", "doc_id")
          .limit(10)
      },
      Some("""WITH train AS (SELECT doc_id, source, unnest(string_split(text,' ')) AS w
             |      FROM documents WHERE (doc_id // 20) % 2 = 0),
             |test AS (SELECT doc_id, source AS true_source,
             |      unnest(string_split(text,' ')) AS w
             |      FROM documents WHERE (doc_id // 20) % 2 = 1),
             |cw AS (SELECT source, w, count(*) AS a FROM train GROUP BY 1,2),
             |cs AS (SELECT source, sum(a) AS ns FROM cw GROUP BY 1),
             |v AS (SELECT count(DISTINCT w) AS vocab FROM train),
             |pri AS (SELECT source, count(DISTINCT doc_id) AS nd FROM train GROUP BY 1),
             |tot AS (SELECT sum(nd) AS td FROM pri),
             |priors AS (SELECT source AS cls,
             |    CAST(round(1e9*ln(CAST(nd AS DOUBLE)/(SELECT td FROM tot))) AS BIGINT)
             |      AS prior_nano FROM pri),
             |tw AS (SELECT doc_id, true_source, w, count(*) AS cnt
             |       FROM test GROUP BY 1, 2, 3),
             |terms AS (SELECT t.doc_id, t.true_source, cs.source AS cls,
             |    t.cnt * CAST(round(1e9*ln((coalesce(cw.a,0)+1.0)
             |      /(cs.ns + (SELECT vocab FROM v)))) AS BIGINT) AS lp_nano
             |  FROM tw t CROSS JOIN cs
             |  LEFT JOIN cw ON cw.source = cs.source AND cw.w = t.w),
             |score AS (SELECT doc_id, true_source, cls,
             |    sum(lp_nano) + (SELECT prior_nano FROM priors
             |                    WHERE priors.cls = terms.cls) AS s_nano
             |  FROM terms GROUP BY 1, 2, 3),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             |         ORDER BY s_nano DESC, cls) AS r
             |       FROM score),
             |marg AS (SELECT a.doc_id, a.true_source, a.cls AS pred_source,
             |    a.s_nano - b.s_nano AS margin_nano
             |  FROM rk a JOIN rk b ON b.doc_id = a.doc_id AND a.r = 1 AND b.r = 2)
             |SELECT doc_id, true_source, pred_source,
             |  CAST(margin_nano AS BIGINT) AS margin_nano
             |FROM marg ORDER BY margin_nano, doc_id LIMIT 10""".stripMargin)),

    // one DoReMi-style exponentiated-gradient step on the domain
    // weights (Xie et al. 2023): domains whose text is HARDER under the
    // corpus unigram LM (higher mean surprisal) get upweighted —
    // w₁ ∝ w₀·exp(η·loss), η = 0.1, w₀ = the domain's token share.
    // Per-(domain, word) surprisal mass c·ln(N/c_w) nano-quantizes
    // BEFORE the domain sum (the q_domain_kl convention — no unordered
    // double addition over the data-sized vocab axis); the exp update
    // and the normalizer run on the ≤|sources|-row domain frame with
    // integer micro weights. This is the reweighting step a
    // multi-domain training mix is tuned with; chaining it is the full
    // DoReMi loop.
    QueryDef(
      "q_doremi_step",
      (s, d) => {
        val w = Tables.documents(s, d).select(col("source"),
          explode(split(col("text"), " ")).as("w"))
        val cw = w.groupBy("w").agg(count(lit(1)).as("c"))
        val n = w.agg(count(lit(1)).as("nt"))
        val dw = w.groupBy("source", "w").agg(count(lit(1)).as("cd"))
        val terms = dw.join(cw, "w").crossJoin(broadcast(n))
          .select(col("source"), col("cd"),
            expr("CAST(round(1000000000.0 * cd * ln(CAST(nt AS DOUBLE) / c)) AS BIGINT)")
              .as("t_nano"))
        val dom = terms.groupBy("source")
          .agg(sum("cd").as("toks"),
            sum(expr("CAST(t_nano AS DECIMAL(38,0))")).as("loss_nano"))
        val tot = dom.agg(sum("toks").as("nt"))
        val base = dom.crossJoin(broadcast(tot))
          .select(col("source"), col("toks"),
            expr("CAST(loss_nano div toks div 1000 AS BIGINT)").as("loss_micro"),
            expr("CAST((1000000 * toks) div nt AS BIGINT)").as("w0_micro"))
        val upd = base.withColumn("raw",
          expr("CAST(round(w0_micro * exp(0.1 * (loss_micro / 1000000.0))) AS BIGINT)"))
        val z = upd.agg(sum("raw").as("z"))
        upd.crossJoin(broadcast(z))
          .select(col("source"), col("toks").cast("long").as("tokens"),
            col("loss_micro"), col("w0_micro"),
            expr("CAST((1000000 * CAST(raw AS DECIMAL(38,0))) div z AS BIGINT)")
              .as("w1_micro"))
          .orderBy("source")
      },
      Some("""WITH w AS (SELECT source, u.w FROM documents,
             |    LATERAL (SELECT unnest(string_split(text, ' ')) AS w) u),
             |cw AS (SELECT w, count(*) AS c FROM w GROUP BY 1),
             |n AS (SELECT count(*) AS nt FROM w),
             |dw AS (SELECT source, w, count(*) AS cd FROM w GROUP BY 1, 2),
             |terms AS (SELECT d.source, d.cd,
             |    CAST(round(1000000000.0 * d.cd * ln(CAST(n.nt AS DOUBLE) / cw.c)) AS BIGINT) AS t_nano
             |  FROM dw d JOIN cw USING (w) CROSS JOIN n),
             |dom AS (SELECT source, sum(cd) AS toks, sum(CAST(t_nano AS HUGEINT)) AS loss_nano
             |  FROM terms GROUP BY 1),
             |tot AS (SELECT sum(toks) AS nt FROM dom),
             |base AS (SELECT source, toks,
             |    CAST(loss_nano // toks // 1000 AS BIGINT) AS loss_micro,
             |    CAST((1000000 * toks) // (SELECT nt FROM tot) AS BIGINT) AS w0_micro
             |  FROM dom),
             |upd AS (SELECT source, toks, loss_micro, w0_micro,
             |    CAST(round(w0_micro * exp(0.1 * (loss_micro / 1000000.0))) AS BIGINT) AS raw
             |  FROM base),
             |z AS (SELECT sum(raw) AS z FROM upd)
             |SELECT source, CAST(toks AS BIGINT) AS tokens, loss_micro, w0_micro,
             |  CAST((1000000 * CAST(raw AS HUGEINT)) // z AS BIGINT) AS w1_micro
             |FROM upd CROSS JOIN z ORDER BY source""".stripMargin)),

    // train/test n-gram contamination audit (the GPT-3-style
    // decontamination check): split the corpus by doc-id parity, then
    // for every TEST document count how many of its distinct 5-gram
    // shingles also appear anywhere in the TRAIN half — a doc with any
    // hit is "contaminated" and would inflate eval scores if the splits
    // fed train and benchmark. Distinct from q_split_leakage (near-dup
    // FAMILIES straddling a split) and q_ngram_novelty (first-occurrence
    // novelty): this is the verbatim-overlap audit run before any
    // held-out evaluation. Shuffles are shingle-keyed (train set
    // distinct + one semi-joinable left join), never pairwise; output
    // is per-source rates in exact integer micro.
    QueryDef(
      "q_ngram_contamination",
      (s, d) => {
        val sh = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            explode(DedupOps.shingles(col("text"), 5)).as("g"))
        val train = sh.where(col("doc_id") % 2 === 0)
          .select("g").distinct()
        val test = sh.where(col("doc_id") % 2 === 1)
        val hits = test
          .join(train.select(col("g"), lit(1L).as("hit")), Seq("g"), "left")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n_grams"),
            count(col("hit")).as("n_hits"))
        hits.groupBy("source")
          .agg(count(lit(1)).as("n_test_docs"),
            sum(when(col("n_hits") > 0, 1L).otherwise(0L)).as("n_contaminated"),
            sum("n_hits").as("hits"), sum("n_grams").as("grams"))
          .select(col("source"),
            col("n_test_docs").cast("long").as("n_test_docs"),
            col("n_contaminated").cast("long").as("n_contaminated"),
            expr("CAST((1000000 * hits) div grams AS BIGINT)")
              .as("gram_hit_micro"))
          .orderBy("source")
      },
      Some("""WITH sh AS (SELECT DISTINCT doc_id, source, unnest(grams) AS g FROM (
             |    SELECT doc_id, source,
             |      [array_to_string(toks[i:i+4], ' ')
             |       for i in range(1, greatest(len(toks)-4, 1)+1)] AS grams
             |    FROM (SELECT doc_id, source, string_split(text, ' ') AS toks
             |          FROM documents))),
             |train AS (SELECT DISTINCT g FROM sh WHERE doc_id % 2 = 0),
             |hits AS (SELECT s.doc_id, s.source, count(*) AS n_grams,
             |    count(train.g) AS n_hits
             |  FROM sh s LEFT JOIN train ON train.g = s.g
             |  WHERE s.doc_id % 2 = 1 GROUP BY 1, 2)
             |SELECT source, count(*) AS n_test_docs,
             |  CAST(sum(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_contaminated,
             |  CAST((1000000 * sum(n_hits)) // sum(n_grams) AS BIGINT)
             |    AS gram_hit_micro
             |FROM hits GROUP BY 1 ORDER BY 1""".stripMargin)),

    // PII pattern scan per source — the redaction-gate audit every
    // public-corpus release runs before shipping: per source, how many
    // documents match an email-shaped, phone-shaped, or long-digit-run
    // pattern, plus total hits. Patterns stay inside the RE2 ∩ Java
    // regex dialect intersection (no lookarounds, no backrefs) so both
    // engines score identical matches; the scan is one regexp pass per
    // pattern inside a single projection — map-only, no shuffle beyond
    // the per-source count. The synthetic fixture carries no planted
    // PII, so zeros here are the honest PASS this gate exists to print
    // (and the digit-run column shows the machinery firing on real
    // numeric tokens).
    QueryDef(
      "q_pii_scan",
      (s, d) => {
        Tables.documents(s, d)
          .select(col("source"),
            size(expr("regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+', 0)"))
              .as("email"),
            size(expr(
              "regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}', 0)"))
              .as("phone"),
            size(expr("regexp_extract_all(text, '[0-9]{6,}', 0)")).as("digits"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("email") > 0, 1L).otherwise(0L)).as("email_docs"),
            sum(when(col("phone") > 0, 1L).otherwise(0L)).as("phone_docs"),
            sum(when(col("digits") > 0, 1L).otherwise(0L)).as("digitrun_docs"),
            sum(col("digits").cast("long")).as("digitrun_hits"))
          .select(col("source"), col("n_docs").cast("long").as("n_docs"),
            col("email_docs").cast("long").as("email_docs"),
            col("phone_docs").cast("long").as("phone_docs"),
            col("digitrun_docs").cast("long").as("digitrun_docs"),
            col("digitrun_hits").cast("long").as("digitrun_hits"))
          .orderBy("source")
      },
      Some("""WITH sc AS (SELECT source,
             |    len(regexp_extract_all(text, '[a-z0-9.]+@[a-z0-9.]+')) AS email,
             |    len(regexp_extract_all(text, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS phone,
             |    len(regexp_extract_all(text, '[0-9]{6,}')) AS digits
             |  FROM documents)
             |SELECT source, count(*) AS n_docs,
             |  CAST(sum(CASE WHEN email > 0 THEN 1 ELSE 0 END) AS BIGINT) AS email_docs,
             |  CAST(sum(CASE WHEN phone > 0 THEN 1 ELSE 0 END) AS BIGINT) AS phone_docs,
             |  CAST(sum(CASE WHEN digits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS digitrun_docs,
             |  CAST(sum(digits) AS BIGINT) AS digitrun_hits
             |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // per-domain held-out perplexity under the GLOBAL bigram LM — the
    // out-of-distribution detector a mixing curator reads next to
    // q_domain_kl: train add-1 bigrams on the even half (all sources
    // pooled), score each source's odd-half bigrams separately, and
    // rank sources by PPL — a domain far above the pooled PPL is the
    // one the global model does not speak. Same nano-quantized ln
    // machinery as q_lm_generalization (whose single global test row
    // this breaks out per source); model/unigram/vocab frames
    // broadcast, the corpus streams through once per half.
    QueryDef(
      "q_domain_ppl",
      (s, d) => {
        // r15 optimization (guide §2.4): the q_lm_generalization rewrite
        // — map-side adjacent pairs, split bound to a column, no cache
        // (ReuseExchange dedupes tr's shared subtree in-action).
        val big = Tables.documents(s, d)
          .select(col("doc_id"), col("source"), split(col("text"), " ").as("l"))
          .where(size(col("l")) >= 2)
          .select(col("source"), expr("(doc_id div 20) % 2").as("half"),
            explode(transform(sequence(lit(1), size(col("l")) - 1),
              i => struct(element_at(col("l"), i).as("w1"),
                element_at(col("l"), i + 1).as("nxt")))).as("b"))
          .select(col("half"), col("source"), col("b.w1").as("w1"),
            col("b.nxt").as("nxt"))
        val tr = big.where(col("half") === 0)
          .groupBy("w1", "nxt").agg(count(lit(1)).as("c"))
        val uni = tr.groupBy("w1").agg(sum("c").as("cu"))
        val v = tr.agg(countDistinct("nxt").as("vocab"))
        big.where(col("half") === 1)
          .join(broadcast(tr), Seq("w1", "nxt"), "left")
          .join(broadcast(uni), Seq("w1"), "left")
          .crossJoin(broadcast(v))
          .select(col("source"),
            expr("""CAST(round(1e9*ln((coalesce(c,0)+1.0)
                   | /(coalesce(cu,0) + vocab))) AS BIGINT)""".stripMargin)
              .as("lp_nano"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"), sum("lp_nano").as("sl"))
          .select(col("source"), col("n").cast("long").as("test_bigrams"),
            expr("CAST(round(exp(-CAST(sl AS DOUBLE)/n/1e9)*1000) AS BIGINT)")
              .as("ppl_milli"))
          .orderBy("source")
      },
      Some("""WITH toks AS (SELECT doc_id, source, (doc_id // 20) % 2 AS half,
             |      i AS pos, ws[i] AS w1, ws[i+1] AS nxt
             |    FROM (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
             |    LATERAL unnest(range(1, len(ws))) AS t(i)),
             |big AS (SELECT half, source, w1, nxt FROM toks WHERE nxt IS NOT NULL),
             |tr AS (SELECT w1, nxt, count(*) AS c FROM big WHERE half = 0 GROUP BY 1, 2),
             |uni AS (SELECT w1, sum(c) AS cu FROM tr GROUP BY 1),
             |v AS (SELECT count(DISTINCT nxt) AS vocab FROM tr),
             |sc AS (SELECT b.source,
             |    CAST(round(1e9*ln((coalesce(tr.c,0)+1.0)
             |      /(coalesce(uni.cu,0) + (SELECT vocab FROM v)))) AS BIGINT) AS lp_nano
             |  FROM big b LEFT JOIN tr ON tr.w1 = b.w1 AND tr.nxt = b.nxt
             |  LEFT JOIN uni ON uni.w1 = b.w1
             |  WHERE b.half = 1)
             |SELECT source, count(*) AS test_bigrams,
             |  CAST(round(exp(-CAST(sum(lp_nano) AS DOUBLE)/count(*)/1e9)*1000) AS BIGINT)
             |    AS ppl_milli
             |FROM sc GROUP BY 1 ORDER BY 1""".stripMargin)),

    // one EM step for Jelinek–Mercer interpolation weights — the
    // classic way the mixture λs of an interpolated LM (bigram ⊕
    // unigram ⊕ uniform) are fit on held-out data, and the smoothing
    // family's third member beside add-k (q_bigram_lm) and Kneser–Ney
    // (q_kneser_ney): from the uniform initialization λ = ⅓ each, the
    // E-step posterior of each component on every held-out bigram is
    // γ_c = p_c / Σp, and the M-step is λ'_c = mean γ_c. Component
    // probabilities come from even-half counts (broadcast model
    // frames); per-token posteriors nano-quantize BEFORE the mean
    // (house rule). The λs say WHICH backoff level the corpus actually
    // needs — the number a production LM smoother is tuned by.
    QueryDef(
      "q_jelinek_mercer",
      (s, d) => {
        // r15 optimization (guide §2.4): the q_lm_generalization rewrite
        // — map-side adjacent pairs, split bound to a column, no cache
        // (ReuseExchange dedupes tr's shared subtree in-action).
        val big = Tables.documents(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("l"))
          .where(size(col("l")) >= 2)
          .select(expr("(doc_id div 20) % 2").as("half"),
            explode(transform(sequence(lit(1), size(col("l")) - 1),
              i => struct(element_at(col("l"), i).as("w1"),
                element_at(col("l"), i + 1).as("nxt")))).as("b"))
          .select(col("half"), col("b.w1").as("w1"), col("b.nxt").as("nxt"))
        val tr = big.where(col("half") === 0)
          .groupBy("w1", "nxt").agg(count(lit(1)).as("c12"))
        val uni1 = tr.groupBy("w1").agg(sum("c12").as("c1"))
        val uni2 = tr.groupBy("nxt").agg(sum("c12").as("c2"))
        val tot = tr.agg(sum("c12").as("nt"), countDistinct("nxt").as("v"))
        val post = big.where(col("half") === 1)
          .join(broadcast(tr), Seq("w1", "nxt"), "left")
          .join(broadcast(uni1), Seq("w1"), "left")
          .join(broadcast(uni2), Seq("nxt"), "left")
          .crossJoin(broadcast(tot))
          .select(
            expr("""CASE WHEN c1 IS NULL OR c12 IS NULL THEN 0.0
                   |ELSE CAST(c12 AS DOUBLE) / c1 END""".stripMargin).as("pb"),
            expr("coalesce(CAST(c2 AS DOUBLE), 0.0) / nt").as("pu"),
            expr("1.0 / v").as("pf"))
          .select(
            expr("CAST(round(1e9 * pb / (pb + pu + pf)) AS BIGINT)").as("gb"),
            expr("CAST(round(1e9 * pu / (pb + pu + pf)) AS BIGINT)").as("gu"),
            expr("CAST(round(1e9 * pf / (pb + pu + pf)) AS BIGINT)").as("gf"))
        post.agg(count(lit(1)).as("n"), sum("gb").as("sb"),
            sum("gu").as("su"), sum("gf").as("sf"))
          .select(col("n").cast("long").as("heldout_bigrams"),
            expr("CAST(sb div n div 1000 AS BIGINT)").as("lambda_bigram_micro"),
            expr("CAST(su div n div 1000 AS BIGINT)").as("lambda_unigram_micro"),
            expr("CAST(sf div n div 1000 AS BIGINT)").as("lambda_uniform_micro"))
      },
      Some("""WITH toks AS (SELECT doc_id, (doc_id // 20) % 2 AS half,
             |      ws[i] AS w1, ws[i+1] AS nxt
             |    FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |    LATERAL unnest(range(1, len(ws))) AS t(i)),
             |big AS (SELECT half, w1, nxt FROM toks WHERE nxt IS NOT NULL),
             |tr AS (SELECT w1, nxt, count(*) AS c12 FROM big WHERE half = 0 GROUP BY 1, 2),
             |u1 AS (SELECT w1, sum(c12) AS c1 FROM tr GROUP BY 1),
             |u2 AS (SELECT nxt, sum(c12) AS c2 FROM tr GROUP BY 1),
             |tot AS (SELECT sum(c12) AS nt, count(DISTINCT nxt) AS v FROM tr),
             |p AS (SELECT
             |    CASE WHEN u1.c1 IS NULL OR tr.c12 IS NULL THEN 0.0
             |      ELSE CAST(tr.c12 AS DOUBLE) / u1.c1 END AS pb,
             |    coalesce(CAST(u2.c2 AS DOUBLE), 0.0) / (SELECT nt FROM tot) AS pu,
             |    1.0 / (SELECT v FROM tot) AS pf
             |  FROM big b LEFT JOIN tr ON tr.w1 = b.w1 AND tr.nxt = b.nxt
             |  LEFT JOIN u1 ON u1.w1 = b.w1
             |  LEFT JOIN u2 ON u2.nxt = b.nxt
             |  WHERE b.half = 1),
             |g AS (SELECT
             |    CAST(round(1e9 * pb / (pb + pu + pf)) AS BIGINT) AS gb,
             |    CAST(round(1e9 * pu / (pb + pu + pf)) AS BIGINT) AS gu,
             |    CAST(round(1e9 * pf / (pb + pu + pf)) AS BIGINT) AS gf
             |  FROM p)
             |SELECT count(*) AS heldout_bigrams,
             |  CAST(sum(gb) // count(*) // 1000 AS BIGINT) AS lambda_bigram_micro,
             |  CAST(sum(gu) // count(*) // 1000 AS BIGINT) AS lambda_unigram_micro,
             |  CAST(sum(gf) // count(*) // 1000 AS BIGINT) AS lambda_uniform_micro
             |FROM g""".stripMargin)),

    // leave-one-source-out influence on the corpus quality score — the
    // group-level data-valuation readout (the cheap, exact end of the
    // Shapley/influence-function spectrum): for each source, how much
    // does the corpus mean quality (token count per doc, the
    // q_quality_filter length axis) move if that source is DROPPED?
    // influence = mean(without j) − mean(all), positive ⇒ the source
    // was dragging quality down. Closed form from ONE grouped pass:
    // mean(without j) = (S − s_j)/(N − n_j) — no per-source rescan, so
    // the whole valuation is |sources| rows of exact integer micro
    // arithmetic off global totals on a broadcast.
    QueryDef(
      "q_loo_source_influence",
      (s, d) => {
        val g = Tables.documents(s, d)
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("q"))
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            sum(expr("CAST(q AS DECIMAL(38,0))")).as("sq"))
        val tot = g.agg(sum("n").as("nn"), sum("sq").as("ss"))
        g.crossJoin(broadcast(tot))
          .select(col("source"), col("n").cast("long").as("n_docs"),
            expr("CAST((1000000 * sq) div n AS BIGINT)").as("source_mean_micro"),
            expr("""CAST((1000000 * (ss - sq)) div (nn - n)
                   |  - (1000000 * ss) div nn AS BIGINT)""".stripMargin)
              .as("loo_influence_micro"))
          .orderBy(col("loo_influence_micro").desc, col("source"))
      },
      Some("""WITH g AS (SELECT source, count(*) AS n,
             |    sum(CAST(len(string_split(text, ' ')) AS HUGEINT)) AS sq
             |  FROM documents GROUP BY 1),
             |t AS (SELECT sum(n) AS nn, sum(sq) AS ss FROM g)
             |SELECT source, CAST(n AS BIGINT) AS n_docs,
             |  CAST((1000000 * sq) // n AS BIGINT) AS source_mean_micro,
             |  CAST((1000000 * (ss - sq)) // (nn - n)
             |    - (1000000 * ss) // nn AS BIGINT) AS loo_influence_micro
             |FROM g CROSS JOIN t
             |ORDER BY loo_influence_micro DESC, source""".stripMargin)),

    // greedy maximum-coverage selection (facility-location light) — the
    // submodular data-pruning kernel: pick 5 documents from the audit
    // slice (doc_id < 100) that greedily maximize 3-gram shingle
    // coverage, each round selecting the doc covering the most
    // NOT-YET-covered shingles (ties → min doc_id). The greedy is
    // provably (1−1/e)-optimal for coverage, which is why real
    // selection pipelines run exactly this loop; here each of the 5
    // bounded rounds is one anti-join against the covered set + one
    // grouped count + a 1-row TakeOrdered, with the covered set
    // re-derived as a semi-join against the picked ids (never collected
    // beyond the 1-row pick). The oracle unrolls the 5 rounds as CTEs.
    QueryDef(
      "q_greedy_coverage",
      (s, d) => {
        val sh = Tables.documents(s, d).where(col("doc_id") < 100)
          .select(col("doc_id"),
            explode(DedupOps.shingles(col("text"), 3)).as("g"))
          .transform(Loop.cutLineage(_))
        var picked = s.range(0).select(col("id").as("doc_id"),
          lit(0L).as("round"), lit(0L).as("gain"))
        for (r <- 1 to 5) {
          val covered = sh.join(broadcast(picked.select("doc_id")),
            Seq("doc_id"), "left_semi").select("g").distinct()
          val pick = sh.join(covered, Seq("g"), "left_anti")
            .groupBy("doc_id").agg(count(lit(1)).as("gain"))
            .orderBy(col("gain").desc, col("doc_id")).limit(1)
            .select(col("doc_id"), lit(r.toLong).as("round"),
              col("gain").cast("long").as("gain"))
            .transform(Loop.cutLineage(_))
          picked = picked.unionByName(pick)
        }
        picked.select(col("round"), col("doc_id").cast("long").as("doc_id"),
          col("gain")).orderBy("round")
      },
      Some("""WITH sh AS (SELECT DISTINCT doc_id, unnest(grams) AS g FROM (
             |    SELECT doc_id,
             |      [array_to_string(toks[i:i+2], ' ')
             |       for i in range(1, greatest(len(toks)-2, 1)+1)] AS grams
             |    FROM (SELECT doc_id, string_split(text, ' ') AS toks
             |          FROM documents WHERE doc_id < 100))),
             |p1 AS (SELECT doc_id, count(*) AS gain FROM sh
             |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
             |c1 AS (SELECT DISTINCT g FROM sh WHERE doc_id IN (SELECT doc_id FROM p1)),
             |p2 AS (SELECT doc_id, count(*) AS gain FROM sh
             |  WHERE g NOT IN (SELECT g FROM c1)
             |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
             |c2 AS (SELECT g FROM c1 UNION SELECT DISTINCT g FROM sh
             |  WHERE doc_id IN (SELECT doc_id FROM p2)),
             |p3 AS (SELECT doc_id, count(*) AS gain FROM sh
             |  WHERE g NOT IN (SELECT g FROM c2)
             |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
             |c3 AS (SELECT g FROM c2 UNION SELECT DISTINCT g FROM sh
             |  WHERE doc_id IN (SELECT doc_id FROM p3)),
             |p4 AS (SELECT doc_id, count(*) AS gain FROM sh
             |  WHERE g NOT IN (SELECT g FROM c3)
             |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1),
             |c4 AS (SELECT g FROM c3 UNION SELECT DISTINCT g FROM sh
             |  WHERE doc_id IN (SELECT doc_id FROM p4)),
             |p5 AS (SELECT doc_id, count(*) AS gain FROM sh
             |  WHERE g NOT IN (SELECT g FROM c4)
             |  GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1)
             |SELECT * FROM (
             |  SELECT CAST(1 AS BIGINT) AS round, CAST(doc_id AS BIGINT) AS doc_id,
             |    CAST(gain AS BIGINT) AS gain FROM p1
             |  UNION ALL SELECT 2, doc_id, gain FROM p2
             |  UNION ALL SELECT 3, doc_id, gain FROM p3
             |  UNION ALL SELECT 4, doc_id, gain FROM p4
             |  UNION ALL SELECT 5, doc_id, gain FROM p5)
             |ORDER BY round""".stripMargin))
  )

  /** Shared exact-integer multinomial NB train + score chain —
    * q_nb_classify (confusion matrix) and q_uncertainty_sample
    * (smallest-margin labeling queue) both read the per-(doc, class)
    * score frame (doc_id, true_source, cls, s_nano); only the readout
    * differs. Laplace-smoothed per-class token log-probs fit on the
    * even doc-id-blocks half, applied to the held-out half. The model
    * (|vocab| × |classes| log-probs) is the ONLY thing broadcast — the
    * corpus streams through one tokenize + one grouped count each side,
    * so shuffle ∝ corpus tokens and the score aggregation is
    * map-combined per (doc, class). ln terms quantize to nano BEFORE
    * the per-doc sum (q_mutual_info convention). Token INSTANCES
    * collapse to per-(doc, word) counts BEFORE the |classes| fan-out —
    * the score is Σ_w cnt·lp(w, cls), identical by distributivity, and
    * the class explosion rides the much smaller distinct-word frame.
    *
    * The scored frame is published once per (JVM, dataset) via
    * [[Artifacts.dirFor]] — at 100 TB a batch-scored table is exactly
    * that, a table the confusion-matrix report and the labeling queue
    * both read, not a train+score job each report re-runs.
    * `ArtifactSpec` pins stored ≡ fresh. */
  private[graft] def nbScores(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val dir = Artifacts.dirFor(s"nbscores:$d", { out =>
      nbScoresRaw(s, d).write.parquet(s"$out/scores")
    })
    s.read.parquet(s"$dir/scores")
  }

  /** The uncached build path of [[nbScores]], kept callable for
    * `ArtifactSpec`'s stored-≡-fresh proof. */
  private[graft] def nbScoresRaw(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d)
    val train = docs.where(expr("(doc_id div 20) % 2 = 0"))
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("w"))
    val test = docs.where(expr("(doc_id div 20) % 2 = 1"))
      .select(col("doc_id"), col("source").as("true_source"),
        explode(split(col("text"), " ")).as("w"))
    val cw = train.groupBy("source", "w").agg(count(lit(1)).as("a"))
    val cs = cw.groupBy("source").agg(sum("a").as("ns"))
    val vocab = train.agg(countDistinct("w").as("vocab"))
    val pri = train.groupBy("source").agg(countDistinct("doc_id").as("nd"))
    val tot = pri.agg(sum("nd").as("td"))
    val priors = pri.crossJoin(broadcast(tot))
      .select(col("source").as("cls"),
        expr("CAST(round(1e9*ln(CAST(nd AS DOUBLE)/td)) AS BIGINT)")
          .as("prior_nano"))
    val model = cw.select(col("source").as("cls"), col("w"), col("a"))
    val tw = test.groupBy("doc_id", "true_source", "w")
      .agg(count(lit(1)).as("cnt"))
    val terms = tw
      .crossJoin(broadcast(cs.select(col("source").as("cls"), col("ns"))))
      .crossJoin(broadcast(vocab))
      .join(broadcast(model), Seq("cls", "w"), "left")
      .select(col("doc_id"), col("true_source"), col("cls"),
        expr("cnt * CAST(round(1e9*ln((coalesce(a,0)+1.0)/(ns + vocab))) AS BIGINT)")
          .as("lp_nano"))
    terms.groupBy("doc_id", "true_source", "cls")
      .agg(sum("lp_nano").as("s_tok"))
      .join(broadcast(priors), "cls")
      .select(col("doc_id"), col("true_source"), col("cls"),
        (col("s_tok") + col("prior_nano")).as("s_nano"))
  }
}
