package graft
package gates

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Document gates, text signals (part of d01-d85): clean/judge
  * thresholds, token and character statistics, TF-IDF / BM25 /
  * entropy, sentence and readability stats, normalization and chunking. */
object DocTextGates {
  /** Shared d65/d66 sentence synth (the corpus has no punctuation):
    * 2/3/4 sentences per doc on doc_id strata, built from slices of
    * the doc's own text. Spark Column and SQL CTE in lockstep. */
  private def sentenceSynth: Column = {
    def sl(i: Int) = substring(col("text"), 1 + (i - 1) * 12, 12)
    when(col("doc_id") % 3 === 0, concat(sl(1), lit(". "), sl(2), lit(".")))
      .when(col("doc_id") % 3 === 1,
        concat(sl(1), lit(". "), sl(2), lit("! "), sl(3), lit(".")))
      .otherwise(concat(sl(1), lit(". "), sl(2), lit("! "), sl(3),
        lit("? "), sl(4), lit(".")))
  }

  /** SQL mirror of [[sentenceSynth]]: defines `sy(doc_id, t)`. */
  private val sentenceSynthSql: String =
    """sy AS (SELECT doc_id, CASE CAST(doc_id % 3 AS INTEGER)
         WHEN 0 THEN substr(text,1,12) || '. ' || substr(text,13,12) || '.'
         WHEN 1 THEN substr(text,1,12) || '. ' || substr(text,13,12) || '! '
           || substr(text,25,12) || '.'
         ELSE substr(text,1,12) || '. ' || substr(text,13,12) || '! '
           || substr(text,25,12) || '? ' || substr(text,37,12) || '.'
       END AS t FROM documents)"""

  val all: Seq[Gate] = Seq(
    Gate("d01_token_stats", (s, d) =>
      docs(s, d).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).as("n_tokens"),
          TextFunctions.tokenCountBpeIsh(col("text")).as("n_bpeish"),
          round(TextFunctions.meanTokenLen(col("text")), 6).as("mean_tok_len"))
        .orderBy("doc_id"),
      """SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS INTEGER) AS n_bpeish,
         round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
           / len(string_split_regex(trim(text), '\s+')), 6) AS mean_tok_len
         FROM documents ORDER BY doc_id"""),

    Gate("d02_char_ratios", (s, d) =>
      docs(s, d).select(col("doc_id"),
          round(TextFunctions.nonWsRatio(col("text")), 6).as("non_ws"),
          round(TextFunctions.alphaCjkRatio(col("text")), 6).as("alpha_cjk"),
          round(TextFunctions.punctRatio(col("text")), 6).as("punct"),
          round(TextFunctions.digitRatio(col("text")), 6).as("digit"))
        .orderBy("doc_id"),
      """SELECT doc_id,
         round(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text), 6) AS non_ws,
         round(CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text), 6) AS alpha_cjk,
         round(CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text), 6) AS punct,
         round(CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) / length(text), 6) AS digit
         FROM documents ORDER BY doc_id"""),

    Gate("d03_clean_judge", (s, d) =>
      docs(s, d).select(col("doc_id"),
          TextFunctions.judgeReason(col("text"), judgeT).as("drop_reason"))
        .withColumn("kept", col("drop_reason") === "ok")
        .orderBy("doc_id"),
      """SELECT doc_id, drop_reason, drop_reason = 'ok' AS kept FROM (
           SELECT doc_id,
             CASE WHEN length(text) < 100 THEN 'too_short'
                  WHEN length(text) > 450 THEN 'too_long'
                  WHEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) < 0.82 THEN 'too_sparse'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text) < 0.8 THEN 'low_language_signal'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 'too_much_punct'
                  ELSE 'ok' END AS drop_reason
           FROM documents)
         ORDER BY doc_id"""),

    Gate("d08_word_freq", (s, d) =>
      docs(s, d)
        .select(explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("word")).limit(40),
      """SELECT word, count(*) AS n FROM (
           SELECT unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
           FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 40"""),

    Gate("d09_source_stats", (s, d) =>
      docs(s, d).groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          round(avg(TextFunctions.tokenCount(col("text"))), 4).as("avg_tokens"))
        .orderBy("source"),
      """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         round(avg(CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)), 4) AS avg_tokens
         FROM documents GROUP BY source ORDER BY source"""),

    Gate("d10_fingerprints", (s, d) =>
      docs(s, d).select(col("doc_id"), TextFunctions.fingerprintMd5(col("text")).as("fp"))
        .orderBy("doc_id"),
      """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id"""),

    Gate("d14_tfidf_topterms", (s, d) => {
      val words = docs(s, d).select(col("doc_id"),
        explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("term"))
      val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfx = tf.groupBy("term").agg(count(lit(1)).as("dfc"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfx, "term").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf") * log((col("n_docs") + 1.0) / (col("dfc") + 1.0)), 6))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk").cast("int").as("rnk"), col("term"), col("score"))
        .orderBy("doc_id", "rnk")
    },
      """WITH w AS (SELECT doc_id,
             unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
         dfx AS (SELECT term, count(*) AS dfc FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT doc_id, tf.term AS term,
                  round(tf * ln((n_docs + 1.0) / (dfc + 1.0)), 6) AS score
                FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN n)
         SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, score FROM (
           SELECT doc_id, term, score,
             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
           FROM sc)
         WHERE rnk <= 3 ORDER BY doc_id, rnk"""),

    Gate("d15_char_entropy", (s, d) => {
      // Per-row entropy with zero shuffle, one pass per doc: a custom
      // codegen-bridged Expression counts code points in a single scan.
      // (The previous array_sort construction allocated one String per
      // char and compared them O(n log n) times per doc — 2.6 s at
      // sf0.1; the interpreted HOF lambdas re-evaluated shared columns.)
      // Empty docs are dropped, mirroring the oracle's explode+group
      // shape (an empty doc produces no char rows there).
      docs(s, d).where(length(col("text")) > 0)
        .select(col("doc_id"),
          round(graft.functions.HashFunctions.charEntropy(col("text")), 6).as("entropy"))
        .orderBy("doc_id")
    },
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
         f AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
         t AS (SELECT doc_id, count(*) AS n FROM ch GROUP BY doc_id)
         SELECT f.doc_id, round(-sum((c * 1.0 / n) * ln(c * 1.0 / n)), 6) AS entropy
         FROM f JOIN t ON f.doc_id = t.doc_id
         GROUP BY f.doc_id ORDER BY f.doc_id"""),

    Gate("d16_bigram_freq", (s, d) =>
      docs(s, d)
        .filter(size(split(TextFunctions.normalizeForDedup(col("text")), " ")) >= 2)
        .select(explode(TextFunctions.wordShingles(col("text"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("bigram")).limit(30),
      """WITH t AS (SELECT string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS w
           FROM documents),
         b AS (SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bigram
           FROM t WHERE len(w) >= 2)
         SELECT bigram, count(*) AS n FROM b GROUP BY bigram
         ORDER BY n DESC, bigram LIMIT 30"""),

    Gate("d22_bm25", (s, d) =>
      // BM25 retrieval over the corpus for a 3-term query: one
      // stats-row reduction broadcast back over the scoring scan (see
      // TextAnalysis.bm25). Scores round to 6dp BEFORE the ordering so
      // the top-50 cut is decided on the hash-compared value.
      TextAnalysis.bm25(docs(s, d).select("doc_id", "text"), "text",
          Seq("join", "hash", "data"))
        .select(col("doc_id"), col("bm25"))
        .orderBy(desc("bm25"), asc("doc_id")).limit(50),
      // Expression tree mirrors TextAnalysis.bm25 op-for-op: exact-count
      // corpus stats (N, avgdl over whole-number dl, df) are
      // order-independent doubles, and the per-doc score is a fixed
      // arithmetic tree on them — bit-stable across engines at 6dp.
      """WITH t AS (
           SELECT doc_id,
                  string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         d AS (
           SELECT doc_id,
                  CAST(len(toks) AS DOUBLE) AS dl,
                  CAST(len(list_filter(toks, w -> w = 'join')) AS DOUBLE) AS tf_0,
                  CAST(len(list_filter(toks, w -> w = 'hash')) AS DOUBLE) AS tf_1,
                  CAST(len(list_filter(toks, w -> w = 'data')) AS DOUBLE) AS tf_2
           FROM t),
         s AS (
           SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl,
                  sum(CASE WHEN tf_0 > 0 THEN 1.0 ELSE 0.0 END) AS df_0,
                  sum(CASE WHEN tf_1 > 0 THEN 1.0 ELSE 0.0 END) AS df_1,
                  sum(CASE WHEN tf_2 > 0 THEN 1.0 ELSE 0.0 END) AS df_2
           FROM d)
         SELECT doc_id, round(
             ln(1.0 + (n_docs - df_0 + 0.5) / (df_0 + 0.5))
               * (tf_0 * (1.2 + 1.0)) / (tf_0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n_docs - df_1 + 0.5) / (df_1 + 0.5))
               * (tf_1 * (1.2 + 1.0)) / (tf_1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
           + ln(1.0 + (n_docs - df_2 + 0.5) / (df_2 + 0.5))
               * (tf_2 * (1.2 + 1.0)) / (tf_2 + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
         FROM d, s
         ORDER BY bm25 DESC, doc_id LIMIT 50"""),

    Gate("d24_repetition", (s, d) =>
      // Gopher-style repetition quality signals (Rae et al. 2021
      // §A.1.1): duplicate word-3gram fraction and top word-2gram
      // fraction, pure per-row exprs — zero shuffle at any scale. The
      // synthetic vocabulary is small, so both signals take non-trivial
      // values on nearly every doc.
      Decontamination.repetitionSignals(
          docs(s, d).select("doc_id", "text"), "text")
        .select("doc_id", "dup_3gram_frac", "top_2gram_frac")
        .orderBy("doc_id"),
      """WITH w AS (SELECT doc_id,
             string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ') AS ws
           FROM documents),
         g AS (SELECT doc_id,
             CASE WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END AS g3,
             CASE WHEN len(ws) < 2 THEN [array_to_string(ws, ' ')]
               ELSE list_transform(range(1, len(ws)),
                 i -> ws[i] || ' ' || ws[i+1]) END AS g2
           FROM w),
         d AS (SELECT doc_id,
             round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
               AS dup_3gram_frac
           FROM g),
         f AS (SELECT doc_id, gram, count(*) AS c FROM
             (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY doc_id, gram),
         m AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM f GROUP BY doc_id)
         SELECT d.doc_id, d.dup_3gram_frac,
           round(CAST(m.mx AS DOUBLE) / m.tot, 6) AS top_2gram_frac
         FROM d JOIN m USING (doc_id) ORDER BY d.doc_id"""),

    Gate("d31_chunking", (s, d) =>
      // context-window chunking (20-token chunks, 5-token overlap):
      // integer-only arithmetic, so the oracle reproduces every chunk
      // boundary and the truncated final chunk exactly.
      TextAnalysis.chunk(docs(s, d).select("doc_id", "text"), "text",
          chunkTokens = 20, overlap = 5)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"), col("chunk_tokens"))
        .orderBy("doc_id", "chunk_id"),
      // Mirrors TextAnalysis.chunk: stride 15 = 20 - 5; DuckDB list
      // slices clamp at the end like Spark's slice, so the truncated
      // final chunk matches; two unnests zip positionally.
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
               x -> length(x) > 0) AS w
           FROM documents),
         n AS (SELECT doc_id, w, CASE WHEN len(w) <= 20 THEN 1
             ELSE (len(w) - 20 + 14) // 15 + 1 END AS nc FROM t),
         c AS (SELECT doc_id,
             unnest(range(0, nc)) AS chunk_id,
             unnest(list_transform(range(0, nc),
               k -> array_to_string(w[k*15+1:k*15+20], ' '))) AS chunk_text,
             unnest(list_transform(range(0, nc),
               k -> len(w[k*15+1:k*15+20]))) AS chunk_tokens
           FROM n)
         SELECT doc_id, chunk_id, chunk_text, chunk_tokens FROM c
         ORDER BY doc_id, chunk_id"""),

    Gate("d45_zipf_report", (s, d) => {
      // corpus-health Zipf report: global rank of every vocabulary term
      // by (freq DESC, term). A global row_number is the prefix-sum
      // problem at scale, so the rank uses the range-partition +
      // driver-offset construction (Ranking.withRowNumber — q30/q31's
      // machinery), NOT a single-partition window. Log columns are
      // per-row only; no cross-row float sums (those hash-differ under
      // partial-agg order).
      val words = docs(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .where(length(col("term")) > 0)
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .withColumn("__all", lit(1))
      Ranking.withRowNumber(words, Seq("__all"),
          Seq(col("freq").desc, col("term")), "rank")
        .select(col("rank"), col("term"), col("freq"),
          round(log10(col("rank")), 6).as("log_rank"),
          round(log10(col("freq")), 6).as("log_freq"),
          (col("rank") * col("freq")).as("zipf_product"))
        .orderBy("rank")
    },
      """WITH w AS (SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
           FROM documents),
         f AS (SELECT term, count(*) AS freq FROM w
           WHERE length(term) > 0 GROUP BY term),
         r AS (SELECT term, freq,
             row_number() OVER (ORDER BY freq DESC, term) AS rank FROM f)
         SELECT CAST(rank AS BIGINT) AS rank, term, CAST(freq AS BIGINT) AS freq,
           round(log10(rank), 6) AS log_rank, round(log10(freq), 6) AS log_freq,
           CAST(rank * freq AS BIGINT) AS zipf_product
         FROM r ORDER BY rank"""),

    Gate("d63_accent_fold", (s, d) => {
      // accent-folding normalization ahead of exact dedup: diacritic
      // variants collapse onto their base form via an explicit
      // translate table (the deterministic, SQL-replayable core of a
      // unicode fold). Every doc gets an accented twin (lowercase
      // vowels diacriticized); raw-text fingerprints keep the twins
      // apart, folded fingerprints merge them — n_raw_variants counts
      // the distinct raw keys each folded group absorbed (2 for every
      // twin pair, more where the corpus' planted exact dups stack).
      // Zero shuffle until the uniform md5 group-by.
      val base = docs(s, d).select(col("doc_id"), col("text"))
      val twin = base.select((col("doc_id") + 1000000L).as("doc_id"),
        translate(col("text"), "aeiou", "áéíóú").as("text"))
      base.unionByName(twin)
        .withColumn("folded",
          translate(lower(col("text")), "áéíóú", "aeiou"))
        .groupBy(md5(col("folded").cast("binary")).as("fold_fp"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(md5(col("text").cast("binary"))).as("n_raw_variants"))
        .orderBy("fold_fp")
    },
      """WITH base AS (SELECT doc_id, text FROM documents),
         twin AS (SELECT doc_id + 1000000 AS doc_id,
             translate(text, 'aeiou', 'áéíóú') AS text FROM base),
         a AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
         f AS (SELECT doc_id, text,
             translate(lower(text), 'áéíóú', 'aeiou') AS folded FROM a)
         SELECT md5(folded) AS fold_fp, count(*) AS n_docs,
           count(DISTINCT md5(text)) AS n_raw_variants
         FROM f GROUP BY 1 ORDER BY fold_fp"""),

    Gate("d65_sentence_stats", (s, d) => {
      // sentence segmentation stats: a lookaround-free boundary rule
      // ('[.!?]+' then whitespace-or-end) counts identically under
      // Java regex and RE2. Sentences are synthesized on doc_id
      // strata (2/3/4 per doc — the corpus itself has no
      // punctuation). One zero-shuffle projection.
      docs(s, d).select(col("doc_id"), sentenceSynth.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit("[.!?]+(\\s|$)"), lit(0)))
            .cast("long").as("n_sentences"),
          TextFunctions.tokenCount(col("t")).cast("long").as("n_words"))
        .withColumn("words_per_sentence",
          round(col("n_words").cast("double") / col("n_sentences"), 4))
        .orderBy("doc_id")
    },
      s"""WITH $sentenceSynthSql
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '[.!?]+(\\s|$$)')) AS BIGINT) AS n_sentences,
           CAST(len(string_split_regex(trim(t), '\\s+')) AS BIGINT) AS n_words,
           round(CAST(len(string_split_regex(trim(t), '\\s+')) AS DOUBLE)
             / len(regexp_extract_all(t, '[.!?]+(\\s|$$)')), 4) AS words_per_sentence
         FROM sy ORDER BY doc_id"""),

    Gate("d66_readability", (s, d) => {
      // Flesch reading-ease (206.835 − 1.015·words/sentence −
      // 84.6·syllables/word) with syllables approximated by
      // vowel-group runs — the dictionary-free proxy every readability
      // filter uses. The double expression tree is written in the
      // same shape on both engines and rounded only at the edge.
      docs(s, d).select(col("doc_id"), sentenceSynth.as("t"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("t"), lit("[.!?]+(\\s|$)"), lit(0)))
            .cast("long").as("n_sentences"),
          TextFunctions.tokenCount(col("t")).cast("long").as("n_words"),
          size(regexp_extract_all(lower(col("t")), lit("[aeiouy]+"), lit(0)))
            .cast("long").as("n_syllables"))
        .withColumn("flesch",
          round(lit(206.835)
            - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
            - lit(84.6) * (col("n_syllables").cast("double") / col("n_words")), 4))
        .orderBy("doc_id")
    },
      s"""WITH $sentenceSynthSql,
         m AS (SELECT doc_id,
             CAST(len(regexp_extract_all(t, '[.!?]+(\\s|$$)')) AS BIGINT) AS n_sentences,
             CAST(len(string_split_regex(trim(t), '\\s+')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(t), '[aeiouy]+')) AS BIGINT) AS n_syllables
           FROM sy)
         SELECT doc_id, n_sentences, n_words, n_syllables,
           round(206.835
             - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
             - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words), 4) AS flesch
         FROM m ORDER BY doc_id"""),

    Gate("d69_nfkc_normalize", (s, d) => {
      // the tokenizer's NFKC pass (reference nmt_nfkc) made
      // oracle-visible: compatibility characters — ligatures,
      // full-width forms, circled digits, unit squares — are injected
      // on doc_id strata, the custom NormalizeNfkc expression folds
      // them, and the oracle states every expected folding as an
      // explicit replace chain. Java's Normalizer and the stated
      // table must agree char-for-char; the ASCII corpus tail is
      // NFKC-invariant by construction.
      val decorated = concat(
        when(col("doc_id") % 2 === 0, lit("ﬁle ")).otherwise(lit("ﬂow ")),
        when(col("doc_id") % 3 === 0, lit("Ａ０ ")).otherwise(lit("① ")),
        when(col("doc_id") % 5 === 0, lit("㎞ ")).otherwise(lit("")),
        substring(col("text"), 1, 24))
      docs(s, d).select(col("doc_id"), decorated.as("raw"))
        .withColumn("norm",
          graft.functions.HashFunctions.normalizeNfkc(col("raw")))
        .withColumn("changed", col("norm") =!= col("raw"))
        .orderBy("doc_id")
    },
      // The expected NFKC foldings stated as an explicit replace chain:
      // ligatures, full-width letter/digit, circled digit, unit square.
      """WITH raw0 AS (SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'ﬁle ' ELSE 'ﬂow ' END) ||
           (CASE WHEN doc_id % 3 = 0 THEN 'Ａ０ ' ELSE '① ' END) ||
           (CASE WHEN doc_id % 5 = 0 THEN '㎞ ' ELSE '' END) ||
           substr(text, 1, 24) AS raw
         FROM documents)
         SELECT doc_id, raw,
           replace(replace(replace(replace(replace(replace(raw,
             'ﬁ', 'fi'), 'ﬂ', 'fl'), 'Ａ', 'A'), '０', '0'), '①', '1'),
             '㎞', 'km') AS norm,
           TRUE AS changed
         FROM raw0 ORDER BY doc_id"""),

    Gate("d72_term_map", (s, d) => {
      // map-typed analytics: per-doc term frequencies as a real
      // MapType column, filtered with map algebra (map_filter keeps
      // repeated terms), then serialized DETERMINISTICALLY — entries
      // sorted as structs (field order: word, count) before joining,
      // because map iteration order is not a contract anywhere. The
      // (doc, word) count is the only shuffle.
      val words = docs(s, d).select(col("doc_id"),
        explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("w"))
      val tf = words.groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      tf.groupBy("doc_id")
        .agg(map_from_entries(array_sort(
          collect_list(struct(col("w"), col("c"))))).as("tfm"))
        .select(col("doc_id"),
          size(col("tfm")).cast("long").as("n_terms"),
          array_join(transform(
            array_sort(map_entries(map_filter(col("tfm"), (_, v) => v >= 2))),
            e => concat(e.getField("key"), lit(":"),
              e.getField("value").cast("string"))), ",").as("repeated_terms"))
        .orderBy("doc_id")
    },
      """WITH w AS (SELECT doc_id,
             unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           coalesce(string_agg(CASE WHEN c >= 2 THEN w || ':' || CAST(c AS VARCHAR) END,
             ',' ORDER BY w), '') AS repeated_terms
         FROM tf GROUP BY doc_id ORDER BY doc_id""")
  )
}
