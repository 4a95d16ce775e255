package graft
package gates

import graft.functions.{HashFunctions, TextFunctions}
import graft.operators._
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Fixtures._

/** Document gates, classifiers and quality (part of d01-d85): language
  * ID (stopword, trained NB, fastText .bin/.ftz), NER, quality scores and
  * C4/Gopher filters, perplexity LMs, score calibration and drift,
  * compression signal. */
object DocQualityGates {
  /** d34's bigram-LM mirror through the per-doc `scored(doc_id, n,
    * lsum)` CTE — shared by d34 (per-doc ppl report) and d50 (CCNet
    * tercile buckets). */
  private def bigramPplOracleCtes: String = bigramPplOracleCtes(Int.MaxValue)

  /** d34/d50/d74 shared LM CTEs; a finite `maxBigrams` replays
    * `trainBigramLm`'s top-M (count DESC, bigram ASC) count-pruning cut
    * before the bigram map is built (d74). */
  private def bigramPplOracleCtes(maxBigrams: Int): String = {
    val base = """WITH t AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         uni AS (SELECT w, count(*) AS c
           FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
         vocab AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 64),
         stats AS (SELECT (SELECT sum(c) FROM uni) - (SELECT sum(c) FROM vocab) AS unk_c,
                          (SELECT count(*) FROM vocab) AS v),
         vm AS (SELECT map_from_entries(list({'k': w, 'v': c} ORDER BY w)) AS m FROM vocab),
         tm AS (SELECT doc_id,
             list_transform(toks, x -> CASE WHEN len(map_extract(m, x)) > 0
               THEN x ELSE chr(1) END) AS tu
           FROM t, vm),
         big AS (SELECT bg, count(*) AS c FROM
             (SELECT unnest(list_transform(range(1, len(tu)),
                i -> tu[i] || ' ' || tu[i+1])) AS bg FROM tm)
           GROUP BY bg),
         bm AS (SELECT map_from_entries(list({'k': bg, 'v': c} ORDER BY bg)) AS bmap FROM big),
         scored AS (
           SELECT doc_id, len(tu) AS n,
             CASE WHEN len(tu) >= 2 THEN
               list_reduce(list_transform(range(1, len(tu)), i ->
                 ln( (coalesce(map_extract(bmap, tu[i] || ' ' || tu[i+1])[1], 0) + 1.0)
                   / ((CASE WHEN tu[i] = chr(1) THEN unk_c
                       ELSE map_extract(m, tu[i])[1] END) + v + 1.0) )),
                 (a, b) -> a + b)
             ELSE NULL END AS lsum
           FROM tm, vm, bm, stats)"""
    if (maxBigrams == Int.MaxValue) base
    else base.replace("AS bmap FROM big)",
      s"AS bmap FROM (SELECT bg, c FROM big ORDER BY c DESC, bg LIMIT $maxBigrams))")
  }

  /** Shared scored-CTE prefix for the language-ID oracles — must mirror
    * [[TextAnalysis.langIdLabel]] exactly. */
  private def langIdOracle(tail: String): String = {
    val hits = TextAnalysis.LangStopwords.map { case (lang, sw) =>
      val pat = sw.mkString("\\b(", "|", ")\\b")
      s"len(regexp_extract_all(lower(text), '$pat')) AS ${lang}_h"
    }.mkString(", ")
    val langs = TextAnalysis.LangStopwords.map(_._1)
    val best = "greatest(" + langs.map(_ + "_h").mkString(", ") + ")"
    val pick = langs.map(l => s"WHEN ${l}_h = best AND best > 0 THEN '$l'").mkString(" ")
    s"""WITH h AS (SELECT doc_id, lang, text, $hits FROM documents),
        b AS (SELECT *, $best AS best FROM h),
        scored AS (SELECT doc_id, lang,
          CASE WHEN CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)
                 >= length(text) * 0.05 THEN 'zh'
               $pick
               ELSE 'und' END AS lang_pred
          FROM b)
        $tail"""
  }

  val all: Seq[Gate] = Seq(
    Gate("d04_lang_id", (s, d) =>
      docs(s, d).select(col("doc_id"), TextAnalysis.langIdLabel(col("text")).as("lang_pred"))
        .orderBy("doc_id"),
      langIdOracle("SELECT doc_id, lang_pred FROM scored ORDER BY doc_id")),

    Gate("d05_lang_confusion", (s, d) =>
      docs(s, d).select(col("lang"), TextAnalysis.langIdLabel(col("text")).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred"),
      langIdOracle(
      "SELECT lang, lang_pred, count(*) AS n FROM scored GROUP BY lang, lang_pred ORDER BY lang, lang_pred")),

    Gate("d06_quality_scores", (s, d) =>
      docs(s, d).select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("quality_score"))
        .orderBy("doc_id"),
      """SELECT doc_id, round(greatest(0.0,
           least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
           + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
           + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
           + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) AS quality_score
         FROM documents ORDER BY doc_id"""),

    Gate("d20_trained_lid", (s, d) => {
      // model-backed LID (M1): train the Naive-Bayes char-3gram model and
      // predict with it, over the synthesized 8-language fixture
      // (TrainedLid.synthFixture — the corpus's own `lang` column has no
      // learnable signal) PLUS a Danish holdout the model never trains
      // on: unseen-language inputs must land on the nearest trained
      // neighbor (sv — shared/near-form function words), not crash or
      // scatter. Exact count aggregates + fixed gram order make the
      // confusion matrix a partitioning-invariant constant at a given
      // SF — pinned oracle (expected: all-diagonal + da->sv).
      val ids = docs(s, d).select("doc_id")
      val synth = TrainedLid.synthFixture(ids)
      val model = TrainedLid.train(synth, "lang", "text")
      TrainedLid.predict(synth.unionByName(TrainedLid.synthHoldout(ids)), "text", model)
        .groupBy(col("lang"), col("lang_pred_model"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred_model")
    },
      """SELECT lang, lang_pred_model, CAST(n_dec AS BIGINT) AS n FROM (VALUES
           ('da', 'sv', 500),
           ('de', 'de', 63), ('en', 'en', 63), ('es', 'es', 63),
           ('fr', 'fr', 63), ('it', 'it', 62), ('nl', 'nl', 62),
           ('pt', 'pt', 62), ('sv', 'sv', 62)
         ) AS t(lang, lang_pred_model, n_dec)
         ORDER BY lang, lang_pred_model"""),

    Gate("d21_hard_lid", (s, d) => {
      // the labeler-separation gate: on a stopword-FREE content
      // vocabulary (TrainedLid.HardFixtureWordLists) the stopword
      // heuristic has zero evidence — "und" on every doc — while the
      // trained char-3gram NB model still classifies perfectly. Both
      // labelers run in ONE pass; the grouped matrix is exact-count
      // deterministic (pinned oracle, same convention as d20).
      val ids = docs(s, d).select("doc_id")
      val hard = TrainedLid.synthFixture(ids,
        wordLists = TrainedLid.HardFixtureWordLists, salt = "hw")
      val model = TrainedLid.train(hard, "lang", "text")
      TrainedLid.predict(hard, "text", model)
        .withColumn("lang_heur", TextAnalysis.langIdLabel(col("text")))
        .groupBy(col("lang"), col("lang_pred_model"), col("lang_heur"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred_model", "lang_heur")
    },
      // Pinned at sf0.01 like d20: on the stopword-free hard fixture the
      // trained model is all-diagonal while the heuristic is "und" on
      // every doc — the pinned separation between the two labelers.
      """SELECT lang, lang_pred_model, lang_heur, CAST(n_dec AS BIGINT) AS n FROM (VALUES
           ('de', 'de', 'und', 63), ('en', 'en', 'und', 63),
           ('es', 'es', 'und', 63), ('fr', 'fr', 'und', 63),
           ('it', 'it', 'und', 62), ('nl', 'nl', 'und', 62),
           ('pt', 'pt', 'und', 62), ('sv', 'sv', 'und', 62)
         ) AS t(lang, lang_pred_model, lang_heur, n_dec)
         ORDER BY lang, lang_pred_model, lang_heur"""),

    Gate("d25_cognate_confusion", (s, d) => {
      // the non-trivial error-surface gate: on the cognate fixture
      // (7 of 10 words identical across es/it/pt, 8 words/doc) the
      // trained model CANNOT be perfect — docs drawing only shared
      // words are decided by exact-count weight asymmetries. The
      // resulting off-diagonal is deterministic under any partitioning
      // (same argument as d20, spec-probed) and pinned in the oracle:
      // a feature-hashing / smoothing / tie-break regression moves it.
      val ids = docs(s, d).select("doc_id")
      val cog = TrainedLid.synthFixture(ids,
        wordLists = TrainedLid.CognateFixtureWordLists,
        salt = "cg", wordsPerDoc = 8)
      val model = TrainedLid.train(cog, "lang", "text")
      TrainedLid.predict(cog, "text", model)
        .groupBy(col("lang"), col("lang_pred_model"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred_model")
    },
      // Pinned at sf0.01 like d20/d21: the cognate fixture (7/10 shared
      // words, 8 words/doc) yields a REAL off-diagonal — 21 of 500 docs
      // carry no distinctive word and fall to the exact-count weight
      // asymmetries (pt loses most: its distinct words share char-3grams
      // with es). Partitioning-invariant by the d20 argument; re-pin on
      // fixture/SF change.
      """SELECT lang, lang_pred_model, CAST(n_dec AS BIGINT) AS n FROM (VALUES
           ('es', 'es', 165), ('es', 'it', 2),
           ('it', 'es', 6), ('it', 'it', 161),
           ('pt', 'es', 8), ('pt', 'it', 5), ('pt', 'pt', 153)
         ) AS t(lang, lang_pred_model, n_dec)
         ORDER BY lang, lang_pred_model"""),

    Gate("d30_trained_ner", (s, d) => {
      // model NER (M3's trainable path): token-level NB over char-3grams
      // of the token, classes {name, other}, trained and evaluated on
      // the synthesized token fixture — exact-count confusion matrix,
      // partitioning-invariant (d20 argument), pinned in the oracle.
      val ids = docs(s, d).select("doc_id")
      val toks = TrainedNer.synthTokenFixture(ids)
      val model = TrainedNer.train(toks)
      TrainedLid.predict(toks, "token", model, "ner_pred")
        .groupBy(col("is_name"), col("ner_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("is_name", "ner_pred")
    },
      // Pinned at sf0.01 (d20 convention): 500 docs x 30 tokens, every
      // 5th a name -> 3000 name / 12000 content tokens; the token-level
      // NB separates the orthographically disjoint vocabularies
      // perfectly. Re-pin on fixture/SF change.
      """SELECT CAST(isn AS BOOLEAN) AS is_name, ner_pred, CAST(n_dec AS BIGINT) AS n
         FROM (VALUES (FALSE, 'other', 12000), (TRUE, 'name', 3000))
           AS t(isn, ner_pred, n_dec)
         ORDER BY is_name, ner_pred"""),

    Gate("d34_bigram_ppl", (s, d) => {
      // CCNet-shaped quality scoring: train a top-64-vocab bigram LM on
      // the corpus (bounded artifact), then score every doc in one
      // zero-shuffle map pass. The per-doc log-prob sum folds in
      // position order on BOTH engines, so no float depends on
      // aggregation order anywhere in the query.
      val all = docs(s, d)
      val lm = TextAnalysis.trainBigramLm(all, "text", vocabSize = 64)
      TextAnalysis.bigramPerplexity(all.select("doc_id", "text"), "text", lm)
        .select("doc_id", "n_bigrams", "avg_logp", "ppl")
        .orderBy("doc_id")
    },
      // Mirrors trainBigramLm + bigramPerplexity: top-64 vocab by
      // (count DESC, word ASC), chr(1) as <unk>, add-one smoothing
      // p = (C(w1 w2)+1)/(C(w1)+V+1), and the log-prob sum as a
      // list_reduce left fold in position order — the exact fold the
      // Spark `aggregate` HOF runs (0.0 + l1 == l1, so the seeded and
      // unseeded folds agree bit-for-bit).
      (bigramPplOracleCtes +
      """
         SELECT doc_id, CAST(n - 1 AS BIGINT) AS n_bigrams,
           round(lsum / (n - 1), 6) AS avg_logp,
           round(exp(-(lsum / (n - 1))), 4) AS ppl
         FROM scored ORDER BY doc_id""")),

    Gate("d35_gopher_gate", (s, d) =>
      // the full published Gopher rule set as one ordered judge: the
      // fixture spreads verdicts across several rules (short docs fail
      // word count, non-English docs fail the stopword rule, ~half
      // pass), so the chain order itself is under the hash.
      // minStopHits = 1: the synthetic vocabulary carries only 'the'
      // from the published list, and the paper's >= 2 would blank the
      // pass branch entirely.
      Decontamination.gopherGate(docs(s, d).select("doc_id", "text"), "text",
          minStopHits = 1)
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
          "frac_alpha_words", "frac_bullet_lines", "frac_ellipsis_lines",
          "stop_hits", "dup_3gram_frac", "top_2gram_frac",
          "gopher_reason", "gopher_keep")
        .orderBy("doc_id"),
      // Mirrors Decontamination.repetitionSignals: dup fraction from
      // list_distinct on the 3-gram list; top fraction from the max
      // multiplicity over the 2-gram list (unnest+groupBy here — the
      // oracle needn't be shuffle-free, only the Spark side).
      // Mirrors Decontamination.gopherGate: d24's repetition CTEs plus
      // the count-ratio signals, then the same when-chain order. All
      // ratios are integer counts over greatest(n,1) — exact in both
      // engines.
      """WITH w AS (SELECT doc_id, text,
             list_filter(string_split_regex(trim(text), '\s+'), x -> length(x) > 0) AS toks,
             string_split(text, chr(10)) AS lines,
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
         rep AS (SELECT d.doc_id, d.dup_3gram_frac,
             round(CAST(m.mx AS DOUBLE) / m.tot, 6) AS top_2gram_frac
           FROM (SELECT doc_id,
               round(1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
                 AS dup_3gram_frac FROM g) d
           JOIN (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM
               (SELECT doc_id, gram, count(*) AS c FROM
                 (SELECT doc_id, unnest(g2) AS gram FROM g)
               GROUP BY doc_id, gram)
             GROUP BY doc_id) m USING (doc_id)),
         sig AS (SELECT doc_id, text,
             CAST(len(toks) AS BIGINT) AS n_words,
             round(CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
               / greatest(len(toks), 1), 4) AS mean_word_len,
             round(CAST(((length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '...', ''))) / 3
               + (length(text) - length(replace(text, '…', '')))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS symbol_ratio,
             round(CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS frac_alpha_words,
             round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]'))) AS DOUBLE)
               / greatest(len(lines), 1), 6) AS frac_bullet_lines,
             round(CAST(len(list_filter(lines, l -> regexp_matches(l, '(\.\.\.|…)\s*$'))) AS DOUBLE)
               / greatest(len(lines), 1), 6) AS frac_ellipsis_lines,
             CAST((CASE WHEN regexp_matches(lower(text), '\bthe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bbe\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bto\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bof\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\band\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bthat\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bhave\b') THEN 1 ELSE 0 END
               + CASE WHEN regexp_matches(lower(text), '\bwith\b') THEN 1 ELSE 0 END) AS BIGINT)
               AS stop_hits
           FROM w),
         j AS (SELECT s.doc_id, s.n_words, s.mean_word_len, s.symbol_ratio,
             s.frac_alpha_words, s.frac_bullet_lines, s.frac_ellipsis_lines,
             s.stop_hits, r.dup_3gram_frac, r.top_2gram_frac,
             CASE
               WHEN s.n_words IS NULL THEN NULL
               WHEN s.n_words < 50 THEN 'too_few_words'
               WHEN s.n_words > 100000 THEN 'too_many_words'
               WHEN s.mean_word_len < 3.0 OR s.mean_word_len > 10.0 THEN 'bad_mean_word_len'
               WHEN s.symbol_ratio > 0.1 THEN 'too_many_symbols'
               WHEN s.frac_bullet_lines > 0.9 THEN 'too_many_bullets'
               WHEN s.frac_ellipsis_lines > 0.3 THEN 'too_many_ellipsis'
               WHEN s.frac_alpha_words < 0.8 THEN 'low_alpha_ratio'
               WHEN s.stop_hits < 1 THEN 'few_stopwords'
               WHEN r.dup_3gram_frac > 0.2 THEN 'dup_ngrams'
               WHEN r.top_2gram_frac > 0.2 THEN 'top_ngram_heavy'
               ELSE 'ok' END AS gopher_reason
           FROM sig s JOIN rep r USING (doc_id))
         SELECT doc_id, n_words, mean_word_len, symbol_ratio,
           frac_alpha_words, frac_bullet_lines, frac_ellipsis_lines,
           stop_hits, dup_3gram_frac, top_2gram_frac,
           gopher_reason, gopher_reason = 'ok' AS gopher_keep
         FROM j ORDER BY doc_id"""),

    Gate("d42_c4_filters", (s, d) => {
      // C4 cleaning battery (Raffel et al. 2020 §2.2): terminal-
      // punctuation + min-words line rule, brace / lorem-ipsum page
      // rules. The corpus has no newlines or punctuation, so lines are
      // synthesized the d19/d26 way: 24-char slices; line i of doc d
      // ends in '.' when (d+i)%3 != 0; every 11th doc hides a brace in
      // a line-rule-PASSING line 2 (the brace must be caught by the
      // page rule, not the line rule); every 13th doc carries a
      // boilerplate lorem-ipsum line. Zero shuffle — one projection.
      def sl(i: Int) = substring(col("text"), 1 + (i - 1) * 24, 24)
      def mk(i: Int): Column = {
        val base = when((col("doc_id") + lit(i)) % 3 =!= 0,
          concat(sl(i), lit("."))).otherwise(sl(i))
        if (i == 2) when(col("doc_id") % 11 === 0,
          concat(sl(i), lit(" {x}."))).otherwise(base)
        else if (i == 3) when(col("doc_id") % 13 === 0,
          lit("lorem ipsum dolor sit.")).otherwise(base)
        else base
      }
      val lines = array((1 to 6).map(mk): _*)
      val kept = TextFunctions.c4KeptLines(lines)
      val flags = TextFunctions.c4DocFlags(lines)
      docs(s, d)
        .select(col("doc_id"), kept.as("kept"), flags.as("fl"))
        .select(col("doc_id"),
          size(col("kept")).as("kept_lines"),
          col("fl.has_brace").as("has_brace"),
          col("fl.has_lorem").as("has_lorem"),
          (!col("fl.has_brace") && !col("fl.has_lorem") &&
            size(col("kept")) >= 3).as("doc_kept"),
          array_join(col("kept"), "\n").as("cleaned"))
        .orderBy("doc_id")
    },
      """WITH l AS (SELECT doc_id,
             list_transform(range(1, 7), i ->
               CASE WHEN i = 2 AND doc_id % 11 = 0
                      THEN substr(text, 25, 24) || ' {x}.'
                    WHEN i = 3 AND doc_id % 13 = 0
                      THEN 'lorem ipsum dolor sit.'
                    WHEN (doc_id + i) % 3 != 0
                      THEN substr(text, 1 + (i-1)*24, 24) || '.'
                    ELSE substr(text, 1 + (i-1)*24, 24) END) AS ls
           FROM documents),
         k AS (SELECT doc_id, ls,
             list_filter(ls, x -> regexp_matches(x, '[.!?"'']$')
               AND len(string_split_regex(trim(x), '\s+')) >= 3) AS kept
           FROM l)
         SELECT doc_id, CAST(len(kept) AS INTEGER) AS kept_lines,
           len(list_filter(ls, x -> strpos(x, '{') > 0)) > 0 AS has_brace,
           contains(lower(array_to_string(ls, chr(10))), 'lorem ipsum') AS has_lorem,
           (NOT len(list_filter(ls, x -> strpos(x, '{') > 0)) > 0)
             AND (NOT contains(lower(array_to_string(ls, chr(10))), 'lorem ipsum'))
             AND len(kept) >= 3 AS doc_kept,
           array_to_string(kept, chr(10)) AS cleaned
         FROM k ORDER BY doc_id"""),

    Gate("d47_winsorize", (s, d) => {
      // robust-stats clipping: per-language p05/p95 of the quality
      // score via the distributed exact-quantile construction
      // (Ranking.exactQuantiles — q30's machinery, grouped by lang),
      // then winsorize every doc's score into its language's band.
      // The quantile table is group-sized (5 rows) and broadcast back;
      // scoring stays a zero-shuffle projection. The outlier-robust
      // version of the d39/d43 quality signals.
      // eager checkpoint: the regex-heavy score projection would
      // otherwise replay in each quantile pass + the final join
      val q = docs(s, d).select(col("doc_id"), col("lang"),
        TextFunctions.qualityScore(col("text")).as("qs"))
        .localCheckpoint(true)
      val bands = Ranking.exactQuantiles(q, "lang", "qs",
        Seq(0.05 -> "p05", 0.95 -> "p95"))
      q.join(broadcast(bands), "lang")
        .select(col("doc_id"), col("lang"), col("qs").as("quality_score"),
          col("p05"), col("p95"),
          least(greatest(col("qs"), col("p05")), col("p95")).as("clipped"))
        .orderBy("doc_id")
    },
      // Rank-filter quantile mirror (q30's shape) per lang; clip is
      // least/greatest over the same rounded-6dp score both engines
      // compute bit-identically (d39's formula).
      """WITH q AS (SELECT doc_id, lang,
             round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) AS qs
           FROM documents),
         r AS (SELECT lang, qs,
             row_number() OVER (PARTITION BY lang ORDER BY qs) AS rn,
             count(*) OVER (PARTITION BY lang) AS n FROM q),
         lo AS (SELECT lang, min(qs) AS p05 FROM r
           WHERE rn = CEIL(0.05 * n) GROUP BY lang),
         hi AS (SELECT lang, min(qs) AS p95 FROM r
           WHERE rn = CEIL(0.95 * n) GROUP BY lang)
         SELECT q.doc_id, q.lang, q.qs AS quality_score, lo.p05, hi.p95,
           least(greatest(q.qs, lo.p05), hi.p95) AS clipped
         FROM q JOIN lo USING (lang) JOIN hi USING (lang)
         ORDER BY q.doc_id"""),

    Gate("d50_ppl_buckets", (s, d) => {
      // CCNet's actual selection step (Wenzek et al. 2020 §4): bucket
      // the corpus head/middle/tail at the global perplexity terciles
      // of the d34 bigram-LM score (lower ppl = more fluent = head).
      // Terciles come from the distributed exact-rank construction
      // (q30's machinery) — no single-partition window over the
      // corpus — and broadcast back; bucketing is a zero-shuffle
      // projection. Docs too short to score (NULL ppl) land in tail.
      val all = docs(s, d)
      val lm = TextAnalysis.trainBigramLm(all, "text", vocabSize = 64)
      // materialize the 2-column score table ONCE (eager local
      // checkpoint): the LM projection is the expensive part and the
      // quantile construction + final join would otherwise replay it
      // ~5x (counts, totals, running-sum pin, join) — measured 35 s →
      // ~5 s at sf0.1. (doc_id, ppl) is 16 bytes/row, spillable.
      val scored = TextAnalysis.bigramPerplexity(
          all.select("doc_id", "text"), "text", lm)
        .select(col("doc_id"), col("ppl"))
        .withColumn("__all", lit(1))
        .localCheckpoint(true)
      val cuts = Ranking.exactQuantiles(scored.where(col("ppl").isNotNull),
        "__all", "ppl", Seq(1.0 / 3 -> "p33", 2.0 / 3 -> "p67"))
      scored.join(broadcast(cuts), "__all")
        .select(col("doc_id"), col("ppl"), col("p33"), col("p67"),
          when(col("ppl").isNull, lit("tail"))
            .when(col("ppl") <= col("p33"), lit("head"))
            .when(col("ppl") <= col("p67"), lit("middle"))
            .otherwise(lit("tail")).as("bucket"))
        .orderBy("doc_id")
    },
      // d34's LM CTEs + the d47-style rank-filter tercile mirror; the
      // bucket CASE compares the 4dp-rounded ppl both engines share.
      (bigramPplOracleCtes +
      """,
         p AS (SELECT doc_id,
             round(exp(-(lsum / (n - 1))), 4) AS ppl FROM scored),
         np AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p
           WHERE ppl IS NOT NULL),
         r AS (SELECT ppl, row_number() OVER (ORDER BY ppl) AS rn
           FROM p WHERE ppl IS NOT NULL),
         lo AS (SELECT min(ppl) AS p33 FROM r, np WHERE rn = CEIL(1.0/3 * n)),
         hi AS (SELECT min(ppl) AS p67 FROM r, np WHERE rn = CEIL(2.0/3 * n))
         SELECT p.doc_id, p.ppl, lo.p33, hi.p67,
           CASE WHEN p.ppl IS NULL THEN 'tail'
                WHEN p.ppl <= lo.p33 THEN 'head'
                WHEN p.ppl <= hi.p67 THEN 'middle'
                ELSE 'tail' END AS bucket
         FROM p, lo, hi ORDER BY p.doc_id""")),

    Gate("d54_score_calibration", (s, d) =>
      // calibration of the cheap quality score against the judge: per
      // score decile (integer bucket of the 6dp score), doc count,
      // judge-kept count, and keep rate — the sheet that says where a
      // score threshold actually sits. One bounded aggregate, zero
      // windows.
      docs(s, d).select(
          least(lit(9L), floor(TextFunctions.qualityScore(col("text")) * 10))
            .cast("long").as("decile"),
          (TextFunctions.judgeReason(col("text"), judgeT) === "ok").as("kept"))
        .groupBy("decile")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          count(when(col("kept"), 1)).cast("long").as("n_kept"))
        .select(col("decile"), col("n_docs"), col("n_kept"),
          round(col("n_kept").cast("double") / col("n_docs"), 6).as("keep_rate"))
        .orderBy("decile"),
      // d39's score formula bucketed by decile; the judge CASE is d03's.
      """WITH q AS (SELECT
             least(9, CAST(floor(round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) * 10) AS BIGINT)) AS decile,
             (CASE WHEN length(text) < 100 THEN 'too_short'
                  WHEN length(text) > 450 THEN 'too_long'
                  WHEN CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text) < 0.82 THEN 'too_sparse'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text) < 0.8 THEN 'low_language_signal'
                  WHEN CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text) > 0.05 THEN 'too_much_punct'
                  ELSE 'ok' END) = 'ok' AS kept
           FROM documents)
         SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE kept) AS BIGINT) AS n_kept,
           round(CAST(count(*) FILTER (WHERE kept) AS DOUBLE) / count(*), 6)
             AS keep_rate
         FROM q GROUP BY decile ORDER BY decile"""),

    Gate("d61_score_drift", (s, d) => {
      // distribution-drift monitor: the exact two-sample
      // Kolmogorov-Smirnov statistic between the quality-score
      // distributions of two corpus halves (even vs odd doc_id — the
      // stand-in for "yesterday's snapshot vs today's"). KS needs the
      // running CDF over the global score order — the partition-less
      // window scale-killer — so the cumulatives come from
      // core.Partitioning.distributedPrefixSum (range partition +
      // broadcast offsets, both counters in ONE pass). The decision
      // value |r0*n1 - r1*n0| is pure INTEGER arithmetic (== the KS
      // sup scaled by n0*n1): no float CDF ever reaches the argmax.
      // Exact to ~3e9 rows per side before i64 overflow; beyond that,
      // pre-aggregate counts per score quantile.
      val scored = docs(s, d).select(
        floor(TextFunctions.qualityScore(col("text")) * 1000).cast("long").as("q"),
        (col("doc_id") % 2 === 0).as("g0"))
      val counts = scored.groupBy("q").agg(
        sum(when(col("g0"), 1L).otherwise(0L)).as("c0"),
        sum(when(!col("g0"), 1L).otherwise(0L)).as("c1"))
      val cums = graft.core.Partitioning.distributedPrefixSum(
        counts, Seq(col("q").asc), Seq("c0" -> "r0", "c1" -> "r1"))
      val tot = counts.agg(sum("c0").as("n0"), sum("c1").as("n1"))
      cums.crossJoin(broadcast(tot))
        .withColumn("diff", abs(col("r0") * col("n1") - col("r1") * col("n0")))
        .orderBy(desc("diff"), asc("q")).limit(1)
        .select(col("q").as("ks_at_q"), col("diff").as("ks_scaled"),
          round(col("diff").cast("double")
            / (col("n0") * col("n1")).cast("double"), 6).as("ks"))
    },
      // KS via integer |r0*n1 - r1*n0| over the shared quality formula
      // (d06/d60's), cumulatives as a window the primitive distributes.
      """WITH t AS (SELECT doc_id % 2 = 0 AS g0,
             CAST(floor(round(greatest(0.0,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.25
               + (CAST(length(text) - length(regexp_replace(text, '[A-Za-z一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 0.35
               + (CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) / length(text)) * 0.25
               + (1.0 - least((CAST(length(text) - length(regexp_replace(text, '[^\w\s一-鿿]', '', 'g')) AS DOUBLE) / length(text)) * 2.0, 1.0)) * 0.15), 6) * 1000) AS BIGINT) AS q
           FROM documents),
         c AS (SELECT q, CAST(sum(CASE WHEN g0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
             CAST(sum(CASE WHEN NOT g0 THEN 1 ELSE 0 END) AS BIGINT) AS c1
           FROM t GROUP BY q),
         r AS (SELECT q,
             CAST(sum(c0) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r0,
             CAST(sum(c1) OVER (ORDER BY q ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS r1
           FROM c),
         n AS (SELECT CAST(sum(c0) AS BIGINT) AS n0, CAST(sum(c1) AS BIGINT) AS n1 FROM c)
         SELECT q AS ks_at_q, CAST(abs(r0 * n1 - r1 * n0) AS BIGINT) AS ks_scaled,
           round(abs(r0 * n1 - r1 * n0) * 1.0 / (n0 * n1), 6) AS ks
         FROM r CROSS JOIN n
         ORDER BY abs(r0 * n1 - r1 * n0) DESC, q LIMIT 1"""),

    Gate("d62_lang_segments", (s, d) => {
      // code-switching segmentation: mixed-language docs (each doc's
      // text interleaved with its successor's — even ids block the two
      // languages [a,a,b,b], odd ids alternate [a,b,a,b]) are split
      // into lines, each line language-labeled (d04's SQL-replayable
      // heuristic), and consecutive same-language lines merge into
      // segments via a lag() run-length pass. The window partitions on
      // doc_id — per-document state, high-cardinality key, the
      // scale-safe direction (ev02's sessionize shape). Alternating
      // docs must report ~4 segments, blocked docs ~2, monolingual
      // pairs 1.
      val a = docs(s, d).select(col("doc_id"), col("text").as("t1"))
      val b = docs(s, d).select((col("doc_id") - 1).as("doc_id"), col("text").as("t2"))
      val p = a.join(b, "doc_id")
      val ls = when(pmod(col("doc_id"), lit(2)) === 0,
          array(col("t1"), col("t1"), col("t2"), col("t2")))
        .otherwise(array(col("t1"), col("t2"), col("t1"), col("t2")))
      val lines = p.select(col("doc_id"), posexplode(ls).as(Seq("pos", "line")))
        .withColumn("lab", TextAnalysis.langIdLabel(col("line")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      lines.withColumn("prev", lag("lab", 1).over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("prev").isNull || col("lab") =!= col("prev"), 1L)
            .otherwise(0L)).as("n_segments"),
          countDistinct(col("lab")).as("n_langs"))
        .orderBy("doc_id")
    },
      // d62's truth: the same generated stopword-hit label logic as
      // [[langIdOracle]], applied per LINE of the interleaved two-doc
      // synth, then a lag() run-length segment count.
      {
        val hits = TextAnalysis.LangStopwords.map { case (lang, sw) =>
          val pat = sw.mkString("\\b(", "|", ")\\b")
          s"len(regexp_extract_all(lower(line), '$pat')) AS ${lang}_h"
        }.mkString(", ")
        val langs = TextAnalysis.LangStopwords.map(_._1)
        val best = "greatest(" + langs.map(_ + "_h").mkString(", ") + ")"
        val pick = langs.map(l => s"WHEN ${l}_h = best AND best > 0 THEN '$l'").mkString(" ")
        s"""WITH p AS (SELECT a.doc_id, a.text AS t1, b.text AS t2
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
        l AS (
          SELECT doc_id, 1 AS pos, t1 AS line FROM p
          UNION ALL SELECT doc_id, 2,
            CASE WHEN doc_id % 2 = 0 THEN t1 ELSE t2 END FROM p
          UNION ALL SELECT doc_id, 3,
            CASE WHEN doc_id % 2 = 0 THEN t2 ELSE t1 END FROM p
          UNION ALL SELECT doc_id, 4, t2 FROM p),
        h AS (SELECT doc_id, pos, line, $hits FROM l),
        b2 AS (SELECT *, $best AS best FROM h),
        s AS (SELECT doc_id, pos,
          CASE WHEN CAST(length(regexp_replace(line, '[^一-鿿]', '', 'g')) AS DOUBLE)
                 >= length(line) * 0.05 THEN 'zh'
               $pick
               ELSE 'und' END AS lab
          FROM b2),
        seg AS (SELECT doc_id, pos, lab,
          lag(lab) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM s)
        SELECT doc_id, count(*) AS n_lines,
          CAST(sum(CASE WHEN prev IS NULL OR lab <> prev THEN 1 ELSE 0 END) AS BIGINT)
            AS n_segments,
          count(DISTINCT lab) AS n_langs
        FROM seg GROUP BY doc_id ORDER BY doc_id"""
      }),

    Gate("d64_quality_classifier", (s, d) => {
      // trained quality classifier (the DCLM / fastText-classifier
      // shape): HashingTF bag-of-words -> MLlib logistic regression,
      // trained on the judge's own keep/drop verdicts (weak
      // supervision — the cheap rule set labels a seed, the model
      // generalizes it), scored back over the corpus. Everything
      // stays distributed: the fit is MLlib's treeAggregate gradient
      // path, the model a broadcast coefficient vector, scoring one
      // projection. Rows inside the 0.05 probability margin report as
      // 'uncertain' rather than letting float jitter flip a class
      // count — the pinned confusion matrix (d20/d30 convention)
      // gates only confident decisions.
      import org.apache.spark.ml.classification.LogisticRegression
      import org.apache.spark.ml.feature.HashingTF
      import org.apache.spark.ml.functions.vector_to_array
      val labeled = docs(s, d).select(col("doc_id"), col("text"),
          (TextFunctions.judgeReason(col("text"), judgeT) === "ok").as("judge_kept"))
        .withColumn("label", when(col("judge_kept"), 1.0).otherwise(0.0))
        // bag-of-words PLUS bucketized stat tokens (len/punct/alpha/
        // non-ws) — the fastText-classifier trick for rules that live
        // in character statistics, not word identity; bucket widths
        // chosen so the judge's thresholds fall on bucket boundaries
        .withColumn("words", concat(
          split(lower(col("text")), "\\s+"),
          array(
            concat(lit("len_"), floor(length(col("text")) / 50).cast("string")),
            concat(lit("punct_"),
              floor(TextFunctions.punctRatio(col("text")) * 40).cast("string")),
            concat(lit("alpha_"),
              floor(TextFunctions.alphaCjkRatio(col("text")) * 20).cast("string")),
            concat(lit("nws_"),
              floor(TextFunctions.nonWsRatio(col("text")) * 20).cast("string")))))
      val feat = new HashingTF().setInputCol("words").setOutputCol("features")
        .setNumFeatures(1 << 12).transform(labeled)
      val model = new LogisticRegression()
        .setMaxIter(25).setRegParam(0.01).fit(feat)
      model.transform(feat)
        .withColumn("p_keep", vector_to_array(col("probability"))(1))
        .withColumn("model_pred",
          when(col("p_keep") > 0.55, "keep")
            .when(col("p_keep") < 0.45, "drop")
            .otherwise("uncertain"))
        .groupBy("judge_kept", "model_pred")
        .agg(count(lit(1)).as("n"))
        .orderBy("judge_kept", "model_pred")
    },
      // Same integer z^2 algebra; sums cast back from DuckDB's HUGEINT.
      // Pinned at sf0.01 (d20/d30 convention): the MLlib LR fit is
      // deterministic at a fixed partitioning, and the 0.05 probability
      // margin keeps float jitter out of the confident counts. The
      // model reproduces the judge on 476/500 docs with 8 confident
      // disagreements and 16 abstentions.
      """SELECT CAST(k AS BOOLEAN) AS judge_kept, p AS model_pred,
           CAST(n0 AS BIGINT) AS n
         FROM (VALUES
           (FALSE, 'drop', 243), (FALSE, 'keep', 7), (FALSE, 'uncertain', 14),
           (TRUE, 'drop', 1), (TRUE, 'keep', 233), (TRUE, 'uncertain', 2)
         ) AS t(k, p, n0)
         ORDER BY judge_kept, model_pred"""),

    Gate("d71_license_filter", (s, d) => {
      // license-hygiene filtering (the code/document-corpus curation
      // rule): license markers injected on doc_id strata, classified
      // by the standard marker regexes (SPDX tag, Apache header,
      // all-rights-reserved), and the keep decision recorded —
      // restrictive-licensed docs leave the training corpus. One
      // zero-shuffle projection; both engines run RE2-safe patterns.
      val lic = when(col("doc_id") % 11 === 0,
          lit(" Licensed under the Apache License, Version 2.0 "))
        .when(col("doc_id") % 11 === 1,
          lit(" SPDX-License-Identifier: MIT "))
        .when(col("doc_id") % 11 === 2, lit(" All Rights Reserved. "))
        .otherwise(lit(" "))
      val t = concat(substring(col("text"), 1, 40), lic,
        substring(col("text"), 41, 40))
      docs(s, d).select(col("doc_id"), t.as("t"))
        .withColumn("license",
          when(col("t").rlike("SPDX-License-Identifier: MIT"), "mit")
            .when(col("t").rlike("Apache License, Version 2\\.0"), "apache-2.0")
            .when(col("t").rlike("(?i)all rights reserved"), "restrictive")
            .otherwise("none"))
        .withColumn("kept", col("license") =!= "restrictive")
        .select("doc_id", "license", "kept")
        .orderBy("doc_id")
    },
      """WITH t0 AS (SELECT doc_id,
           substr(text, 1, 40) ||
           (CASE CAST(doc_id % 11 AS INTEGER)
              WHEN 0 THEN ' Licensed under the Apache License, Version 2.0 '
              WHEN 1 THEN ' SPDX-License-Identifier: MIT '
              WHEN 2 THEN ' All Rights Reserved. '
              ELSE ' ' END) ||
           substr(text, 41, 40) AS t
         FROM documents),
         lab AS (SELECT doc_id,
           CASE WHEN regexp_matches(t, 'SPDX-License-Identifier: MIT') THEN 'mit'
                WHEN regexp_matches(t, 'Apache License, Version 2\.0') THEN 'apache-2.0'
                WHEN regexp_matches(t, '(?i)all rights reserved') THEN 'restrictive'
                ELSE 'none' END AS license
         FROM t0)
         SELECT doc_id, license, license <> 'restrictive' AS kept
         FROM lab ORDER BY doc_id"""),

    Gate("d73_wide_lid", (s, d) => {
      // M1 closure: the COMMITTED 48-language artifact (fixtures/
      // models/lid48, written by graft.tools.TrainLidArtifact — char-
      // 3gram NB over all the major script families: CJK, Cyrillic,
      // Greek, Arabic, Hebrew, wide Latin) predicts over a fresh
      // 48-language synth drawn with a DIFFERENT hash salt, so train
      // and eval share vocabulary but no draw positions. Confusion
      // matrix pinned at sf0.01 (d20 convention): clean diagonal
      // across scripts, with whatever near-form confusion the
      // Scandinavian trio (da/no/sv) really exhibits — a measured
      // error surface, not a toy-separable one (d25 precedent).
      val path = TrainedLid.defaultArtifactPath.getOrElse(
        sys.error(s"missing committed artifact ${TrainedLid.DefaultArtifactDir}"))
      val model = TrainedLid.loadModel(s, path)
      val ids = docs(s, d).select("doc_id")
      val synth = TrainedLid.synthFixture(ids,
        wordLists = TrainedLid.WideFixtureWordLists, salt = "we")
      TrainedLid.predict(synth, "text", model)
        .groupBy(col("lang"), col("lang_pred_model"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred_model")
    },
      // Pinned at sf0.01 (d20 convention): the committed 48-language
      // artifact is all-diagonal on the salt-disjoint eval draw — at 30
      // words/doc even the Scandinavian near-forms accumulate enough
      // distinctive-gram evidence. Re-pin on fixture/artifact/SF change.
      """SELECT lang, lang_pred_model, CAST(n_dec AS BIGINT) AS n FROM (VALUES
           ('ar', 'ar', 11), ('bg', 'bg', 10), ('bn', 'bn', 10),
           ('ca', 'ca', 10), ('cs', 'cs', 11), ('da', 'da', 11),
           ('de', 'de', 11), ('el', 'el', 11), ('en', 'en', 11),
           ('es', 'es', 11), ('et', 'et', 10), ('fa', 'fa', 10),
           ('fi', 'fi', 11), ('fr', 'fr', 11), ('he', 'he', 11),
           ('hi', 'hi', 10), ('hr', 'hr', 10), ('hu', 'hu', 11),
           ('hy', 'hy', 10), ('id', 'id', 10), ('it', 'it', 11),
           ('ja', 'ja', 11), ('ka', 'ka', 10), ('ko', 'ko', 11),
           ('lt', 'lt', 10), ('lv', 'lv', 10), ('mr', 'mr', 10),
           ('ms', 'ms', 10), ('nl', 'nl', 11), ('no', 'no', 11),
           ('pl', 'pl', 11), ('pt', 'pt', 11), ('ro', 'ro', 11),
           ('ru', 'ru', 10), ('sk', 'sk', 10), ('sl', 'sl', 10),
           ('sr', 'sr', 10), ('sv', 'sv', 11), ('sw', 'sw', 10),
           ('ta', 'ta', 10), ('te', 'te', 10), ('th', 'th', 10),
           ('tl', 'tl', 10), ('tr', 'tr', 10), ('uk', 'uk', 10),
           ('ur', 'ur', 10), ('vi', 'vi', 10), ('zh', 'zh', 10)
         ) AS t(lang, lang_pred_model, n_dec)
         ORDER BY lang, lang_pred_model"""),

    Gate("d74_bigram_ppl_capped", (s, d) => {
      // d34's LM with the count-pruning cap ENGAGED: the fixture
      // exhibits 916 distinct bigrams at V=64, so maxBigrams=256
      // demonstrably binds — the driver-side table is top-256 by
      // (count DESC, bigram ASC) and every dropped tail bigram scores
      // as unseen under add-one smoothing (the KenLM-style pruning
      // trade trainBigramLm documents). Scoring stays the same
      // zero-shuffle position-order fold; the oracle replays the
      // identical top-256 cut in SQL before building its bigram map.
      val all = docs(s, d)
      val lm = TextAnalysis.trainBigramLm(all, "text", vocabSize = 64,
        maxBigrams = 256)
      TextAnalysis.bigramPerplexity(all.select("doc_id", "text"), "text", lm)
        .select("doc_id", "n_bigrams", "avg_logp", "ppl")
        .orderBy("doc_id")
    },
      // d34's CTEs with the top-256 (count DESC, bigram ASC) pruning cut
      // applied before the bigram map — the cap binds (916 distinct
      // bigrams on the fixture), so these ppl values provably differ
      // from d34's unless both engines replay the same cut.
      (bigramPplOracleCtes(256) +
      """
         SELECT doc_id, CAST(n - 1 AS BIGINT) AS n_bigrams,
           round(lsum / (n - 1), 6) AS avg_logp,
           round(exp(-(lsum / (n - 1))), 4) AS ppl
         FROM scored ORDER BY doc_id""")),

    Gate("d76_c4_badwords", (s, d) => {
      // C4's word-blocklist page rule (the §2.2 battery member d42
      // doesn't carry): any case-folded token on the list drops the
      // whole page. Fixture list = {"dup", "leak"}: 'dup' binds on 25
      // of 500 docs at the gate SF (a rare-word split, not a
      // degenerate wipe), 'leak' never occurs (the no-match member).
      // The real pipeline's external list is injectable through the
      // same parameter — the documented zero-egress substitution.
      docs(s, d)
        .select(col("doc_id"),
          TextFunctions.c4BadwordKeep(col("text"), Seq("dup", "leak"))
            .as("c4_badword_keep"))
        .orderBy("doc_id")
    },
      // Same 24-char-slice line synth as the Spark side (CASE precedence:
      // brace line 2 / lorem line 3 override the %3 punctuation rule);
      // the C4 battery itself is the filter + the two page flags.
      """SELECT doc_id,
           NOT list_has_any(
             string_split(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), ' '),
             ['dup', 'leak']) AS c4_badword_keep
         FROM documents ORDER BY doc_id"""),

    Gate("d77_trigram_backoff_ppl", (s, d) => {
      // Stupid-backoff trigram scoring (Brants et al. 2007) — the
      // distributed-LM counterpart of d34's smoothed bigram: backoff
      // scores need NO normalization pass, so the count tables build
      // in one vocab-collapsed shuffle per order at any corpus size.
      // The LM trains on the EVEN doc_ids and scores ALL docs, so the
      // held-out half demonstrably exercises every backoff level
      // (seen trigram / 0.4-discounted bigram / add-one unigram
      // floor); scoring is the same zero-shuffle position-order fold
      // as d34 — one hashed-table codegen expression per row.
      val all = docs(s, d)
      val lm = TextAnalysis.trainBackoffLm(
        all.filter(col("doc_id") % 2 === 0), "text", vocabSize = 64)
      TextAnalysis.backoffPerplexity(all.select("doc_id", "text"), "text", lm)
        .select("doc_id", "n_trigrams", "avg_logp", "ppl")
        .orderBy("doc_id")
    },
      // d34's CTE conventions with the stupid-backoff three-level CASE;
      // the count CTEs see only the even-doc training split, the scoring
      // fold sees every doc. Every arithmetic expression mirrors the
      // driver-side StrictMath.log terms token-for-token.
      """WITH t AS (SELECT doc_id,
             string_split_regex(lower(trim(text)), '\s+') AS toks
           FROM documents),
         tr AS (SELECT toks FROM t WHERE doc_id % 2 = 0),
         uni AS (SELECT w, count(*) AS c
           FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY w),
         vocab AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 64),
         stats AS (SELECT (SELECT sum(c) FROM uni) AS n,
                          (SELECT sum(c) FROM uni) - (SELECT sum(c) FROM vocab) AS unk_c,
                          (SELECT count(*) FROM vocab) AS v),
         vm AS (SELECT map_from_entries(list({'k': w, 'v': c} ORDER BY w)) AS m FROM vocab),
         tmr AS (SELECT list_transform(toks, x -> CASE WHEN len(map_extract(m, x)) > 0
               THEN x ELSE chr(1) END) AS tu
           FROM tr, vm),
         big AS (SELECT bg, count(*) AS c FROM
             (SELECT unnest(list_transform(range(1, len(tu)),
                i -> tu[i] || ' ' || tu[i+1])) AS bg FROM tmr)
           GROUP BY bg),
         bm AS (SELECT map_from_entries(list({'k': bg, 'v': c} ORDER BY bg)) AS bmap FROM big),
         tri AS (SELECT tg, count(*) AS c FROM
             (SELECT unnest(list_transform(range(1, len(tu) - 1),
                i -> tu[i] || ' ' || tu[i+1] || ' ' || tu[i+2])) AS tg
              FROM tmr WHERE len(tu) >= 3)
           GROUP BY tg),
         trm AS (SELECT map_from_entries(list({'k': tg, 'v': c} ORDER BY tg)) AS tmap FROM tri),
         tm AS (SELECT doc_id, list_transform(toks, x -> CASE WHEN len(map_extract(m, x)) > 0
               THEN x ELSE chr(1) END) AS tu
           FROM t, vm),
         scored AS (
           SELECT doc_id, len(tu) AS nt,
             CASE WHEN len(tu) >= 3 THEN
               list_reduce(list_transform(range(2, len(tu)), i ->
                 CASE WHEN len(map_extract(tmap, tu[i-1] || ' ' || tu[i] || ' ' || tu[i+1])) > 0
                   THEN ln(CAST(map_extract(tmap, tu[i-1] || ' ' || tu[i] || ' ' || tu[i+1])[1] AS DOUBLE)
                         / CAST(map_extract(bmap, tu[i-1] || ' ' || tu[i])[1] AS DOUBLE))
                 WHEN len(map_extract(bmap, tu[i] || ' ' || tu[i+1])) > 0
                   THEN ln(0.4 * (CAST(map_extract(bmap, tu[i] || ' ' || tu[i+1])[1] AS DOUBLE)
                         / CAST(CASE WHEN tu[i] = chr(1) THEN unk_c
                                ELSE map_extract(m, tu[i])[1] END AS DOUBLE)))
                 ELSE ln(0.16 * ((CAST(CASE WHEN tu[i+1] = chr(1) THEN unk_c
                                  ELSE map_extract(m, tu[i+1])[1] END AS DOUBLE) + 1.0)
                         / (CAST(n AS DOUBLE) + CAST(v AS DOUBLE) + 1.0)))
                 END), (a, b) -> a + b)
             ELSE NULL END AS lsum
           FROM tm, vm, bm, trm, stats)
         SELECT doc_id, CAST(greatest(nt - 2, 0) AS BIGINT) AS n_trigrams,
           round(lsum / (nt - 2), 6) AS avg_logp,
           round(exp(-(lsum / (nt - 2))), 4) AS ppl
         FROM scored ORDER BY doc_id"""),

    Gate("d83_compression_quality", (s, d) =>
      // the zlib-redundancy quality signal (the cheap filter used
      // beside the Gopher n-gram fractions): per-source doc counts,
      // mean deflate ratio, and how many docs compress below 0.45 —
      // template-heavy suspects on this fixture (corpus range
      // 0.40..1.02). The per-doc ratio is a codegen'd custom
      // Expression (one streaming deflate pass, count-only); ratios
      // enter aggregation as ROUNDED integer micros so the sums are
      // exact longs — partial-agg reordering can never flip a bit
      // (the q29 integer-cents rule). Deterministic for the JVM's
      // bundled zlib at a fixed level -> pinned oracle (d20
      // convention).
      docs(s, d).select(col("source"),
          round(HashFunctions.deflateRatio(col("text")) * 1e6, 0)
            .cast("long").as("rm"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("rm").as("sum_micro"),
          sum(when(col("rm") < 450000L, 1L).otherwise(0L)).as("n_boilerplate"))
        .select(col("source"), col("n_docs"),
          (col("sum_micro") / col("n_docs")).cast("long").as("avg_ratio_micro"),
          col("n_boilerplate"))
        .orderBy("source"),
      // Pinned at sf0.01 (d20 convention): per-source zlib-redundancy
      // stats — deterministic for the JVM's bundled zlib at level 6;
      // sums are exact integer micros. Re-pin on fixture/SF/zlib change.
      // Pinned against: OpenJDK 17.0.20 (Debian, java.util.zip on
      // zlib 1.2.13) — a JDK whose Deflater output drifts (zlib 1.3 /
      // zlib-ng) changes every micro; the ORDER invariants
      // (repetitive < prose < random) in TextAnalysisSpec stay the
      // version-proof part of the evidence, this pin is the exact part.
      """SELECT source, CAST(n AS BIGINT) AS n_docs,
           CAST(avg_m AS BIGINT) AS avg_ratio_micro,
           CAST(nb AS BIGINT) AS n_boilerplate FROM (VALUES
           ('src0', 25, 526423, 6), ('src1', 25, 510650, 9),
           ('src10', 25, 566469, 5), ('src11', 25, 513438, 4),
           ('src12', 25, 574775, 4), ('src13', 25, 519707, 11),
           ('src14', 25, 569909, 6), ('src15', 25, 573890, 6),
           ('src16', 25, 582646, 6), ('src17', 25, 536339, 4),
           ('src18', 25, 551782, 5), ('src19', 25, 605740, 4),
           ('src2', 25, 543746, 7), ('src3', 25, 552183, 8),
           ('src4', 25, 562853, 5), ('src5', 25, 570099, 3),
           ('src6', 25, 585217, 7), ('src7', 25, 524650, 8),
           ('src8', 25, 584714, 5), ('src9', 25, 534333, 6)
         ) AS t(source, n, avg_m, nb) ORDER BY source"""),

    Gate("d84_fasttext_lid", (s, d) => {
      // the REAL fastText .bin seam (reference quality/model.py:267-340
      // loads lid.176.bin and predicts (label, prob) per text): build a
      // tiny supervised .bin fixture in the PUBLIC file format —
      // Scandinavian da/no/sv wordlists, whose shared function words
      // ("og", "efter", "som", "ikke") give a genuine confusion
      // surface; each word's embedding is its language-membership
      // vector, each label's output row selects its language — then
      // score the synthesized labeled fixture THROUGH the loader
      // (FastTextBin.read -> predictDf, the same code path
      // QualityStep's lidModelPath takes for *.bin). Per-row float
      // math in fixed order + exact count aggregates = a
      // partitioning-invariant confusion matrix, pinned at sf0.01
      // (d20 convention).
      // ONE ordered structure drives both the embedding dims and the
      // label rows — a second independently-ordered list here once
      // rotated every prediction by one language
      val lists = TrainedLid.WideFixtureWordLists
        .filter(w => Set("da", "no", "sv")(w._1)).sortBy(_._1)
      val langs = lists.map(_._1)
      val words = lists.flatMap(_._2).distinct.sorted
      val dim = 8
      def emb(w: String): Array[Float] = {
        val v = new Array[Float](dim)
        lists.zipWithIndex.foreach { case ((_, ws), li) =>
          if (ws.contains(w)) v(li) = 1.0f }
        v
      }
      val labelRows = langs.zipWithIndex.map { case (l, li) =>
        val v = new Array[Float](dim); v(li) = 2.0f
        (s"__label__$l", v)
      }
      val dir = java.nio.file.Files.createTempDirectory("ftbin")
      val path = dir.resolve("lid_fixture.bin").toString
      FastTextBin.write(path, dim = dim, bucket = 64, minn = 0, maxn = 0,
        wordNgrams = 1,
        wordRows = (FastTextBin.Eos -> new Array[Float](dim)) +:
          words.map(w => w -> emb(w)),
        labelRows = labelRows)
      val m = FastTextBin.read(path)
      // FOUR words per doc: short texts let the shared-function-word
      // draws genuinely flip minority docs (wordsPerDoc=30 saturates
      // every doc to its own language and the matrix degenerates to a
      // diagonal), and the 2.0 logit scale keeps softmax probs off 1.0
      // so the n_confident >= 0.5 cut separates clear from marginal
      val fx = TrainedLid.synthFixture(docs(s, d).select("doc_id"),
        wordLists = lists, salt = "ft", wordsPerDoc = 4)
      FastTextBin.predictDf(fx, "text", m)
        .groupBy(col("lang"), col("lang_pred_ft").as("pred"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang_prob_ft") >= 0.5, 1L).otherwise(0L)).as("n_confident"))
        .orderBy("lang", "pred")
    },
      // Pinned at sf0.01 (d20 convention): the .bin-loaded fastText
      // fixture's confusion matrix over the Scandinavian synth — shared
      // function words genuinely flip 5 docs cross-language and push 9
      // marginal da docs under the 0.5-prob confidence cut. Per-row
      // fixed-order float math + exact count aggregates = constants of
      // (fixture, SF); re-pin on fixture/SF change.
      """SELECT lang, pred, CAST(n_dec AS BIGINT) AS n,
           CAST(nc_dec AS BIGINT) AS n_confident FROM (VALUES
           ('da', '__label__da', 167, 158),
           ('no', '__label__da', 1, 0), ('no', '__label__no', 166, 166),
           ('sv', '__label__da', 4, 0), ('sv', '__label__sv', 162, 162)
         ) AS t(lang, pred, n_dec, nc_dec)
         ORDER BY lang, pred"""),

    Gate("d85_fasttext_ftz", (s, d) => {
      // the QUANTIZED fastText seam (.ftz — the compressed form the
      // public lid model is also distributed in): d84's exact fixture
      // written through writeQuantized (product-quantized input AND
      // output matrices; the exact-PQ writer's centroid tables are the
      // distinct sub-vectors, so decode is bit-identical to the dense
      // twin) and scored through the same loader seam. The pinned
      // confusion matrix is therefore d84's — byte-different file
      // format, identical predictions — which makes any quant-path
      // decode defect a visible gate diff.
      val lists = TrainedLid.WideFixtureWordLists
        .filter(w => Set("da", "no", "sv")(w._1)).sortBy(_._1)
      val words = lists.flatMap(_._2).distinct.sorted
      val dim = 8
      def emb(w: String): Array[Float] = {
        val v = new Array[Float](dim)
        lists.zipWithIndex.foreach { case ((_, ws), li) =>
          if (ws.contains(w)) v(li) = 1.0f }
        v
      }
      val labelRows = lists.map(_._1).zipWithIndex.map { case (l, li) =>
        val v = new Array[Float](dim); v(li) = 2.0f
        (s"__label__$l", v)
      }
      val dir = java.nio.file.Files.createTempDirectory("ftz")
      val path = dir.resolve("lid_fixture.ftz").toString
      FastTextBin.writeQuantized(path, dim = dim, bucket = 64, minn = 0,
        maxn = 0, wordNgrams = 1,
        wordRows = (FastTextBin.Eos -> new Array[Float](dim)) +:
          words.map(w => w -> emb(w)),
        labelRows = labelRows,
        qnorm = false, qout = true)
      val m = FastTextBin.read(path)
      val fx = TrainedLid.synthFixture(docs(s, d).select("doc_id"),
        wordLists = lists, salt = "ft", wordsPerDoc = 4)
      FastTextBin.predictDf(fx, "text", m)
        .groupBy(col("lang"), col("lang_pred_ft").as("pred"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("lang_prob_ft") >= 0.5, 1L).otherwise(0L)).as("n_confident"))
        .orderBy("lang", "pred")
    },
      // d85 pins d84's matrix verbatim: the .ftz fixture is the exact-PQ
      // quantization of d84's .bin (decode is bit-identical), so the two
      // file formats MUST reach the same confusion matrix — a quant-path
      // divergence shows as a diff against this shared pin
      """SELECT lang, pred, CAST(n_dec AS BIGINT) AS n,
           CAST(nc_dec AS BIGINT) AS n_confident FROM (VALUES
           ('da', '__label__da', 167, 158),
           ('no', '__label__da', 1, 0), ('no', '__label__no', 166, 166),
           ('sv', '__label__da', 4, 0), ('sv', '__label__sv', 162, 162)
         ) AS t(lang, pred, n_dec, nc_dec)
         ORDER BY lang, pred""")
  )
}
