package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-cleaning and text-analysis functions, all as native Spark Column
  * expressions (whole-stage-codegen'd — no UDFs in the hot path).
  *
  * Semantics mirror the reference's clean rules
  * (reference: src/llm_data_pipeline/clean/rules.py:12-113) and ingest
  * normalization (reference: src/llm_data_pipeline/ingest/step.py:25-32),
  * re-expressed as Catalyst expressions so that Spark can push them into
  * whole-stage codegen and evaluate them per-row without serialization
  * overhead — the scaling path for a 100 TB text corpus.
  */
object TextFunctions {

  /** F1 — newline normalize: \r\n|\r -> \n, trim, collapse 3+ \n to 2.
    * (reference: src/llm_data_pipeline/ingest/step.py:25-32) */
  def normalizeNewlines(c: Column): Column =
    regexp_replace(regexp_replace(trim(c), "\r\n?", "\n"), "\n{3,}", "\n\n")

  /** F2 — whitespace flatten: `" ".join(text.split())`.
    * (reference: src/llm_data_pipeline/quality/model.py:130-132) */
  def flattenWhitespace(c: Column): Column =
    regexp_replace(trim(c), "\\s+", " ")

  /** Normalized form used for fingerprinting / shingling: lowercase +
    * whitespace-flattened. (reference: src/llm_data_pipeline/dedup/minhash.py:16-25) */
  def normalizeForDedup(c: Column): Column =
    lower(flattenWhitespace(c))

  /** Java regex `\s` is exactly [ \t\n\x0B\f\r] — NOT
    * Character.isWhitespace, which also matches U+001C-1F and the
    * unicode spaces and would change tokenization. */
  @inline private def isWsRegexClass(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** JVM-side whitespace tokenizer, bit-equivalent to
    * `s.split("\\s+")` with empty tokens dropped: the maximal runs of
    * characters outside Java regex's \s class, in order. One pass, no
    * Pattern machinery, no per-call regex compile — the tokenizer hot
    * loops (BPE/unigram/fastText encode, the bench tokenize kernel)
    * call this once per row. Equivalence is property-pinned in
    * TextFunctionsSpec against the regex formulation. */
  def splitWsRuns(text: String): Array[String] = {
    val n = text.length
    val out = scala.collection.mutable.ArrayBuilder.make[String]
    var i = 0
    while (i < n) {
      if (isWsRegexClass(text.charAt(i))) i += 1
      else {
        val start = i
        i += 1
        while (i < n && !isWsRegexClass(text.charAt(i))) i += 1
        out += text.substring(start, i)
      }
    }
    out.result()
  }

  /** Characters the mojibake repairer knows how to un-garble: common
    * Latin-1 accents plus smart punctuation. U+201D (”) is excluded —
    * its UTF-8 tail byte 0x9D is undefined in cp1252, so real-world
    * garbling of it is not byte-stable. */
  private val MojibakeChars: Seq[String] = Seq(
    "é", "è", "ê", "á", "à", "ä", "ö", "ü", "ñ", "ç", "í", "ó", "ú",
    "“", "‘", "’", "–", "—", "…", "°")

  /** (garbled, clean) pairs, longest garbled form first — derived, not
    * hand-typed: the garbled form IS the character's UTF-8 bytes
    * re-decoded as windows-1252, the classic double-encoding accident
    * (ftfy's core case). Correct by construction on both sides of the
    * oracle, since the SQL chain is generated from this same table. */
  val MojibakeTable: Seq[(String, String)] = MojibakeChars
    .map { c =>
      (new String(c.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        java.nio.charset.Charset.forName("windows-1252")), c)
    }
    .sortBy { case (m, _) => (-m.length, m) }

  /** Repair UTF-8-as-cp1252 double-encoding damage ("Ã©" → "é",
    * "â€™" → "’") — a fixed chain of literal replaces, longest pattern
    * first so 3-byte garbles never half-match behind 2-byte ones.
    * Zero shuffle, no UDF. */
  def fixMojibake(c: Column): Column =
    MojibakeTable.foldLeft(c) { case (acc, (m, clean)) =>
      replace(acc, lit(m), lit(clean))
    }

  /** The damage direction, for fixtures and the gate's synthesis:
    * clean chars → their garbled forms. Application order DOES matter —
    * a garbled form can embed another entry's clean char (corrupting
    * '–' emits a '“'), so the table order must corrupt the embedded
    * char first. That property is asserted at load below, not assumed. */
  private[graft] def corruptMojibake(c: Column): Column =
    MojibakeTable.foldLeft(c) { case (acc, (m, clean)) =>
      replace(acc, lit(clean), lit(m))
    }

  // Ordering safety is CHECKED once at class load over the whole table
  // (plain-String replace has the same replace-all left-to-right
  // semantics as the Column `replace` the operators fold): if a future
  // table entry's garbled form embeds a clean char that corrupts after
  // it, this require fails the build's first test instead of silently
  // breaking the w03 roundtrip gate.
  locally {
    val clean = MojibakeChars.mkString(" ")
    val corrupted = MojibakeTable.foldLeft(clean) {
      case (acc, (m, c)) => acc.replace(c, m)
    }
    val repaired = MojibakeTable.foldLeft(corrupted) {
      case (acc, (m, c)) => acc.replace(m, c)
    }
    require(repaired == clean,
      "mojibake table ordering does not roundtrip; reorder or drop the new char")
  }

  /** HTML → text extraction — the raw-crawl ingest stage the
    * reference's WET path never needs (WET records arrive
    * pre-extracted, reference: src/llm_data_pipeline/ingest/
    * step.py:41-98); a pipeline fed WARC/HTML does. One fixed chain of
    * codegen'd regexp/replace passes, zero shuffle, and every pattern
    * is RE2-safe (inline (?is)/(?i) flags, lazy quantifiers, no
    * lookaround) so an external SQL engine reproduces the extraction
    * byte-for-byte:
    * comments and script/style subtrees drop (content AND markup),
    * block-level closers become newlines, remaining tags drop, the
    * five core entities unescape, then per-line whitespace collapses
    * and 3+ blank lines fold (the F1/F2 conventions). */
  def htmlToText(c: Column): Column = {
    val noComment = regexp_replace(c, "(?s)<!--.*?-->", "")
    val noScript = regexp_replace(noComment,
      "(?is)<(script|style)\\b[^>]*>.*?</(script|style)\\s*>", "")
    val blocksToNl = regexp_replace(noScript,
      "(?i)<(br\\s*/?|/p|/div|/h[1-6]|/li|/tr|/table|/blockquote)\\s*>", "\n")
    val noTags = regexp_replace(blocksToNl, "(?s)<[^>]*>", "")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    // &amp; LAST so "&amp;lt;" decodes to the literal "&lt;", not "<"
    val unescaped = entities.foldLeft(noTags) { case (acc, (e, r)) =>
      regexp_replace(acc, e, r)
    }
    val lineCollapsed = regexp_replace(
      regexp_replace(unescaped, "[ \\t\\x0B\\f\\r]+", " "),
      " ?\n ?", "\n")
    // \s-aware edge strip — plain trim() leaves newlines in place
    val stripped = regexp_replace(
      regexp_replace(lineCollapsed, "^\\s+", ""), "\\s+$", "")
    regexp_replace(stripped, "\n{3,}", "\n\n")
  }

  /** F3 — non-whitespace ratio: count(\S)/len; empty -> 0.0.
    * (reference: src/llm_data_pipeline/clean/rules.py:12,66) */
  def nonWsRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(length(regexp_replace(c, "\\s", "")).cast("double") / length(c))

  /** F4 — alpha+CJK ratio. (reference: src/llm_data_pipeline/clean/rules.py:13-14,67) */
  def alphaCjkRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(
        (length(c) - length(regexp_replace(c, "[A-Za-z\\x{4e00}-\\x{9fff}]", "")))
          .cast("double") / length(c))

  /** F5 — punctuation ratio: count([^\w\s CJK])/len.
    * (reference: src/llm_data_pipeline/clean/rules.py:15,68) */
  def punctRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(
        (length(c) - length(regexp_replace(c, "[^\\w\\s\\x{4e00}-\\x{9fff}]", "")))
          .cast("double") / length(c))

  /** Digit ratio — extra quality signal beyond the reference's rule set. */
  def digitRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise(
        (length(c) - length(regexp_replace(c, "[0-9]", ""))).cast("double") / length(c))

  /** F6 — duplicate-line ratio: split lines, trim, drop blanks; <5 lines
    * -> 0.0; else (# lines whose trimmed form occurs >1 times)/lines.
    * Pure higher-order-function implementation (no UDF): count, for each
    * line, whether its frequency in the full array is > 1.
    * (reference: src/llm_data_pipeline/clean/rules.py:72-81) */
  def dupLineRatio(c: Column): Column = {
    val lines = filter(transform(split(c, "\n"), l => trim(l)), l => length(l) > 0)
    // count lines whose value occurs more than once: sort, then a line is
    // duplicated iff it equals its sorted predecessor or successor -
    // O(n log n) instead of the naive O(n^2) per-row scan
    val sorted = sort_array(lines)
    val n = size(sorted)
    val prev = concat(array(lit(null).cast("string")), slice(sorted, lit(1), n - 1))
    val next = concat(slice(sorted, lit(2), n), array(lit(null).cast("string")))
    val eqPrev = zip_with(sorted, prev, (a, b) => a <=> b)
    val eqNext = zip_with(sorted, next, (a, b) => a <=> b)
    val dupCount = aggregate(zip_with(eqPrev, eqNext, (a, b) => a || b),
      lit(0), (acc, x) => acc + when(x, 1).otherwise(0))
    when(n < 5, lit(0.0)).otherwise(dupCount.cast("double") / n)
  }

  /** Rule thresholds (reference: src/llm_data_pipeline/clean/rules.py:84-113
    * defaults). */
  case class CleanThresholds(
      minChars: Int = 200,
      maxChars: Int = 200000,
      minNonWs: Double = 0.6,
      minAlphaCjk: Double = 0.4,
      maxPunct: Double = 0.3,
      maxDupLine: Double = 0.3)

  /** F7 — ordered short-circuit judge over a text's length and its
    * four metrics ([[nonWsRatio]], [[alphaCjkRatio]], [[punctRatio]],
    * [[dupLineRatio]]): returns the drop reason column ("ok" if kept).
    * Evaluation order matches the reference exactly:
    * too_short -> too_long -> too_sparse -> low_language_signal ->
    * too_much_punct -> dup_lines -> ok.
    * (reference: src/llm_data_pipeline/clean/rules.py:84-113) */
  def judgeMetrics(len: Column, nonWs: Column, alphaCjk: Column, punct: Column,
                   dupLine: Column, t: CleanThresholds): Column =
    when(len < t.minChars, "too_short")
      .when(len > t.maxChars, "too_long")
      .when(nonWs < t.minNonWs, "too_sparse")
      .when(alphaCjk < t.minAlphaCjk, "low_language_signal")
      .when(punct > t.maxPunct, "too_much_punct")
      .when(dupLine > t.maxDupLine, "dup_lines")
      .otherwise("ok")

  /** [[judgeMetrics]] over freshly computed metrics of `text`. */
  def judgeReason(text: Column, t: CleanThresholds = CleanThresholds()): Column =
    judgeMetrics(length(text), nonWsRatio(text), alphaCjkRatio(text), punctRatio(text),
      dupLineRatio(text), t)

  /** Whitespace token count: number of \s+-separated tokens; empty/blank -> 0. */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(split(trim(c), "\\s+")))

  /** BPE-ish subword-unit estimate: word-pieces + digits + punctuation
    * runs, a cheap proxy for tokenizer token counts (public rule of
    * thumb: tokens ~ words + punct). */
  def tokenCountBpeIsh(c: Column): Column =
    when(length(trim(c)) === 0, lit(0))
      .otherwise(size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0))))

  /** Average token length over whitespace tokens; 0 tokens -> 0.0. */
  def meanTokenLen(c: Column): Column = {
    val toks = tokenCount(c)
    when(toks === 0, lit(0.0))
      .otherwise(length(regexp_replace(c, "\\s", "")).cast("double") / toks)
  }

  /** CJK character presence (reference: src/llm_data_pipeline/pii/run.py:170-179). */
  def hasCjk(c: Column): Column = c.rlike("[\\x{4e00}-\\x{9fff}]")

  /** Heuristic quality score in [0,1]: blend of language signal,
    * whitespace sanity, punctuation sanity and length, in the spirit of
    * the reference's rule metrics (clean/rules.py) but as one scalar.
    * Deterministic and SQL-expressible (oracle-checkable). */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c).cast("double") / 500.0, lit(1.0))
    val langScore = alphaCjkRatio(c)
    val wsScore = nonWsRatio(c)
    val punctPenalty = least(punctRatio(c) * 2.0, lit(1.0))
    round(greatest(lit(0.0),
      lenScore * 0.25 + langScore * 0.35 + wsScore * 0.25 + (lit(1.0) - punctPenalty) * 0.15), 6)
  }

  /** Document fingerprint: md5 of the dedup-normalized text. Exact-dup
    * detection key; stable across engines (md5 is bit-defined). */
  def fingerprintMd5(c: Column): Column = md5(normalizeForDedup(c))

  /** Word shingles (n-grams of whitespace tokens) as an array column.
    * Built as a zip_with fold over n shifted slices of the token array —
    * O(n) array operations per row instead of a slice per output index. */
  def wordShingles(c: Column, n: Int): Column = {
    val toks = split(normalizeForDedup(c), " ")
    val outLen = size(toks) - (n - 1)
    val shifted = (0 until n).map(i => slice(toks, lit(i + 1), outLen))
    val joined = shifted.reduce((acc, next) =>
      zip_with(acc, next, (a, b) => concat(a, lit(" "), b)))
    when(size(toks) < n, array(normalizeForDedup(c))).otherwise(joined)
  }

  /** Word shingles as 64-bit HASHES, never materializing the n-gram
    * strings: each token is xxhash64'd once, then n shifted slices of
    * the hash array fold pairwise through xxhash64(a, b) — an
    * order-sensitive, codegen'd combiner (no raw long arithmetic: ANSI
    * mode, Spark 4's default, throws on wrapping multiply) — the cheap
    * path for per-row multiplicity/distinct statistics, where building
    * concatenated strings dominates the interpreted-HOF cost. Counts
    * over these
    * hashes equal counts over the true shingles modulo 64-bit
    * collisions (~n²/2⁶⁴ per doc — the x06 convention). Shorter-than-n
    * docs yield the whole-text hash as the single element, mirroring
    * [[wordShingles]]. */
  def wordShingleHashes(c: Column, n: Int): Column =
    wordShingleHashesFrom(tokenHashes(c), normalizeForDedup(c), n)

  /** One xxhash64 per whitespace token of the normalized text — stage
    * this ONCE when several shingle widths are needed from the same
    * text (each [[wordShingleHashesFrom]] then reuses the pass). */
  def tokenHashes(c: Column): Column =
    tokenHashesFromNormalized(normalizeForDedup(c))

  /** [[tokenHashes]] over an already-normalized column (stage the
    * normalization once when several consumers share it). */
  def tokenHashesFromNormalized(normalized: Column): Column =
    transform(split(normalized, " "), t => xxhash64(t))

  /** [[wordShingleHashes]] over a pre-staged token-hash array;
    * `normalized` supplies the shorter-than-n whole-text fallback. */
  def wordShingleHashesFrom(tokHashes: Column, normalized: Column, n: Int): Column = {
    val outLen = size(tokHashes) - (n - 1)
    val shifted = (0 until n).map(i => slice(tokHashes, lit(i + 1), outLen))
    val mixed = shifted.reduce((acc, next) =>
      zip_with(acc, next, (a, b) => xxhash64(a, b)))
    when(size(tokHashes) < n, array(xxhash64(normalized))).otherwise(mixed)
  }

  /** Char n-gram shingles of an (already normalized) string as an array
    * column; strings shorter than n yield the whole string as the single
    * shingle. Used by the exact-Jaccard verification paths — semantics
    * must stay mirrorable in plain SQL (the dedup oracles recompute it). */
  def charShingles(c: Column, n: Int): Column =
    when(length(c) < n, array(c))
      .otherwise(transform(sequence(lit(1), length(c) - lit(n - 1)),
        i => c.substr(i, lit(n))))

  /** C4 line-keep rule (Raffel et al. 2020 §2.2 — the public "C4"
    * cleaning battery; beyond-reference operator): a line survives iff
    * it ends in terminal punctuation AND carries at least `minWords`
    * whitespace-separated words. Input is an array of lines; output is
    * the surviving sub-array, order preserved. Zero shuffle — a pure
    * projection over the line array. */
  def c4KeptLines(lines: Column, minWords: Int = 3): Column =
    filter(lines, l =>
      l.rlike("[.!?\"']$") && (size(split(trim(l), "\\s+")) >= minWords))

  /** C4 document-level flags over a line array: brace pages (code, not
    * prose) and boilerplate "lorem ipsum" pages are dropped wholesale.
    * Returns (has_brace, has_lorem) as a two-field struct so both flags
    * ride one pass over the array. */
  def c4DocFlags(lines: Column): Column = struct(
    exists(lines, l => instr(l, "{") > 0).as("has_brace"),
    lower(array_join(lines, "\n")).contains("lorem ipsum").as("has_lorem"))

  /** C4 word-blocklist page rule (Raffel et al. 2020 §2.2): a page is
    * dropped wholesale if ANY of its case-folded whitespace tokens is
    * on the blocklist. The published pipeline uses the external "List
    * of Dirty, Naughty, Obscene..." file; the list is a parameter here
    * (injectable exactly like the LID artifact seam) and the gates use
    * a committed fixture list — the documented zero-egress
    * substitution. Pure codegen'd Column (lower → split →
    * arrays_overlap against the literal array): zero shuffle, and the
    * blocklist ships inside the expression, so at any corpus size the
    * cost is one token-set membership pass per row. Returns TRUE when
    * the page is KEPT (no blocklisted token). Null text keeps (no
    * tokens to match), mirroring the other per-row judges. */
  def c4BadwordKeep(text: Column, badwords: Seq[String]): Column =
    !arrays_overlap(
      split(regexp_replace(trim(lower(coalesce(text, lit("")))), "\\s+", " "), " "),
      // Locale.ROOT: Spark's lower() is locale-independent; folding the
      // list with the JVM default locale would mismatch it (tr_TR folds
      // "KILL" to dotless-i "kıll" and the blocklisted page survives)
      lit(badwords.map(_.toLowerCase(java.util.Locale.ROOT)).toArray))
}
