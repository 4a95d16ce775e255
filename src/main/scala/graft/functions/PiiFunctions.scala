package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Structured PII detection / redaction as pure Column expressions.
  *
  * Pattern catalog mirrors the reference's RE2 patterns
  * (reference: src/llm_data_pipeline/pii/run.py:37-67) — all are
  * lookaround-free by design there, so Java regex evaluates them
  * identically. Everything here is codegen-friendly `regexp_replace` /
  * `rlike`; no UDFs, so the whole redaction stage stays inside
  * whole-stage codegen and scales linearly with input bytes.
  */
object PiiFunctions {

  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern  = "\\b(?:(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\.){3}(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])\\b"
  val Ipv6Pattern  = "\\b(?:[0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f]{1,4}\\b"
  val PhonePattern = "\\+?[0-9][0-9()\\-\\s]{7,}[0-9]"
  val SsnPattern   = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  def hasEmail(c: Column): Column = c.rlike(EmailPattern)
  def hasIpv4(c: Column): Column  = c.rlike(Ipv4Pattern)
  def hasPhone(c: Column): Column = c.rlike(PhonePattern)
  def hasSsn(c: Column): Column   = c.rlike(SsnPattern)

  /** Full structured redaction chain — order matters (SSN before phone so
    * the phone pattern cannot eat an SSN; email before IP so hostnames in
    * addresses survive), matching the reference's apply order
    * (reference: src/llm_data_pipeline/pii/run.py:105-125). */
  def redact(c: Column): Column = {
    val s1 = regexp_replace(c, EmailPattern, "<EMAIL>")
    val s2 = regexp_replace(s1, SsnPattern, "<SSN>")
    val s3 = regexp_replace(s2, Ipv4Pattern, "<IP>")
    val s4 = regexp_replace(s3, Ipv6Pattern, "<IP>")
    regexp_replace(s4, PhonePattern, "<PHONE>")
  }

  /** Stable pseudonymization: replace EACH email occurrence with a
    * deterministic token derived from that value ('user_' + first 8
    * hex chars of md5(lower(email))), so identity JOINS keep working
    * across a de-identified corpus — redaction destroys linkability,
    * pseudonymization preserves it. Per-match rewriting: the text is
    * split on the email pattern and re-joined with each match's OWN
    * token interleaved, so a row holding two different addresses keeps
    * two distinct identities (a single-token substitution would merge
    * them — silent cross-identity linkage corruption). Pure codegen'd
    * array expressions, zero shuffle, no UDF. */
  def pseudonymizeEmail(c: Column): Column = {
    val segs = split(c, EmailPattern, -1)
    val toks = transform(regexp_extract_all(c, lit(EmailPattern), lit(0)),
      m => concat(lit("user_"), substring(md5(lower(m).cast("binary")), 1, 8)))
    // interleave seg_i + tok_i (get() is NULL-safe past the end — the
    // last segment has no following match)
    array_join(transform(sequence(lit(1), size(segs)), i =>
      concat(element_at(segs, i), coalesce(get(toks, i - 1), lit("")))), "")
  }

  /** Payment-card candidate: 13-19 digits, optional single space/dash
    * between digit groups. Lookaround-free and bounded-repeat, so Java
    * regex and RE2 match identically. */
  val CardPattern = "[0-9](?:[ -]?[0-9]){11,17}[0-9]"

  /** Luhn checksum over the digits of `c` (separators stripped):
    * doubling every second digit from the RIGHT, subtracting 9 from
    * two-digit products, sum divisible by 10. Pure integer expression
    * tree (sequence/transform/aggregate) — an external SQL engine
    * reproduces it exactly. Empty/digit-free input is false; NULL
    * propagates. */
  def luhnValid(c: Column): Column = {
    val ds = reverse(regexp_replace(c, "[^0-9]", ""))
    val terms = transform(sequence(lit(1), length(ds)), i => {
      val d = ascii(ds.substr(i, lit(1))) - 48
      when(i % 2 === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    when(length(ds) === 0, lit(false))
      .otherwise(aggregate(terms, lit(0), (a, x) => a + x) % 10 === 0)
  }

  /** First payment-card candidate of the text as its bare digits, or
    * empty string when none — pair with [[luhnValid]] for the
    * checksum-confirmed flag. */
  def firstCardDigits(c: Column): Column =
    regexp_replace(regexp_extract(c, CardPattern, 0), "[ -]", "")

  /** Redact card-shaped digit runs (conservative: candidates redact
    * whether or not the checksum passes — a transposed digit is still
    * someone's card number). */
  def redactCards(c: Column): Column =
    regexp_replace(c, CardPattern, "<CARD>")

  /** Lang-column normalize: first two chars lowercased when present,
    * else CJK-presence heuristic zh/en
    * (reference: src/llm_data_pipeline/pii/run.py:148-167). */
  def normalizeLang(lang: Column, text: Column): Column =
    when(lang.isNotNull && length(lang) >= 2, lower(substring(lang, 1, 2)))
      .otherwise(when(TextFunctions.hasCjk(text), "zh").otherwise("en"))

  /** Heuristic PERSON redaction - the zero-dependency stand-in for the
    * reference's Presidio/spaCy NER (reference: src/llm_data_pipeline/
    * pii/run.py:182-300): `Xx Xx` capitalized bigrams become <NAME>.
    * Deliberately conservative; a real NER model slots in as a per-row
    * column ([[graft.operators.TrainedNer]]) behind the same contract. */
  def redactNames(c: Column): Column =
    regexp_replace(c, "\\b[A-Z][a-z]+ [A-Z][a-z]+\\b", "<NAME>")

  /** Contact-page gating signal used before expensive NER in the
    * reference (reference: src/llm_data_pipeline/pii/run.py:113-118):
    * any of @, contact keywords, or a `Xx Xx` name shape. */
  def needsNer(c: Column): Column =
    c.contains("@") ||
      c.rlike("(?i)contact|about us|email us|联系|关于") ||
      c.rlike("\\b[A-Z][a-z]+ [A-Z][a-z]+\\b")
}
