package graft
package gates

import graft.functions.PiiFunctions
import graft.operators._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import Fixtures._

/** Privacy gates (p01-p06): PII redaction and flags, Luhn card
  * checks, pseudonymization, l-diversity. */
object PrivacyGates {
  /** Synthetic PII text, reproducible in SQL, so redaction is executed
    * for real on a corpus that ships none. */
  private def piiSynth(d: Column, src: Column, text: Column): Column =
    concat(lit("reach me at "), src, lit("@example.com ip 10.0.0."),
      (d % 250).cast("string"), lit(" ssn 123-45-6789 call +1 555 123 4567 "),
      substring(text, 1, 40))

  val all: Seq[Gate] = Seq(
    Gate("p01_pii_redact", (s, d) =>
      docs(s, d)
        .withColumn("synth", piiSynth(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"), PiiFunctions.redact(col("synth")).as("redacted"))
        .orderBy("doc_id"),
      s"""SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           'reach me at ' || source || '@example.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
             || ' ssn 123-45-6789 call +1 555 123 4567 ' || substr(text, 1, 40),
           '${PiiFunctions.EmailPattern}', '<EMAIL>', 'g'), '${PiiFunctions.SsnPattern}', '<SSN>', 'g'),
           '${PiiFunctions.Ipv4Pattern}', '<IP>', 'g'), '${PiiFunctions.Ipv6Pattern}', '<IP>', 'g'),
           '${PiiFunctions.PhonePattern}', '<PHONE>', 'g') AS redacted
         FROM documents ORDER BY doc_id"""),

    Gate("p02_pii_flags", (s, d) =>
      docs(s, d)
        .withColumn("synth", piiSynth(col("doc_id"), col("source"), col("text")))
        .select(col("doc_id"),
          PiiFunctions.hasEmail(col("synth")).as("has_email"),
          PiiFunctions.hasIpv4(col("synth")).as("has_ip4"),
          PiiFunctions.hasSsn(col("synth")).as("has_ssn"),
          PiiFunctions.hasPhone(col("synth")).as("has_phone"))
        .orderBy("doc_id"),
      s"""SELECT doc_id,
           regexp_matches(synth, '${PiiFunctions.EmailPattern}') AS has_email,
           regexp_matches(synth, '${PiiFunctions.Ipv4Pattern}') AS has_ip4,
           regexp_matches(synth, '${PiiFunctions.SsnPattern}') AS has_ssn,
           regexp_matches(synth, '${PiiFunctions.PhonePattern}') AS has_phone
         FROM (SELECT doc_id,
             'reach me at ' || source || '@example.com ip 10.0.0.' || CAST(doc_id % 250 AS VARCHAR)
               || ' ssn 123-45-6789 call +1 555 123 4567 ' || substr(text, 1, 40) AS synth
           FROM documents)
         ORDER BY doc_id"""),

    Gate("p03_ner_redact", (s, d) =>
      docs(s, d)
        .withColumn("synth", concat(lit("Alice "),
          upper(substring(col("lang"), 1, 1)), expr("substr(lang, 2)"),
          lit(" wrote "), substring(col("text"), 1, 30)))
        .select(col("doc_id"), PiiFunctions.redactNames(col("synth")).as("redacted"))
        .orderBy("doc_id"),
      """SELECT doc_id, regexp_replace(
           'Alice ' || upper(substr(lang, 1, 1)) || substr(lang, 2) || ' wrote ' || substr(text, 1, 30),
           '\b[A-Z][a-z]+ [A-Z][a-z]+\b', '<NAME>', 'g') AS redacted
         FROM documents ORDER BY doc_id"""),

    Gate("p04_card_luhn", (s, d) => {
      // payment-card detection with Luhn checksum confirmation: card
      // digits synthesized from doc_id (p02's convention — the corpus
      // has no digits), so validity varies naturally (~10% pass) and
      // the checksum column actually discriminates. Extraction, the
      // integer checksum fold, and the conservative redaction are all
      // recomputed verbatim by the SQL oracle.
      docs(s, d)
        .select(col("doc_id"), concat(lit("order ref 4"),
          lpad(((col("doc_id") * 7919) % 99999999999999L).cast("string"), 14, "0"),
          lit(" thank you")).as("synth"))
        .withColumn("card_digits", PiiFunctions.firstCardDigits(col("synth")))
        .select(col("doc_id"), col("card_digits"),
          PiiFunctions.luhnValid(col("card_digits")).as("luhn_ok"),
          PiiFunctions.redactCards(col("synth")).as("redacted"))
        .orderBy("doc_id")
    },
      // Mirrors PiiFunctions.firstCardDigits/luhnValid/redactCards: same
      // synth, same RE2-safe pattern, and the Luhn fold as an integer
      // list_transform — exact in both engines.
      s"""WITH s AS (SELECT doc_id,
             'order ref 4' || lpad(CAST((doc_id * 7919) % 99999999999999 AS VARCHAR), 14, '0')
               || ' thank you' AS synth
           FROM documents),
         c AS (SELECT doc_id, synth,
             regexp_replace(regexp_extract(synth, '${PiiFunctions.CardPattern}', 0), '[^0-9]', '', 'g') AS card_digits
           FROM s),
         l AS (SELECT doc_id, synth, card_digits, reverse(card_digits) AS ds FROM c)
         SELECT doc_id, card_digits,
           CASE WHEN length(ds) = 0 THEN false
             ELSE list_sum(list_transform(range(1, length(ds) + 1), i ->
               CASE WHEN i % 2 = 0 THEN
                 CASE WHEN (ascii(ds[i]) - 48) * 2 > 9
                   THEN (ascii(ds[i]) - 48) * 2 - 9
                   ELSE (ascii(ds[i]) - 48) * 2 END
               ELSE ascii(ds[i]) - 48 END)) % 10 = 0 END AS luhn_ok,
           regexp_replace(synth, '${PiiFunctions.CardPattern}', '<CARD>', 'g') AS redacted
         FROM l ORDER BY doc_id"""),

    Gate("p05_pseudonymize", (s, d) => {
      // privacy-preserving linkability: emails become stable hash
      // pseudonyms (PiiFunctions.pseudonymizeEmail) instead of
      // <EMAIL> holes — de-identified docs still JOIN on identity.
      // The gate proves both properties at once: every pseudonym
      // groups exactly the docs that shared the email (n_docs) and
      // never crosses identities (n_sources = 1 unless md5-8
      // collides). Zero shuffle until the bounded pseudonym group-by.
      // The oracle derives the pseudonym from the synthesis seed
      // (source), never seeing the extraction path.
      val synth = concat(lit("reach me at "), col("source"),
        lit("@example.com "), substring(col("text"), 1, 40))
      docs(s, d).select(col("doc_id"), col("source"), synth.as("t"))
        .withColumn("pseudo_text", PiiFunctions.pseudonymizeEmail(col("t")))
        .withColumn("pseudonym",
          regexp_extract(col("pseudo_text"), "user_[0-9a-f]{8}", 0))
        .groupBy("pseudonym")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy("pseudonym")
    },
      // Pseudonym derived from the synthesis seed — the oracle never
      // sees the regex-extraction path, only the linkability contract.
      """WITH s AS (SELECT doc_id, source,
           'user_' || substr(md5(lower(source || '@example.com')), 1, 8) AS pseudonym
         FROM documents)
         SELECT pseudonym, count(*) AS n_docs,
           count(DISTINCT source) AS n_sources
         FROM s GROUP BY 1 ORDER BY pseudonym"""),

    Gate("p06_l_diversity", (s, d) => {
      // l-diversity (Machanavajjhala et al. 2007), d58's companion
      // audit: k-anonymity alone leaks when a quasi-identifier group
      // is homogeneous in the SENSITIVE attribute — every member
      // shares the secret even though the group is large. Quasi-id =
      // (source, n_chars div 100 size band — narrow enough that 21 of
      // 116 groups are lang-homogeneous at gate SF, so the flag
      // demonstrably BINDS both ways); sensitive = lang. A group
      // passes at l=2 iff it carries >= 2 distinct langs; both
      // the distinct count and the k-size ride ONE aggregate on the
      // bounded quasi-id key space.
      docs(s, d)
        .groupBy(col("source"), expr("n_chars div 100").as("size_band"))
        .agg(count(lit(1)).as("k_size"),
          countDistinct(col("lang")).as("l_distinct"))
        .withColumn("diverse", col("l_distinct") >= 2)
        .orderBy("source", "size_band")
    },
      // Cells below k publish NULL + the suppression flag.
      """SELECT source, n_chars // 100 AS size_band,
           count(*) AS k_size,
           count(DISTINCT lang) AS l_distinct,
           count(DISTINCT lang) >= 2 AS diverse
         FROM documents GROUP BY source, size_band
         ORDER BY source, size_band""")
  )
}
