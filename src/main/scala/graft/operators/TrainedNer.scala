package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Trained person-name NER — the model-backed path the reference gets
  * from Presidio/spaCy (reference: src/llm_data_pipeline/pii/
  * run.py:182-300), re-expressed as a TOKEN-level classifier this
  * zero-egress build can train itself: the same multinomial-NB over
  * hashed char-3grams as [[TrainedLid]] (token orthography instead of
  * document orthography), so the entire train/artifact/predict
  * machinery is reused verbatim — a "language" here is the binary
  * {name, other}.
  *
  * Scale shape: prediction is per-token — tokenize (codegen
  * projection), posexplode, score each token against the broadcast
  * weight matrix ([[TrainedLid.predict]], a per-row UDF, R4/P7),
  * reassemble documents with one groupBy on the doc id (state bounded
  * by tokens-per-document). This is the standard cost of model NER at
  * corpus scale; the regex heuristic (PiiFunctions.nerRedact) remains
  * the cheap default, this is the model seam behind the same
  * interface. */
object TrainedNer {

  /** Common given names (public top-frequency lists) — the "PERSON"
    * vocabulary of the synthetic fixture. */
  val NameWordList: Seq[String] = Seq(
    "james", "mary", "robert", "patricia", "john", "jennifer", "michael",
    "linda", "david", "elizabeth", "william", "barbara", "richard",
    "susan", "joseph", "jessica", "thomas", "sarah", "charles", "karen")

  /** Content vocabulary, orthographically distinct from the names. */
  val ContentWordList: Seq[String] = Seq(
    "compile", "shuffle", "partition", "broadcast", "catalyst", "parquet",
    "stream", "window", "aggregate", "join", "filter", "schema",
    "cluster", "executor", "driver", "memory", "storage", "network",
    "latency", "throughput")

  private def pick(words: Seq[String], idCol: Column, pos: Column,
                   salt: String): Column =
    element_at(array(words.map(lit): _*),
      (pmod(xxhash64(concat(idCol.cast("string"), lit(salt),
        pos.cast("string"))), lit(words.length)) + 1).cast("int"))

  /** (doc_id) → (doc_id, pos, token, is_name): `tokensPerDoc` tokens
    * per doc, every `nameEvery`-th position a name. Pure Column
    * expressions — exact and partitioning-invariant, so gates over the
    * fixture can pin constants (the d20 convention). */
  def synthTokenFixture(ids: DataFrame, idCol: String = "doc_id",
                        tokensPerDoc: Int = 30, nameEvery: Int = 5): DataFrame =
    ids.select(col(idCol), explode(sequence(lit(1), lit(tokensPerDoc))).as("pos"))
      .withColumn("is_name", col("pos") % nameEvery === 0)
      .withColumn("token", when(col("is_name"),
          pick(NameWordList, col(idCol), col("pos"), "nm"))
        .otherwise(pick(ContentWordList, col(idCol), col("pos"), "ct")))

  /** Token-level NB: classes {name, other} over char-3grams of the
    * token. Returns a [[TrainedLid.LidModel]] (same artifact format —
    * `TrainedLid.writeModel`/`loadModel` apply unchanged). */
  def train(tokens: DataFrame, isNameCol: String = "is_name",
            tokenCol: String = "token"): TrainedLid.LidModel =
    TrainedLid.train(tokens.withColumn("__label",
        when(col(isNameCol), "name").otherwise("other")),
      "__label", tokenCol)

  /** Redact every token the model classifies as a name, preserving
    * token order; appends nothing else to the caller's schema.
    * Output: (idCol, textCol redacted). */
  def redact(df: DataFrame, idCol: String, textCol: String,
             model: TrainedLid.LidModel,
             replacement: String = "[NAME]"): DataFrame = {
    val toks = df.select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")))
      .toDF(idCol, "__pos", "__tok")
      // trim strips only spaces: leading \t/\n still yields a phantom
      // empty first token — drop empties (positions keep their order)
      .where(length(col("__tok")) > 0)
    val pred = TrainedLid.predict(toks, "__tok", model, "__ner")
    val redacted = pred.groupBy(idCol).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__pos"),
          when(col("__ner") === "name", lit(replacement))
            .otherwise(col("__tok")).as("__out")))),
        x => x.getField("__out")), " ").as(textCol))
    // empty/whitespace-only/NULL docs have no tokens at all after the
    // filter — report them as empty text, not NULL (lineDedup's
    // convention for the all-lines-lost case)
    df.select(col(idCol)).join(redacted, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(textCol), lit("")).as(textCol))
  }
}
