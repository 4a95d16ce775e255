package graft

import graft.functions.TextFunctions
import graft.operators.{BpeTrainer, Tokenizer, UnigramTrainer}
import org.apache.spark.sql.functions._

class TokenizerSpec extends SparkSpec {
  import spark.implicits._

  /** Edge cases for the shared encode split: tabs and \u000B at both
    * ends, NBSP (not in \s), full-width forms, CJK, emoji, OOV words,
    * blank and empty text. */
  private val adversarial = Seq(
    "\tlead and trail tabs\t", "\u000Bvertical\u000Btab\u000B words",
    "nbsp\u00A0joins shared\u00A0words", "ｆｕｌｌ Ｗｉｄｔｈ ｓｈａｒｅｄ",
    "漢字 テスト words", "emoji 🙂 here 🙂",
    "unseen zebra quokka", "Shared WORDS\tshared\r\nwords", "", " \t\n\u000B\f\r ")

  test("encodeText matches the regex-split per-occurrence encodeWord formulation: word model") {
    val corpus = Seq("shared words here", "shared words again", "here the vocab ends")
      .toDF("text")
    val words = Tokenizer.corpusWordCounts(corpus, "text", TextFunctions.normalizeForDedup, 5)
    val vocab = (Tokenizer.Specials.map(_ -> 0L) ++ words).map(_._1).zipWithIndex.toMap
    val m = Tokenizer.WordModel(vocab)
    val df = adversarial.zipWithIndex.toDF("text", "i")
    val norm = TextFunctions.normalizeForDedup(col("text"))
    // the word path before the shared encode: split the dedup-normalized
    // text on ' ', drop empties, look each word up with 0 (unk) for OOV
    val old = df.orderBy("i").select(norm, split(norm, " ")).as[(String, Seq[String])]
      .collect().toSeq
    old.foreach { case (n, ws) =>
      val ref = ws.filter(_.nonEmpty).map(w => vocab.getOrElse(w, 0))
      // normalized text holds no \s but ' ', so the shared split is
      // split(norm, " ") minus empties
      assert(TextFunctions.splitWsRuns(n).toSeq == n.split(" ").filter(_.nonEmpty).toSeq)
      assert(n.split("\\s+").iterator.filter(_.nonEmpty).flatMap(m.encodeWord).toSeq == ref)
      assert(m.encodeText(n).toSeq == ref, s"encodeText drift on '$n'")
      assert(m.encodeText(n).toSeq == ref, s"cached encodeText drift on '$n'")
    }
    val refs = old.map(_._2.filter(_.nonEmpty).map(w => vocab.getOrElse(w, 0)))
    assert(refs.flatten.contains(Tokenizer.UnkId) && refs.flatten.exists(_ > Tokenizer.PadId))
    // the distributed encode keeps every input column and appends the same ids
    val enc = Tokenizer.encode(df, "text", m)
    assert(enc.columns.toSeq == Seq("text", "i", "ids"))
    assert(enc.orderBy("i").select("ids").as[Seq[Int]].collect().toSeq == refs)
  }

  test("every model's word memo is rebuilt after Java serialization") {
    val corpus = Seq("shared words here", "shared words again").toDF("text")
    val models: Seq[Tokenizer.Model] = Seq(
      BpeTrainer.trainFromCorpus(corpus, "text", vocabSize = 280),
      UnigramTrainer.trainFromCorpus(corpus, "text", vocabSize = 280),
      Tokenizer.WordModel(Map("shared" -> 4, "words" -> 5)))
    models.foreach { m =>
      val before = adversarial.map(t => m.encodeText(t).toSeq) // fills the memo
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(m); out.close()
      val copy = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
        .asInstanceOf[Tokenizer.Model]
      assert(copy == m)
      assert(adversarial.map(t => copy.encodeText(t).toSeq) == before)
    }
  }

  private def nullTextCase(model: String,
                           train: org.apache.spark.sql.DataFrame => Tokenizer.Model): Unit =
    test(s"NULL text encodes to NULL ids: $model model") {
      val m = train(Seq("shared words here", "shared words again").toDF("text"))
      val df = Seq((1, "shared words"), (2, null)).toDF("i", "text")
      val ids = Tokenizer.encode(df, "text", m).orderBy("i").select("ids").as[Option[Seq[Int]]]
        .collect().toSeq
      assert(ids == Seq(Some(m.encodeText("shared words").toSeq), None))
    }
  nullTextCase("word", _ => Tokenizer.WordModel(Map("shared" -> 4, "words" -> 5)))
  nullTextCase("BPE", BpeTrainer.trainFromCorpus(_, "text", vocabSize = 280))
  nullTextCase("unigram", UnigramTrainer.trainFromCorpus(_, "text", vocabSize = 280))
}
