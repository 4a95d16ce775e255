package graft

import graft.core.{Handoff, Pipeline}
import graft.operators.{PipelineSteps, Tokenizer}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** train_tokenizer hands its model to tokenize in driver memory: the
  * load starts no Spark job and gives the model its artifact holds. A
  * rewritten artifact, or a new JVM (an empty memo), reads from disk. */
class TokenizerHandoffSpec extends SparkSpec {
  import spark.implicits._

  /** An output base whose clustering step holds a small corpus. */
  private def trainedBase(kind: String): Pipeline.PipelineConfig = {
    val base = Files.createTempDirectory(s"tok_handoff_$kind").toString
    val docs = (1 to 40).map(i => (s"d$i", s"the quick brown fox $i jumps over the lazy dog " +
      s"tokenizers learn frequent pieces first ${"ab" * (i % 5)}"))
    Handoff.write(docs.toDF("doc_id", "text"), Pipeline.stepDir(base, "clustering"))
    val cfg = Pipeline.PipelineConfig(dataDir = "", outputBase = base, tokenizer = kind,
      vocabSize = 300)
    PipelineSteps.TrainTokenizerStep(corpusShards = 2).run(spark, cfg)
    cfg
  }

  private def fromDisk(cfg: Pipeline.PipelineConfig): Tokenizer.Model = {
    Tokenizer.forgetSavedModel()
    val l = Tokenizer.loadModel(spark, cfg.outputBase, cfg.tokenizer)
    assert(!l.fromMemory)
    l.model
  }

  Seq("bpe", "unigram", "word").foreach { kind =>
    test(s"$kind: tokenize loads the trained model with no Spark job") {
      val cfg = trainedBase(kind)
      val (loaded, jobs) = jobsDuring(Tokenizer.loadModel(spark, cfg.outputBase, cfg.tokenizer))
      assert(loaded.fromMemory)
      assert(jobs == 0)
      // the same merges, vocab and pieces as the artifact
      assert(loaded.model == fromDisk(cfg))
    }

    test(s"$kind: a rewritten artifact or an empty memo loads from disk") {
      val cfg = trainedBase(kind)
      val inMemory = Tokenizer.loadModel(spark, cfg.outputBase, cfg.tokenizer).model
      // a part file rewritten outside the handoff (same bytes, new name)
      val dir = Path.of(Tokenizer.artifactDirs(cfg.outputBase, kind).head)
      val part = Files.list(dir).iterator().asScala
        .find(_.getFileName.toString.startsWith("part-")).get
      Files.move(part, dir.resolve("part-99999-rewritten.parquet"))
      val rewritten = Tokenizer.loadModel(spark, cfg.outputBase, cfg.tokenizer)
      assert(!rewritten.fromMemory)
      assert(rewritten.model == inMemory)
      // a resume in a new JVM: no memo at all
      assert(fromDisk(cfg) == inMemory)
    }
  }
}
