package graft
package gates

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.sql.functions._
import Fixtures._

/** Tokenize / pack / SFT gates (k01-k16): BPE and unigram trainers,
  * the packer, loss masks, chat format, preference pairs, OOV reports
  * and .model protobuf interop. */
object TokenizeGates {
  val all: Seq[Gate] = Seq(
    // Packing follows the reference K3 semantics and is EXACT at 8
    // partitions: the two-pass packer owns global chunk boundaries, so
    // the single-stream oracle count holds at any partition count.
    Gate("k01_pack_conservation", (s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)").as("ids"))
      val packed = Packer.packExact(toks, "doc_id", "ids", seqLen = 512, eosId = 0,
        numPartitions = 8)
      packed.agg(count(lit(1)).cast("long").as("n_chunks"))
    },
      """SELECT CAST(sum(cnt + 1) // 512 AS BIGINT) AS n_chunks
         FROM (SELECT len(string_split_regex(trim(text), '\s+')) AS cnt FROM documents)"""),

    Gate("k02_bpe_roundtrip", (s, d) => {
      // decode(encode(t)) must equal the NFKC+flatten normalization of t
      // for EVERY document (including CJK), and no id may be unk — the
      // byte-fallback guarantee. The oracle states the invariant.
      import s.implicits._
      val t = docs(s, d)
      val model = BpeTrainer.trainFromCorpus(t, "text", vocabSize = 2000)
      val bc = s.sparkContext.broadcast(model)
      Tokenizer.encode(t.select("doc_id", "text"), "text", model)
        .select(col("doc_id"),
          Tokenizer.normalizeForTokenize(col("text")).as("norm"), col("ids"))
        .as[(Long, String, Seq[Int])]
        .map { case (id, norm, ids) =>
          val m = bc.value
          (id, m.decode(ids) == norm, ids.count(_ == Tokenizer.UnkId).toLong)
        }
        .toDF("doc_id", "roundtrip_ok", "n_unk")
        .orderBy("doc_id")
    },
      // Tokenizer invariant gate: lossless roundtrip and zero unk on every
      // document — byte fallback must cover the full corpus alphabet.
      """SELECT doc_id, CAST(1 AS BOOLEAN) AS roundtrip_ok, CAST(0 AS BIGINT) AS n_unk
         FROM documents ORDER BY doc_id"""),

    Gate("k03_tokenizer_fertility", (s, d) => {
      // per-language tokenizer comparison — the reference's compare.py
      // report (reference: src/llm_data_pipeline/tokenizer/
      // compare.py:38-141) as a gate row: BPE fertility (subword
      // tokens per whitespace word) and compression (normalized chars
      // per token) per language, integer-exact sums then one rounded
      // division. CJK fertility towers over Latin (no whitespace
      // words to merge). Values depend on the trained merges — not
      // SQL-replayable — so the oracle pins the sf0.01 measurement
      // (d20 convention).
      val t = docs(s, d)
      // vocab 300 = 260 fixed + ~40 learnable merges: small enough
      // that words stay SPLIT (fertility > 1 everywhere) — at 2000 the
      // synthetic 31-word vocabulary collapses every word to one token
      // and the metric degenerates to 1.0
      val model = BpeTrainer.trainFromCorpus(t, "text", vocabSize = 300)
      Tokenizer.encode(t.select("doc_id", "lang", "text"), "text", model)
        .select(col("lang"),
          size(col("ids")).cast("long").as("nb"),
          TextFunctions.tokenCount(col("text")).cast("long").as("nw"),
          length(Tokenizer.normalizeForTokenize(col("text"))).cast("long").as("nc"))
        .groupBy("lang")
        .agg(sum("nb").as("bpe_tokens"), sum("nw").as("words"),
          sum("nc").as("chars"))
        .select(col("lang"), col("bpe_tokens"),
          round(col("bpe_tokens").cast("double") / col("words").cast("double"), 4)
            .as("fertility"),
          round(col("chars").cast("double") / col("bpe_tokens").cast("double"), 4)
            .as("chars_per_token"))
        .orderBy("lang")
    },
      // Pinned at sf0.01 (driver's gate SF): the synthesized 8-language
      // fixture assigns doc_id % 8 over 500 docs (ids 0-3 mod 8 → 63 docs,
      // 4-7 → 62), and the trained NB model separates the wordlists
      // perfectly — the all-diagonal matrix is exact-count deterministic
      // under any partitioning (spec-proved). The 500 Danish holdout docs
      // (never trained on) all land on Swedish, the nearest trained
      // neighbor — pinned unseen-language behavior. Re-pin if the fixture
      // or SF changes.
      // Pinned at sf0.01 (d20 convention): fertility/compression are
      // functions of the trained merge table — deterministic (ordered
      // count collect + lexicographic tie-breaks) but not SQL-replayable.
      """SELECT lang, CAST(bpe_tokens AS BIGINT) AS bpe_tokens,
           fertility, chars_per_token FROM (VALUES
           ('de', 14586, 4.1099, 1.3386),
           ('en', 48137, 4.0943, 1.3386),
           ('es', 16269, 4.1104, 1.3373),
           ('fr', 15349, 4.0844, 1.3436),
           ('zh', 17125, 4.1335, 1.3333)
         ) AS t(lang, bpe_tokens, fertility, chars_per_token)
         ORDER BY lang"""),

    Gate("k04_pack_efficiency", (s, d) => {
      // seq_len design sweep: the REAL packer (packExact — k01's
      // operator) runs at 128/512/2048 and each chunk count is gated
      // against the conservation formula sum(n_tok+1) div L, plus the
      // tail waste and utilization a training-data engineer reads off
      // before committing a context length. Three bounded passes over
      // the tokenized docs; every figure integer-exact (utilization's
      // division happens on integer-exact doubles, rounded 6dp).
      val toks = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)")
          .as("ids"))
      val total = toks.agg(sum(size(col("ids")) + 1).cast("long").as("total"))
      val perL = Seq(128, 512, 2048).map { l =>
        Packer.packExact(toks, "doc_id", "ids", seqLen = l, eosId = 0,
            numPartitions = 8)
          .agg(count(lit(1)).cast("long").as("n_chunks"))
          .select(lit(l).as("seq_len"), col("n_chunks"))
      }.reduce(_ unionByName _)
      perL.crossJoin(total)
        .select(col("seq_len"), col("n_chunks"),
          (col("total") - col("n_chunks") * col("seq_len")).as("tail_tokens"),
          round((col("n_chunks") * col("seq_len")).cast("double") / col("total"), 6)
            .as("utilization"))
        .orderBy("seq_len")
    },
      // Conservation formula: the exact packer's chunk count IS
      // sum(n_tok+1) div L at any partition count (k01 gates L=512; this
      // sweeps the design space).
      """WITH t AS (SELECT CAST(sum(len(string_split_regex(trim(text), '\s+')) + 1) AS BIGINT) AS total
           FROM documents),
         l AS (SELECT unnest([128, 512, 2048]) AS seq_len)
         SELECT l.seq_len, CAST(t.total // l.seq_len AS BIGINT) AS n_chunks,
           CAST(t.total - (t.total // l.seq_len) * l.seq_len AS BIGINT) AS tail_tokens,
           round(CAST((t.total // l.seq_len) * l.seq_len AS DOUBLE) / t.total, 6)
             AS utilization
         FROM l, t ORDER BY l.seq_len"""),

    Gate("k05_unpack_roundtrip", (s, d) => {
      // chunk-content invariant for the exact packer: every packed
      // chunk's contents must equal the corresponding L-token slice of
      // the global (doc-order, EOS-terminated) token stream — k01
      // gates the chunk COUNT, this gates the CONTENT. packExact at 8
      // partitions + the distributed chunk index; per-chunk state is
      // bounded (L tokens). The oracle rebuilds every chunk's md5 from
      // first principles via a SQL prefix sum.
      val toks = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)")
          .as("ids"))
      val packed = Packer.packExact(toks, "doc_id", "ids", seqLen = 512,
        eosId = 0, numPartitions = 8).withColumn("__all", lit(1))
      Ranking.withRowNumber(packed, Seq("__all"),
          Seq(col("part_id"), col("chunk_in_part")), "chunk_idx")
        .select((col("chunk_idx") - 1).as("chunk_idx"),
          md5(array_join(transform(col("input_ids"), x => x.cast("string")), ",")
            .cast("binary")).as("chunk_fp"))
        .orderBy("chunk_idx")
    },
      // Prefix-sum rebuild of the exact packer's chunk contents: global
      // token stream = docs in doc_id order, each EOS(0)-terminated;
      // chunk c = positions [c*512, (c+1)*512); tail dropped. Every
      // chunk's joined-token md5 must match the packed output.
      """WITH t AS (SELECT doc_id,
             len(string_split_regex(trim(text), '\s+')) AS n FROM documents),
         o AS (SELECT doc_id, n,
             coalesce(sum(n + 1) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM t),
         tok AS (SELECT st + i - 1 AS gpos,
             CASE WHEN i <= n THEN i ELSE 0 END AS tid
           FROM (SELECT doc_id, n, st, unnest(range(1, n + 2)) AS i FROM o)),
         tt AS (SELECT sum(n + 1) AS total FROM t)
         SELECT CAST(gpos // 512 AS BIGINT) AS chunk_idx,
           md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY gpos)) AS chunk_fp
         FROM tok, tt WHERE gpos < (total // 512) * 512
         GROUP BY 1 ORDER BY chunk_idx"""),

    Gate("k06_oov_rate", (s, d) => {
      // vocabulary-coverage QA: a word vocab trained on the ENGLISH
      // slice only (top-500 by count desc, word asc — a deterministic
      // total order, so the cut replays exactly), then per-language
      // out-of-vocabulary rates — the "how badly does an en-trained
      // tokenizer serve the other languages" report. The vocab is
      // joined back BROADCAST (bounded artifact, like the LID/BPE
      // deployments); the only corpus shuffle is the per-language agg
      // on a bounded key. Integer counts, one rounded division.
      val words = docs(s, d).select(col("lang"),
        explode(split(TextFunctions.normalizeForDedup(col("text")), " ")).as("word"))
      val vocab = words.where(col("lang") === "en")
        .groupBy("word").agg(count(lit(1)).as("c"))
        .orderBy(desc("c"), asc("word")).limit(500)
        .select(col("word"), lit(1L).as("in_vocab"))
      words.join(broadcast(vocab), Seq("word"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_rate",
          round(col("n_oov").cast("double") / col("n_tokens"), 6))
        .orderBy("lang")
    },
      // en-trained top-500 vocab (deterministic count/word order), then
      // per-language OOV; the normalize replay is d08's.
      """WITH w AS (SELECT lang,
             unnest(string_split(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), ' ')) AS word
           FROM documents),
         v AS (SELECT word FROM (
             SELECT word, row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rn
             FROM w WHERE lang = 'en' GROUP BY word)
           WHERE rn <= 500)
         SELECT lang, count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           round(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS oov_rate
         FROM w LEFT JOIN v ON w.word = v.word
         GROUP BY lang ORDER BY lang"""),

    Gate("k07_bin_packing", (s, d) => {
      // whole-document bin packing (Packer.packBinsFfd): SFT-style
      // fixed-budget sequences that keep docs INTACT — k01/k04 pack by
      // splitting, this packs by assignment (First-Fit-Decreasing over
      // range partitions, deterministic at the pinned numParts=8).
      // Docs over capacity are rejected, never truncated. The
      // invariants are computed IN-PLAN and surface as booleans
      // (b02's embedded-assertion convention): every bin <= capacity,
      // bin count >= the ceil(total/capacity) lower bound. The oracle
      // recomputes eligibility/rejection/token totals exactly in SQL
      // and pins the measured sf0.01 bin count/max fill (d20
      // convention).
      val lens = docs(s, d).select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      val bins = Packer.packBinsFfd(lens, "doc_id", "n_tokens",
        capacity = 64L, numParts = 8)
      val fills = bins.where(col("bin_id").isNotNull)
        .groupBy("bin_id").agg(sum("len").as("fill"))
      val totals = bins.agg(
        sum(when(col("bin_id").isNotNull, 1L).otherwise(0L)).as("n_packed"),
        sum(when(col("bin_id").isNull, 1L).otherwise(0L)).as("n_rejected"),
        sum(when(col("bin_id").isNotNull, col("len")).otherwise(0L)).as("packed_tokens"))
      val binStats = fills.agg(count(lit(1)).as("n_bins"), max("fill").as("max_fill"))
      totals.crossJoin(binStats)
        .select(col("n_packed"), col("n_rejected"), col("packed_tokens"),
          col("n_bins"), col("max_fill"),
          (col("max_fill") <= 64L).as("fill_ok"),
          (col("n_bins") * lit(64L) >= col("packed_tokens")).as("lb_ok"))
    },
      // Eligibility and token totals recomputed exactly; bin count and
      // max fill pin the measured sf0.01 FFD outcome (d20 convention —
      // re-pin on capacity/numParts change); invariants pinned TRUE.
      """WITH t AS (SELECT CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split_regex(trim(text), '\s+')) END AS n
           FROM documents)
         SELECT CAST(sum(CASE WHEN n BETWEEN 1 AND 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_packed,
           CAST(sum(CASE WHEN n < 1 OR n > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected,
           CAST(sum(CASE WHEN n BETWEEN 1 AND 64 THEN n ELSE 0 END) AS BIGINT) AS packed_tokens,
           CAST(224 AS BIGINT) AS n_bins,
           CAST(64 AS BIGINT) AS max_fill,
           TRUE AS fill_ok, TRUE AS lb_ok
         FROM t"""),

    Gate("k08_chat_format", (s, d) => {
      // SFT chat-template rendering: (system, user, assistant) turn
      // arrays flattened into one role-delimited training string —
      // the post-training data-prep step every instruct corpus runs.
      // Turns travel as an array<struct<role,content>> column and the
      // render is a transform+array_join fold (zero shuffle,
      // codegen'd); the gate checks the rendered fingerprint and the
      // token accounting it feeds into packing.
      val turns = array(
        struct(lit("system").as("role"),
          lit("You are a helpful assistant.").as("content")),
        struct(lit("user").as("role"),
          substring(col("text"), 1, 60).as("content")),
        struct(lit("assistant").as("role"),
          substring(col("text"), 61, 80).as("content")))
      docs(s, d).select(col("doc_id"), turns.as("turns"))
        .withColumn("rendered", concat(
          array_join(transform(col("turns"), t =>
            concat(lit("<|"), t.getField("role"), lit("|>\n"),
              t.getField("content"), lit("\n"))), ""),
          lit("<|end|>")))
        .select(col("doc_id"), size(col("turns")).cast("long").as("n_turns"),
          md5(col("rendered").cast("binary")).as("render_fp"),
          TextFunctions.tokenCount(col("rendered")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },
      """WITH r AS (SELECT doc_id,
           '<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10) ||
           '<|user|>' || chr(10) || substr(text, 1, 60) || chr(10) ||
           '<|assistant|>' || chr(10) || substr(text, 61, 80) || chr(10) ||
           '<|end|>' AS rendered
         FROM documents)
         SELECT doc_id, CAST(3 AS BIGINT) AS n_turns, md5(rendered) AS render_fp,
           CAST(len(string_split_regex(trim(rendered), '\s+')) AS BIGINT) AS n_tokens
         FROM r ORDER BY doc_id"""),

    Gate("k09_loss_mask", (s, d) => {
      // SFT loss masking: only assistant tokens train — the
      // system/user context (and the assistant marker itself) is
      // masked out of the loss. Token accounting per doc over k08's
      // rendered segments; pieces join at newline boundaries so
      // whitespace token counts add exactly. Pure arithmetic, zero
      // shuffle; mask ratio feeds the packing budget (trainable
      // tokens per packed sequence).
      val masked = concat(lit("<|system|>\n"),
        lit("You are a helpful assistant."),
        lit("\n<|user|>\n"), substring(col("text"), 1, 60),
        lit("\n<|assistant|>\n"))
      val trainable = concat(substring(col("text"), 61, 80), lit("\n<|end|>"))
      docs(s, d).select(col("doc_id"),
          TextFunctions.tokenCount(masked).cast("long").as("n_masked"),
          TextFunctions.tokenCount(trainable).cast("long").as("n_trainable"))
        .withColumn("trainable_frac",
          round(col("n_trainable").cast("double")
            / (col("n_masked") + col("n_trainable")), 4))
        .orderBy("doc_id")
    },
      """WITH m AS (SELECT doc_id,
           '<|system|>' || chr(10) || 'You are a helpful assistant.' || chr(10)
             || '<|user|>' || chr(10) || substr(text, 1, 60) || chr(10)
             || '<|assistant|>' || chr(10) AS masked,
           substr(text, 61, 80) || chr(10) || '<|end|>' AS trainable
         FROM documents),
         c AS (SELECT doc_id,
           CAST(len(string_split_regex(trim(masked), '\s+')) AS BIGINT) AS n_masked,
           CAST(len(string_split_regex(trim(trainable), '\s+')) AS BIGINT) AS n_trainable
         FROM m)
         SELECT doc_id, n_masked, n_trainable,
           round(CAST(n_trainable AS DOUBLE) / (n_masked + n_trainable), 4)
             AS trainable_frac
         FROM c ORDER BY doc_id"""),

    Gate("k10_unigram_tokenize", (s, d) => {
      // unigram-LM tokenizer (Kudo 2018 — SentencePiece's default
      // model type, the reference's actual trainer): hard-EM piece
      // probabilities over the distributed word-frequency table,
      // Viterbi max-likelihood segmentation, byte fallback, ▁ word
      // boundaries. Per-source fertility pinned at sf0.01 (d20
      // convention — the model itself is not SQL-replayable): exact
      // Long counts + deterministic training make the numbers
      // partitioning-invariant constants.
      val dd = docs(s, d).select(col("doc_id"), col("source"), col("text"))
      val m = UnigramTrainer.trainFromCorpus(dd, "text", vocabSize = 800)
      Tokenizer.encode(dd, "text", m)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(col("ids"))).cast("long").as("n_pieces"),
          sum(TextFunctions.tokenCount(col("text"))).cast("long").as("n_words"))
        .orderBy("source")
    },
      // Pinned at sf0.01 (d20 convention — the unigram model is not SQL-
      // replayable): deterministic hard-EM training + exact Long counts
      // make the per-source fertility partitioning-invariant constants.
      // n_pieces ~ 1.03x n_words: the 800-piece budget learns the tiny
      // template vocabulary's words whole. Re-pin on fixture/SF change.
      """SELECT source, CAST(nd AS BIGINT) AS n_docs,
           CAST(np AS BIGINT) AS n_pieces, CAST(nw AS BIGINT) AS n_words
         FROM (VALUES
           ('src0', 25, 1494, 1435), ('src1', 25, 1590, 1540),
           ('src10', 25, 1357, 1303), ('src11', 25, 1566, 1522),
           ('src12', 25, 1317, 1272), ('src13', 25, 1593, 1553),
           ('src14', 25, 1361, 1318), ('src15', 25, 1354, 1298),
           ('src16', 25, 1400, 1351), ('src17', 25, 1413, 1373),
           ('src18', 25, 1409, 1364), ('src19', 25, 1187, 1147),
           ('src2', 25, 1453, 1407), ('src3', 25, 1436, 1384),
           ('src4', 25, 1346, 1294), ('src5', 25, 1372, 1329),
           ('src6', 25, 1311, 1266), ('src7', 25, 1554, 1507),
           ('src8', 25, 1177, 1136), ('src9', 25, 1409, 1366)
         ) AS t(source, nd, np, nw)
         ORDER BY source"""),

    Gate("k11_pack_provenance", (s, d) => {
      // provenance accounting of the packed training stream — the
      // "what mix did training actually see" audit: per SOURCE, how
      // many tokens land in full chunks (trained), how many die in the
      // dropped tail, and which chunks each source touches (both
      // doc-chunk incidences and distinct chunks). Computed
      // analytically from the global doc-order token stream: the
      // distributed prefix sum gives each doc its global start (no
      // single-task window — the k05/d60 construction), chunk indices
      // are integer division, and the per-doc chunk range explode is
      // bounded by tokens/seqLen. Tied to the REAL packer by asserting
      // the analytic chunk count equals packExact's output count.
      val L = 512
      val toks = docs(s, d).select(col("doc_id"), col("source"),
        (size(split(trim(col("text")), "\\s+")) + 1).cast("long").as("wtok"))
      val cums = graft.core.Partitioning.distributedPrefixSum(
        toks, Seq(col("doc_id").asc), Seq("wtok" -> "run"))
      val totalV = toks.agg(sum("wtok")).head().getLong(0)
      val ids = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)")
          .as("ids"))
      val nChunks = Packer.packExact(ids, "doc_id", "ids", seqLen = L,
        eosId = 0, numPartitions = 8).count()
      require(nChunks == totalV / L,
        s"analytic chunk count ${totalV / L} != packExact output $nChunks")
      val lastFull = (totalV / L) * L
      val perDoc = cums
        .withColumn("st", col("run") - col("wtok"))
        .withColumn("trained",
          greatest(lit(0L), least(lit(lastFull) - col("st"), col("wtok"))))
        .withColumn("fc", expr(s"if(trained > 0, st div $L, null)"))
        .withColumn("lc", expr(s"if(trained > 0, (st + trained - 1) div $L, null)"))
      val incid = perDoc.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("trained").as("trained_tokens"),
        sum(col("wtok") - col("trained")).as("tail_tokens"),
        sum(when(col("trained") > 0, col("lc") - col("fc") + 1).otherwise(0L))
          .as("chunk_incidences"))
      val distinctChunks = perDoc.where(col("trained") > 0)
        .select(col("source"),
          explode(sequence(col("fc"), col("lc"))).as("chunk"))
        .groupBy("source").agg(countDistinct("chunk").as("distinct_chunks"))
      incid.join(distinctChunks, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("trained_tokens"),
          col("tail_tokens"), col("chunk_incidences"),
          coalesce(col("distinct_chunks"), lit(0L)).as("distinct_chunks"))
        .orderBy("source")
    },
      // Mirrors k11's analytic construction: exclusive prefix sum over
      // doc_id order (k05's window), trained = clamp to the last full
      // chunk boundary, chunk indices by integer division, distinct
      // chunks via the bounded per-doc range unnest.
      """WITH t AS (SELECT doc_id, source,
             len(string_split_regex(trim(text), '\s+')) + 1 AS wtok
           FROM documents),
         o AS (SELECT doc_id, source, wtok,
             coalesce(sum(wtok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
           FROM t),
         g AS (SELECT (sum(wtok) // 512) * 512 AS last_full FROM t),
         p AS (SELECT doc_id, source, wtok, st,
             greatest(0, least(g.last_full - st, wtok)) AS trained
           FROM o, g),
         pc AS (SELECT *,
             CAST(CASE WHEN trained > 0 THEN st // 512 END AS BIGINT) AS fc,
             CAST(CASE WHEN trained > 0 THEN (st + trained - 1) // 512 END
               AS BIGINT) AS lc
           FROM p),
         inc AS (SELECT source, count(*) AS n_docs,
             sum(trained) AS trained_tokens,
             sum(wtok - trained) AS tail_tokens,
             sum(CASE WHEN trained > 0 THEN lc - fc + 1 ELSE 0 END)
               AS chunk_incidences
           FROM pc GROUP BY source),
         dc AS (SELECT source, count(DISTINCT c) AS distinct_chunks
           FROM (SELECT source, unnest(range(fc, lc + 1)) AS c
             FROM pc WHERE trained > 0)
           GROUP BY source)
         SELECT inc.source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(trained_tokens AS BIGINT) AS trained_tokens,
           CAST(tail_tokens AS BIGINT) AS tail_tokens,
           CAST(chunk_incidences AS BIGINT) AS chunk_incidences,
           CAST(coalesce(distinct_chunks, 0) AS BIGINT) AS distinct_chunks
         FROM inc LEFT JOIN dc USING (source) ORDER BY inc.source"""),

    Gate("k12_preference_pairs", (s, d) => {
      // DPO/RLHF preference-pair prep (Rafailov et al. 2023): prompts
      // = doc_id % 97 buckets, reward = the d06 quality scalar; per
      // prompt, chosen/rejected = the (score, id)-struct argmax/argmin
      // with a 0.05 margin gate (near-tied pairs are noise). ONE
      // shuffle — the max/min structs partial-aggregate map-side, so
      // each partition ships at most one candidate pair per prompt no
      // matter how many responses a prompt has; no window, no
      // per-group sort.
      val scored = docs(s, d).select(
        (col("doc_id") % 97).as("prompt_id"), col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("q"))
      Ranking.preferencePairs(scored, "prompt_id", col("q"), "doc_id",
          minMargin = 0.05)
        .orderBy("prompt_id")
    },
      // k12's struct argmax/argmin replayed as deterministic windows:
      // chosen rn=1 by (q DESC, id DESC), rejected rn=1 by (q ASC, id
      // ASC) — exactly the (score, id) lexicographic tie policy. The
      // streaming deployment (st29) must land on the same pairs — max/
      // min structs are arrival-order-insensitive — so one string
      // serves both keys (the ev09/st09 convention).
      preferencePairsOracleSql),

    Gate("k13_chat_prompt_dedup", (s, d) => {
      // instruct-data prompt hygiene on the k08 chat shape: groups of
      // 5 consecutive doc_ids share one USER turn (the group leader's
      // 60-char slice) but carry DISTINCT assistant responses and an
      // identical system preamble — role-aware dedup must collapse
      // each group to its smallest id with n_dups = group size, no
      // matter what the responses or preamble say. The oracle groups
      // by the user content directly (the fingerprint is an
      // execution detail).
      val all = docs(s, d)
      val leaders = all.select(col("doc_id").as("lid"),
        substring(col("text"), 1, 60).as("ucontent"))
      val conv = all.withColumn("lid", col("doc_id") - col("doc_id") % 5)
        .join(leaders, "lid")
        .select(col("doc_id"), array(
          struct(lit("system").as("role"),
            lit("You are a helpful assistant.").as("content")),
          struct(lit("user").as("role"), col("ucontent").as("content")),
          struct(lit("assistant").as("role"),
            substring(col("text"), 61, 80).as("content"))).as("turns"))
      Dedup.chatPromptDedup(conv, "doc_id", "turns").orderBy("doc_id")
    },
      // the role-aware rule stated directly: group by the USER content,
      // keep min id — system/assistant columns never appear, which IS
      // the property under test.
      """WITH l AS (SELECT doc_id AS lid, substr(text, 1, 60) AS ucontent
           FROM documents),
         c AS (SELECT d.doc_id, l.ucontent FROM documents d
           JOIN l ON l.lid = d.doc_id - d.doc_id % 5)
         SELECT min(doc_id) AS doc_id, count(*) AS n_dups
         FROM c GROUP BY ucontent ORDER BY doc_id"""),

    Gate("k14_oov_report", (s, d) => {
      // tokenizer-coverage QA — the report you run BEFORE committing a
      // vocab to a 100 TB tokenize pass: train a coverage-cut unigram
      // model (characterCoverage=0.98 drops the rarest 2% of the
      // char mass), then measure the byte-fallback (OOV-char)
      // footprint per language: fallback pieces / total pieces — the
      // signal that a vocab under-serves a language. On this template
      // corpus the cut tail spreads across all five languages
      // (5.5-6.3%, fr highest), so every row exercises the fallback
      // path; on a real corpus the report separates scripts the
      // alphabet cut hits hardest. One broadcast-model projection +
      // one bounded groupBy; deterministic (exact-Long trainer), so
      // the oracle pins the sf0.01 measurement (k03/d20 convention).
      val t = docs(s, d)
      val model = UnigramTrainer.trainFromCorpus(t, "text",
        vocabSize = 800, characterCoverage = 0.98)
      Tokenizer.encode(t.select("doc_id", "lang", "text"), "text", model)
        .select(col("lang"), size(col("ids")).cast("long").as("np"),
          size(filter(col("ids"), i =>
            i >= Tokenizer.ByteIdBase && i < Tokenizer.FirstLearnedId))
            .cast("long").as("nf"))
        .groupBy("lang")
        .agg(sum("np").as("pieces"), sum("nf").as("fallback_pieces"))
        .select(col("lang"), col("pieces"), col("fallback_pieces"),
          round(col("fallback_pieces").cast("double")
            / col("pieces").cast("double"), 6).as("fallback_rate"))
        .orderBy("lang")
    },
      // Pinned at sf0.01 (k03/d20 convention): per-language byte-fallback
      // footprint of the coverage-cut (0.98) unigram model — the trainer
      // is exact-Long deterministic, so these are constants of
      // (fixture, vocabSize, coverage). Re-pin on fixture/SF change.
      """SELECT lang, CAST(pieces AS BIGINT) AS pieces,
           CAST(fallback_pieces AS BIGINT) AS fallback_pieces, fallback_rate
         FROM (VALUES
           ('de', 4168, 239, 0.057342),
           ('en', 13644, 755, 0.055336),
           ('es', 4620, 262, 0.05671),
           ('fr', 4443, 280, 0.06302),
           ('zh', 4894, 299, 0.061095)
         ) AS t(lang, pieces, fallback_pieces, fallback_rate)
         ORDER BY lang"""),

    Gate("k15_pack_efficiency", (s, d) => {
      // the context-length pre-flight (d78/e15/e16's sweep convention
      // for the packer): run the REAL two-pass packer at seqLen =
      // 256..2048 and report chunks / trained / tail-dropped /
      // utilization per setting — the table you consult before fixing
      // a context length for a full tokenize+pack run. The oracle
      // states the analytic single-stream identity (total // L full
      // chunks, remainder = tail) that packExact's global-boundary
      // construction must reproduce at ANY partition count — so this
      // row re-gates the packer itself at four lengths.
      import s.implicits._
      val toks = docs(s, d).select(col("doc_id"),
        expr("transform(sequence(1, size(split(trim(text), '\\\\s+'))), i -> i)")
          .as("ids"))
        .localCheckpoint(true)
      val total = toks.agg(sum(size(col("ids")) + 1)).head().getLong(0)
      Seq(256, 512, 1024, 2048).map { l =>
        val n = Packer.packExact(toks, "doc_id", "ids", seqLen = l, eosId = Tokenizer.EosId)
          .count()
        val trained = n * l
        (l, n, trained, total - trained,
          BigDecimal(trained.toDouble / total)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toDF("seq_len", "n_chunks", "trained_tokens", "tail_tokens",
        "utilization").orderBy("seq_len")
    },
      // The analytic single-stream identity packExact must reproduce:
      // total // L full chunks, remainder = tail-dropped.
      """WITH t AS (SELECT len(string_split_regex(trim(text), '\s+')) + 1 AS wtok
           FROM documents),
         tot AS (SELECT sum(wtok) AS total FROM t)
         SELECT CAST(L AS INT) AS seq_len,
           CAST(total // L AS BIGINT) AS n_chunks,
           CAST((total // L) * L AS BIGINT) AS trained_tokens,
           CAST(total - (total // L) * L AS BIGINT) AS tail_tokens,
           round(((total // L) * L * 1.0) / total, 6) AS utilization
         FROM tot CROSS JOIN (VALUES (256), (512), (1024), (2048)) AS v(L)
         ORDER BY seq_len"""),

    Gate("k16_sp_proto_roundtrip", (s, d) => {
      // SentencePiece .model interop (reference tokenizer/run.py:35-48
      // loads the protobuf artifact; inspect_model.py dumps it): export
      // the trained BPE + unigram models to the public ModelProto wire
      // format, load them back, and encode every doc through BOTH the
      // in-memory and the proto-round-tripped model — ids must be
      // bit-identical per doc (piece tables checked equal driver-side,
      // so a silent table drift fails the gate before any encode).
      import s.implicits._
      val t = docs(s, d)
      // the two trainers are independent job sequences over the same
      // corpus — overlap them so one's driver-side merge loop back-fills
      // with the other's distributed passes (guide §2.6); each trainer
      // is deterministic, so concurrency cannot move the result
      val Seq(bpeA, uniA) = inParallel(Seq[() => Any](
        () => BpeTrainer.trainFromCorpus(t, "text", vocabSize = 2000),
        () => UnigramTrainer.trainFromCorpus(t, "text", vocabSize = 1000)))
      val bpe = bpeA.asInstanceOf[BpeTrainer.BpeModel]
      val uni = uniA.asInstanceOf[UnigramTrainer.UnigramModel]
      val dir = java.nio.file.Files.createTempDirectory("spproto")
      val bpePath = dir.resolve("bpe.model").toString
      val uniPath = dir.resolve("uni.model").toString
      SpModelProto.writeBpe(bpePath, bpe)
      SpModelProto.writeUnigram(uniPath, uni)
      val bpe2 = SpModelProto.loadBpe(bpePath)
      val uni2 = SpModelProto.loadUnigram(uniPath)
      require(bpe2.vocab == bpe.vocab,
        "BPE vocab drifted through the ModelProto round-trip")
      require(uni2.vocab == uni.vocab && uni2.pieces.keySet == uni.pieces.keySet,
        "unigram vocab/pieces drifted through the ModelProto round-trip")
      val bc = s.sparkContext.broadcast((bpe, bpe2, uni, uni2))
      t.select(col("doc_id"),
          Tokenizer.normalizeForTokenize(col("text")).as("norm"))
        .as[(Long, String)]
        .map { case (id, norm) =>
          val (b1, b2, u1, u2) = bc.value
          (id,
            java.util.Arrays.equals(b1.encodeText(norm), b2.encodeText(norm)),
            java.util.Arrays.equals(u1.encodeText(norm), u2.encodeText(norm)))
        }.toDF("doc_id", "bpe_identical", "unigram_identical")
        .orderBy("doc_id")
    },
      // The .model protobuf round-trip must be an encode no-op for every
      // doc (k02 convention: the oracle states the invariant).
      """SELECT doc_id, CAST(1 AS BOOLEAN) AS bpe_identical,
           CAST(1 AS BOOLEAN) AS unigram_identical
         FROM documents ORDER BY doc_id""")
  )
}
