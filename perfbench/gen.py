"""Seeded corpus generator with a ground-truth manifest.

One process, one `random.Random(seed)`: the same (workload, seed) always
yields byte-identical `.wet.gz` inputs and manifest.

The manifest records, per document: the planted near-dup cluster (also a
`cluster-<id>` tag in `WARC-Target-URI`), the drop reason the clean or
quality step must give junk, the language, the planted PII strings, the
whitespace word count and the text length. From it `expected()` derives
every step's row count, the survivor of each cluster and the exact
word-tokenizer export size.

Constraints the pipeline imposes on the corpus:
  - unrelated docs must share few char 5-grams (Jaccard ~0.06): words are
    drawn Zipf-style from a large syllable vocabulary;
  - near-dups mutate at most ~1% of words, so the k=128 MinHash estimate
    clears the 0.8 verify threshold by a wide margin;
  - the longest member of a cluster is unique (one widened inner space,
    which the dedup normalisation flattens), so the canonical pick is that
    member by length and never falls back to `doc_id`;
  - junk is at least 200 chars, or ingest drops it before clean sees it;
  - each planted PII string is one whitespace token, so redaction keeps
    the word count.
"""

import bisect
import gzip
import json
import math
import os
import random
import statistics

EN_STOP = ["the", "and", "of", "is", "that", "with", "for"]
DE_STOP = ["der", "die", "das", "und", "ist", "nicht", "mit"]
# every stopword of the engine's heuristic language-ID table: no generated
# content word may collide with one
ALL_STOP = set(EN_STOP + DE_STOP + [
    "le", "la", "les", "et", "est", "une", "dans", "el", "los", "las", "es",
    "una", "que", "para", "il", "della", "che", "per", "con", "sono", "di",
    "como", "mais", "dos", "ele", "isso", "muito", "sem", "het", "een", "van",
    "niet", "zijn", "voor", "ook", "och", "att", "som", "detta", "vilket",
    "inte", "har"])

ONSETS = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p", "r",
          "s", "t", "v", "w", "z", "br", "cr", "dr", "fl", "gr", "pl", "pr",
          "sk", "sl", "sp", "st", "tr", "ch", "sh", "th", "qu", "bl", "kl"]
VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou", "io", "y"]
CODAS = ["", "", "", "n", "r", "s", "t", "l", "m", "nd", "rt", "st", "x"]

FILES = 8
MIN_CHARS = 200

# corpus shape per workload: doc count, lognormal length (median, sigma,
# min, max), share of docs in planted clusters and the cluster size range,
# junk shares (clean drops, quality language drops), PII-bearing share
WORKLOADS = {
    "pipeline_web": dict(
        docs=600, vocab_words=2000, length=(1400, 0.8, 250, 9000),
        dup_docs=0.06, dup_size=(2, 6), junk_clean=0.04, junk_lang=0.03,
        pii_docs=0.08),
    "pipeline_dedup": dict(
        docs=2000, vocab_words=4000, length=(600, 0.15, 420, 900),
        dup_docs=0.5, dup_size=(2, 40), junk_clean=0.01, junk_lang=0.01,
        pii_docs=0.02),
}


class Gen:
    def __init__(self, seed, vocab_words):
        self.r = random.Random(seed)
        words = set()
        while len(words) < vocab_words:
            w = "".join(self.pick(ONSETS) + self.pick(VOWELS) + self.pick(CODAS)
                        for _ in range(1 + int(self.r.random() * 3)))
            if len(w) >= 3 and w not in ALL_STOP:
                words.add(w)
        self.words = sorted(words)
        self.r.shuffle(self.words)
        acc, cum = 0.0, []
        for i in range(len(self.words)):
            acc += 1.0 / (i + 20)
            cum.append(acc)
        self.cum = cum

    def pick(self, xs):
        return xs[int(self.r.random() * len(xs))]

    def word(self):
        return self.words[bisect.bisect_left(self.cum, self.r.random() * self.cum[-1])]

    def lengths(self, n, median, sigma, lo, hi):
        """`n` lognormal quantiles in seeded order: every seed gets the
        same multiset of lengths, so corpus size does not vary by seed."""
        nd = statistics.NormalDist(0, sigma)
        out = [max(lo, min(hi, int(math.exp(nd.inv_cdf((i + 0.5) / n)) * median)))
               for i in range(n)]
        self.r.shuffle(out)
        return out

    def sentence(self, stop, stop_share=0.28):
        n = 8 + int(self.r.random() * 12)
        ws = [self.pick(stop) if self.r.random() < stop_share else self.word()
              for _ in range(n)]
        ws[1 + int(self.r.random() * (n - 1))] = self.pick(stop)  # language evidence
        ws[0] = ws[0].capitalize()
        return " ".join(ws) + "."

    def prose(self, chars, stop=EN_STOP):
        """Paragraphs of sentences, at least `chars` long."""
        paras, total = [], 0
        while total < chars:
            para = []
            for _ in range(2 + int(self.r.random() * 5)):
                s = self.sentence(stop)
                para.append(s)
                total += len(s) + 1
                if total >= chars:
                    break
            paras.append(" ".join(para))
        return "\n".join(paras)

    def pii(self):
        k = int(self.r.random() * 4)
        d = lambda n: "".join(str(int(self.r.random() * 10)) for _ in range(n))
        if k == 0:
            return "%s.%s@%s.com" % (self.word(), self.word(), self.word())
        if k == 1:
            return "%d%s-%s-%s" % (1 + int(self.r.random() * 8), d(2), d(2), d(4))
        if k == 2:
            return ".".join(str(1 + int(self.r.random() * 254)) for _ in range(4))
        return "+1555" + d(7)

    def junk(self, reason):
        if reason == "too_sparse":
            return (" " * 12).join(self.word() for _ in range(30))
        if reason == "low_language_signal":
            return " ".join(d for d in (str(1000 + int(self.r.random() * 9000)) for _ in range(60)))
        if reason == "too_much_punct":
            return " ".join((self.word() * 2)[:5] + "!?!" for _ in range(40))
        if reason == "dup_lines":
            line = self.sentence(EN_STOP) + " " + self.sentence(EN_STOP)
            return "\n".join([line] * 8)
        raise ValueError(reason)


def mutate(g, text):
    """Replace ~1% of the words (one draw per 100 words, at least one draw)
    with fresh vocabulary; a draw that lands on a line break is skipped."""
    ws = text.split(" ")
    for _ in range(max(1, len(ws) // 100)):
        i = int(g.r.random() * len(ws))
        if "\n" not in ws[i]:
            ws[i] = g.word() + ("." if ws[i].endswith(".") else "")
    return " ".join(ws)


def pad_space(text):
    """Widen the first inner space to two: the length grows by one, the
    dedup-normalised text (whitespace runs flattened) does not."""
    return text.replace(" ", "  ", 1)


def build(workload, seed):
    p = WORKLOADS[workload]
    g = Gen(seed, p["vocab_words"])
    n = p["docs"]
    docs = []  # dicts: text, kind, cluster, expect, lang, pii
    n_dup = int(n * p["dup_docs"])
    cid = 0
    lo, hi = p["dup_size"]
    lengths = g.lengths(n, *p["length"])
    k = 0
    while n_dup > 0:
        # heavy-tailed cluster sizes: Pareto quantiles at a low-discrepancy
        # sequence, capped below maxBucket; the same sizes for every seed
        k += 1
        u = (k * 0.6180339887498949) % 1.0
        size = max(2, min(hi, n_dup, int(lo / (1.0 - u) ** 0.9)))
        base = g.prose(lengths.pop())
        final = [base] + [mutate(g, base) for _ in range(size - 1)]
        # a unique longest member: widen one inner space if the maximum ties
        longest = max(range(size), key=lambda i: len(final[i]))
        if sum(1 for t in final if len(t) == len(final[longest])) > 1:
            final[longest] = pad_space(final[longest])
        for i, t in enumerate(final):
            docs.append(dict(text=t, kind="dup", cluster=cid, expect="ok",
                             lang="en", pii="", longest=i == longest))
        cid += 1
        n_dup -= size
    reasons = ["too_sparse", "low_language_signal", "too_much_punct", "dup_lines"]
    for i in range(int(n * p["junk_clean"])):
        docs.append(dict(text=g.junk(reasons[i % 4]), kind="junk", cluster=-1,
                         expect=reasons[i % 4], lang="en", pii="", longest=False))
    for _ in range(int(n * p["junk_lang"])):
        docs.append(dict(text=g.prose(lengths.pop(), DE_STOP),
                         kind="junk", cluster=-1, expect="lang", lang="de",
                         pii="", longest=False))
    n_pii = int(n * p["pii_docs"])
    while len(docs) < n:
        text = g.prose(lengths.pop())
        planted = []
        if n_pii > 0:
            n_pii -= 1
            ws = text.split(" ")
            for _ in range(1 + int(g.r.random() * 3)):
                j = 1 + int(g.r.random() * (len(ws) - 2))
                if "\n" in ws[j] or ws[j].endswith(".") or ws[j - 1].endswith("@"):
                    continue
                s = g.pii()
                ws.insert(j, s)
                planted.append(s)
            text = " ".join(ws)
        docs.append(dict(text=text, kind="single", cluster=-1, expect="ok",
                         lang="en", pii="|".join(planted), longest=False))
    g.r.shuffle(docs)
    for i, d in enumerate(docs):
        assert len(d["text"]) >= MIN_CHARS and d["text"] == d["text"].strip()
        assert "\n\n\n" not in d["text"] and "\r" not in d["text"]
        tag = "cluster-%d" % d["cluster"] if d["cluster"] >= 0 else d["kind"]
        d["url"] = "http://bench.example/%s/%s/doc-%06d" % (workload, tag, i)
        d["words"] = len(d["text"].split())
    return docs, cid


def write_wet(docs, in_dir):
    os.makedirs(in_dir, exist_ok=True)
    per = (len(docs) + FILES - 1) // FILES
    total = 0
    for f in range(FILES):
        path = os.path.join(in_dir, "part-%05d.wet.gz" % f)
        # mtime=0 keeps the gzip bytes a function of the seed alone
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", mtime=0) as gz:
            for i, d in enumerate(docs[f * per:(f + 1) * per]):
                body = d["text"].encode("utf-8")
                head = ("WARC/1.0\r\nWARC-Type: conversion\r\n"
                        "WARC-Target-URI: %s\r\nWARC-Date: 2024-01-01T00:00:00Z\r\n"
                        "WARC-Record-ID: <urn:uuid:%08d-%d>\r\n"
                        "Content-Length: %d\r\n\r\n" % (d["url"], f * per + i, f, len(body)))
                gz.write(head.encode("ascii") + body + b"\r\n\r\n")
        total += os.path.getsize(path)
    return total


def placeholder(pii):
    """The token the engine's redaction leaves for a planted PII string."""
    if "@" in pii:
        return "<email>"
    if pii.count("-") == 2:
        return "<ssn>"
    if pii.count(".") == 3:
        return "<ip>"
    return "<phone>"


def expected(docs, seq_len, vocab_size):
    """Row counts each step must report, from the manifest alone. The word
    vocabulary holds the 4 specials plus the distinct lower-cased words of
    the survivors, up to `vocab_size` ids."""
    ingest = len(docs)
    clean = sum(1 for d in docs if d["expect"] not in (
        "too_sparse", "low_language_signal", "too_much_punct", "dup_lines"))
    quality = sum(1 for d in docs if d["expect"] == "ok")
    survivors = [d for d in docs if d["expect"] == "ok"
                 and (d["cluster"] < 0 or d["longest"])]
    tokens = sum(d["words"] + 1 for d in survivors)
    words = set()
    for d in survivors:
        red = {p: placeholder(p) for p in d["pii"].split("|") if p}
        words.update(red.get(w, w).lower() for w in d["text"].split())
    return {
        "ingest": ingest, "clean": clean, "quality": quality, "pii": quality,
        "minhash": quality, "clustering": len(survivors),
        "train_tokenizer": min(vocab_size, 4 + len(words)),
        "word_tokens": tokens, "word_export_tokens": tokens // seq_len * seq_len,
    }


def generate(workload, seed, out_dir, seq_len, vocab_size):
    """Write inputs + manifest under `out_dir` once; reuse them after."""
    meta_path = os.path.join(out_dir, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    docs, clusters = build(workload, seed)
    wet_bytes = write_wet(docs, os.path.join(out_dir, "input"))
    with open(os.path.join(out_dir, "manifest.tsv"), "w") as f:
        f.write("url\tkind\tcluster\texpect\tlang\twords\tlength\tlongest\tpii\n")
        for d in docs:
            f.write("%s\t%s\t%d\t%s\t%s\t%d\t%d\t%d\t%s\n" % (
                d["url"], d["kind"], d["cluster"], d["expect"], d["lang"],
                d["words"], len(d["text"]), int(d["longest"]), d["pii"]))
    sizes = {}
    for d in docs:
        if d["cluster"] >= 0:
            sizes[d["cluster"]] = sizes.get(d["cluster"], 0) + 1
    meta = {
        "workload": workload, "seed": seed, "docs": len(docs),
        "text_bytes": sum(len(d["text"]) for d in docs), "wet_gz_bytes": wet_bytes,
        "clusters": clusters, "max_cluster": max(sizes.values()) if sizes else 0,
        "planted_pairs": sum(m * (m - 1) // 2 for m in sizes.values()),
        "pii_strings": sum(1 for d in docs for s in d["pii"].split("|") if s),
        "expected": expected(docs, seq_len, vocab_size),
    }
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, meta_path)  # meta.json last: its presence marks a complete set
    return meta
