#!/usr/bin/env python3
"""graft pipeline benchmark.

    python3 perfbench/run.py --workload pipeline_web --seed 1 --seconds 25 --trace 0

Run from the repository root. It compiles the engine (`src/main/scala`)
and the benchmark program (`perfbench/scala`) with the Scala compiler from the Spark
distribution that `build.sbt` names, generates the workload's corpus from
the seed (cached per workload and seed), runs the benchmark JVM, checks every
pass's outputs against the generator's manifest, and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones.

An operation is one pipeline step of one pass; it fails if it throws or
if its output fails its check.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import struct
import subprocess
import sys
import time
import unicodedata

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(ROOT, ".bench_data")
OUT = os.path.join(ROOT, ".bench_out")
# the benchmark JVM must end this long after the build, which is excluded,
# so that the corpus, the JVM and the checks together stay within 180 s
RUN_LIMIT_S = 165

# tokenizer, vocab size, packed sequence length, MinHash verify threshold
SETTINGS = {
    "pipeline_web": dict(tokenizer="bpe", vocab=8000, seqlen=2048, threshold=0.8),
    "pipeline_dedup": dict(tokenizer="word", vocab=8000, seqlen=2048, threshold=0.8),
}
STEPS = ["ingest", "clean", "quality", "pii", "minhash", "clustering",
         "train_tokenizer", "tokenize", "export"]
CLEAN_REASONS = ("too_sparse", "low_language_signal", "too_much_punct", "dup_lines")

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def metric_units(trace):
    """Metric name -> unit, as BENCHMARK.json declares them."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found: run from the repository root")
    with open(path) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(sbt):
        fail("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory; set SPARK_HOME")
    return m.group(1)


def sources():
    out = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, fs in os.walk(top):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile engine + benchmark program once per source digest and return
    the class dir. Each digest keeps its own dir, so a checkout that goes
    back and forth between two versions of the sources builds each once."""
    srcs = sources()
    if not any("/src/main/scala/" in s for s in srcs):
        fail("engine sources (src/main/scala) not found: run from the repository root")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode() + b"\0" + open(s, "rb").read())
    classes = os.path.join(BUILD, h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    part = classes + ".part"
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    lib = [os.path.join(jars, f) for f in sorted(os.listdir(jars))
           if re.match(r"scala-(compiler|library|reflect)-2\.13\.\d+\.jar$", f)]
    if len(lib) != 3:
        fail("no Scala 2.13 compiler in " + jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(lib), "scala.tools.nsc.Main",
           "-nowarn", "-d", part, "-classpath", os.path.join(jars, "*")] + srcs
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compile failed")
    os.rename(part, classes)
    return classes


def run_jvm(classes, jars, run_dir, workload, meta_dir, seconds, trace, deadline,
            cpus=min(4, os.cpu_count() or 1)):
    st = SETTINGS[workload]
    result = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-Djava.io.tmpdir=" + tmp] +
           [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--cpus", str(cpus), "--seconds", str(seconds), "--trace", str(trace),
            "--data", os.path.join(meta_dir, "input"), "--out", os.path.join(run_dir, "out"),
            "--result", result, "--tokenizer", st["tokenizer"], "--vocab", str(st["vocab"]),
            "--seqlen", str(st["seqlen"]), "--threshold", str(st["threshold"]),
            "--tmp", tmp])
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    launch = time.time()
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir)
    try:
        p.wait(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
    log.close()
    if p.returncode != 0 or not os.path.exists(result):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-4000:]
        print(tail, file=sys.stderr)
        return None, launch
    with open(result) as f:
        return json.load(f), launch


def read_table(path, cols):
    import pyarrow.parquet as pq
    return pq.read_table(path, columns=cols).to_pydict()


def check(res, meta, manifest, st, out):
    """Returns (attempted, failed, problems). Row counts and the export
    digest are checked on every pass; the outputs of the last pass, which
    are what is left on disk, are checked against the manifest in full."""
    E = meta["expected"]
    word = st["tokenizer"] == "word"
    bad = set()  # (pass id, step)
    problems = []

    def expect(pid, step, ok, what):
        if not ok:
            bad.add((pid, step))
            problems.append("pass %d %s: %s" % (pid, step, what))

    passes = res["passes"]
    cold_sha = passes[0]["sha256"]
    for p in passes:
        pid = p["id"]
        got = {s["name"]: s for s in p["steps"]}
        for step in STEPS:
            if step not in got:
                expect(pid, step, False, "did not complete: %s" % p["error"])
        n = {k: v["out"] for k, v in got.items()}
        for step in ("ingest", "clean", "quality", "pii", "minhash", "clustering",
                     "train_tokenizer"):
            if step in n:
                expect(pid, step, n[step] == E[step], "rows %d != %d" % (n[step], E[step]))
        if "tokenize" in n and word:
            want = E["word_export_tokens"] // st["seqlen"]
            expect(pid, "tokenize", n["tokenize"] == want,
                   "packed rows %d != %d" % (n["tokenize"], want))
        if "tokenize" in n and not word:  # BPE token counts are checked by decoding the export
            expect(pid, "tokenize", n["tokenize"] > 0, "no packed rows")
        if "export" in n and "tokenize" in n:
            want = E["word_export_tokens"] if word else n["tokenize"] * st["seqlen"]
            expect(pid, "export", n["export"] == want, "tokens %d != %d" % (n["export"], want))
            expect(pid, "export", p["sha256"] == cold_sha and cold_sha != "",
                   "export digest differs from the cold pass")

    last = passes[-1]
    if last["error"] is None:
        pid = last["id"]
        d = read_table(os.path.join(out, "dropped_parquet"), ["url", "drop_reason"])
        got = dict(zip(d["url"], d["drop_reason"]))
        want = {u: m["expect"] for u, m in manifest.items() if m["expect"] in CLEAN_REASONS}
        expect(pid, "clean", got == want, "drop reasons differ from the manifest")
        q = set(read_table(os.path.join(out, "quality_parquet"), ["url"])["url"])
        expect(pid, "quality", q == {u for u, m in manifest.items() if m["expect"] == "ok"},
               "kept set differs from the manifest's language labels")
        t = read_table(os.path.join(out, "pii_parquet"), ["url", "text"])
        left = [s for u, text in zip(t["url"], t["text"])
                for s in manifest.get(u, {}).get("pii", ()) if s in text]
        expect(pid, "pii", not left, "%d planted PII strings left" % len(left))
        c = read_table(os.path.join(out, "deduped_parquet"), ["url"])["url"]
        survivors = {u for u, m in manifest.items() if m["expect"] == "ok"
                     and (m["cluster"] < 0 or m["longest"])}
        expect(pid, "clustering", len(c) == len(set(c)) and set(c) == survivors,
               "survivors differ from one-longest-per-cluster")
        raw = open(os.path.join(out, "export_tokens.bin"), "rb").read()
        expect(pid, "export", hashlib.sha256(raw).hexdigest() == cold_sha,
               "export file differs from the digest every pass reported")
        import numpy as np
        ids = np.frombuffer(raw, dtype="<u2")
        if word:
            expect(pid, "export", ids.size == E["word_export_tokens"],
                   "export holds %d ids, manifest says %d" % (ids.size, E["word_export_tokens"]))
        in_vocab = ids.size > 0 and int(ids.max()) < st["vocab"]
        expect(pid, "export", in_vocab, "an id >= vocab size %d" % st["vocab"])
        if in_vocab:
            why = export_problem(ids.tolist(), out, st)
            expect(pid, "export", why is None, "export: %s" % why)
    return len(passes) * len(STEPS), len(bad), problems


M64 = (1 << 64) - 1
P1, P2, P3, P4, P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
                      0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x, r):
    return ((x << r) | (x >> (64 - r))) & M64


def _round(acc, lane):
    return _rotl((acc + lane * P2) & M64, 31) * P1 & M64


def xxhash64(data, seed=42):
    """XXH64 of `data` as a signed long: Spark's `xxhash64` of a string
    column, whose value orders the documents the packer concatenates."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + P1 + P2) & M64, (seed + P2) & M64, seed & M64, (seed - P1) & M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _round(v[j], struct.unpack_from("<Q", data, i + 8 * j)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & M64
        for x in v:
            h = ((h ^ _round(0, x)) * P1 + P4) & M64
    else:
        h = (seed + P5) & M64
    h = (h + n) & M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, struct.unpack_from("<Q", data, i)[0]), 27) * P1 + P4) & M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (struct.unpack_from("<I", data, i)[0] * P1 & M64), 23) * P2 + P3) & M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * P5 & M64), 11) * P1 & M64
        i += 1
    h = (h ^ (h >> 33)) * P2 & M64
    h = (h ^ (h >> 29)) * P3 & M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def export_problem(ids, out, st, eos=2, byte_base=4):
    """The export must hold the survivors of `deduped_parquet`, one per EOS,
    in the packer's xxhash64(doc_id) order, cut after the last full seqLen
    chunk; what is cut off must be shorter than a chunk. Each document is
    compared as a list of units: with the word tokenizer its word ids
    (lower-cased words through `vocab_parquet`, 0 for a word outside it);
    with BPE, which is lossless, its words (NFKC, lower-cased), which the
    ids decode back to through `bpe_vocab_parquet`. The cut-off size counts
    at least one id per unit and one EOS per document. Returns what is
    wrong, or None."""
    bpe = st["tokenizer"] == "bpe"
    v = read_table(os.path.join(out, "bpe_vocab_parquet" if bpe else "vocab_parquet"),
                   ["word", "id"])
    t = read_table(os.path.join(out, "deduped_parquet"), ["doc_id", "text"])
    docs = sorted(zip(t["doc_id"], t["text"]), key=lambda d: xxhash64(d[0].encode("utf-8")))
    split = lambda x: [w for w in re.split(r"[ \t\n\x0b\f\r]+", x) if w]
    if bpe:
        want = [split(unicodedata.normalize("NFKC", x).lower()) for _, x in docs]
        sym = dict(zip(v["id"], v["word"]))
    else:
        vocab = dict(zip(v["word"], v["id"]))
        want = [[vocab.get(w, 0) for w in split(x.lower())] for _, x in docs]
    segs, units, cur, pending = [], [], "", bytearray()
    for i in ids:
        if not bpe:
            if i == eos:
                segs.append(units)
                units = []
            else:
                units.append(i)
            continue
        if byte_base <= i < byte_base + 256:
            pending.append(i - byte_base)
            continue
        cur += pending.decode("utf-8", "replace")
        pending.clear()
        if i == eos:
            if cur:
                return "document %d ends inside a word" % len(segs)
            segs.append(units)
            units = []
        elif sym.get(i, "").endswith("</w>"):
            units.append(cur + sym[i][:-4])
            cur = ""
        else:
            cur += sym.get(i, "")
    cur += pending.decode("utf-8", "ignore")  # the cut may split a character
    k = len(segs)
    if k > len(want):
        return "%d documents exported, %d survivors" % (k, len(want))
    for j, (got, w) in enumerate(zip(segs, want)):
        if got != w:
            return "document %d of %d in packing order differs from its text" % (j, k)
    if k == len(want):
        return None if not units and not cur else "ids after the last document"
    tail, n = want[k], len(units)
    if units != tail[:n] or (cur and (n == len(tail) or not tail[n].startswith(cur))):
        return "the cut document %d differs from its text" % k
    # cut off: the unfinished units of document k, its EOS, the later documents
    cut = len(tail) - n + 1 + sum(len(w) + 1 for w in want[k + 1:])
    if cut >= st["seqlen"]:
        return "at least %d ids cut off after the last chunk, seqLen is %d" % (
            cut, st["seqlen"])
    return None


def corpus(workload, seed):
    """Generate (or reuse) the workload's input; returns its directory, its
    meta (sizes and expected counts) and the per-document manifest. The
    directory is keyed by the generator's own source too, so an edited
    generator never reuses a stale corpus."""
    st = SETTINGS[workload]
    gen_id = hashlib.sha256(open(gen.__file__, "rb").read()).hexdigest()[:8]
    meta_dir = os.path.join(DATA, "%s-seed%d-%s" % (workload, seed, gen_id))
    meta = gen.generate(workload, seed, meta_dir, st["seqlen"], st["vocab"])
    return meta_dir, meta, load_manifest(meta_dir)


def load_manifest(meta_dir):
    out = {}
    with open(os.path.join(meta_dir, "manifest.tsv")) as f:
        next(f)
        for line in f:
            url, kind, cluster, exp, lang, words, length, longest, pii = \
                line.rstrip("\n").split("\t")
            out[url] = dict(kind=kind, cluster=int(cluster), expect=exp, lang=lang,
                            words=int(words), length=int(length), longest=longest == "1",
                            pii=[s for s in pii.split("|") if s])
    return out


def dir_bytes(path, suffix):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if f.endswith(suffix) and not f.startswith("."))


def end_to_end(res, meta, launch):
    warm = [p["wall_s"] for p in res["passes"] if p["kind"] == "warm" and not p["traced"]]
    wall = statistics.median(warm)
    return {
        "setup_s": res["ready_epoch_ms"] / 1000.0 - launch + res["passes"][0]["wall_s"],
        "wall_s": wall,
        "docs_per_s": meta["docs"] / wall,
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }


def per_layer(res, meta, out):
    spans = res["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9
    cpus = res["cpus"]
    rows = []  # one dict of metrics per traced pass
    for ps in (s for s in spans if s["name"] == "pass"):
        steps = {c["name"]: c for c in kids.get(ps["id"], [])}
        m = {"%s.s" % k: dur(v) for k, v in steps.items()}
        m["trace.drain_s"] = sum(c["drain_ns"] for c in steps.values()) / 1e9
        m["core.orchestration_s"] = dur(ps) - sum(dur(c) for c in steps.values()) \
            - m["trace.drain_s"]
        tot = {}
        for name, c in steps.items():
            cn = c["counters"]
            for k, v in cn.items():
                tot[k] = tot.get(k, 0.0) + v
            m["spark.%s.jobs" % name] = cn.get("jobs", 0.0)
            m["spark.%s.exchanges" % name] = cn.get("exchanges", 0.0)
            m["spark.%s.shuffle_write_mb" % name] = cn.get("shuffle_write_bytes", 0.0) / 1e6
            m["spark.%s.cpu_util" % name] = cn.get("cpu_ns", 0.0) / 1e9 / (dur(c) * cpus)
        m.update({
            "spark.jobs": tot.get("jobs", 0.0), "spark.tasks": tot.get("tasks", 0.0),
            "spark.exchanges": tot.get("exchanges", 0.0),
            "spark.shuffle_write_mb": tot.get("shuffle_write_bytes", 0.0) / 1e6,
            "spark.shuffle_read_mb": tot.get("shuffle_read_bytes", 0.0) / 1e6,
            "spark.spill_mb": tot.get("spill_bytes", 0.0) / 1e6,
            "spark.gc_s": sum(c["gc_ms"] for c in steps.values()) / 1000.0,
            "spark.cpu_util": tot.get("cpu_ns", 0.0) / 1e9 / (dur(ps) * cpus),
        })
        rows.append(m)
    met = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    probe = {s["name"]: dur(s) for s in spans if s["pass"] == len(res["passes"])}
    pr = res["probe"]
    handoff = dir_bytes(out, ".parquet")
    met.update({
        "ingest.mb_per_s": meta["wet_gz_bytes"] / 1e6 / met["ingest.s"],
        "clean.ns_per_byte": met["clean.s"] * 1e9 / meta["text_bytes"],
        "minhash.docs_per_s": meta["expected"]["minhash"] / met["minhash.s"],
        "dedup.band.s": probe["dedup.band"], "dedup.candidates.s": probe["dedup.candidates"],
        "dedup.verify.s": probe["dedup.verify"], "dedup.cc.s": probe["dedup.cc"],
        "dedup.pick.s": probe["dedup.pick"],
        "dedup.candidate_pairs": pr["candidate_pairs"],
        "dedup.verified_pairs": pr["verified_pairs"],
        "dedup.verify_accept_ratio": pr["verified_pairs"] / max(1.0, pr["candidate_pairs"]),
        "dedup.removed": pr["removed"], "dedup.cc_edges": pr["verified_pairs"],
        "tok.tokens": pr["tokens_in"], "tok.tokens_per_s": pr["tokens_in"] / met["tokenize.s"],
        "pack.s": probe["pack"], "pack.efficiency": pr["tokens_out"] / pr["tokens_in"],
        "export.mb": os.path.getsize(os.path.join(out, "export_tokens.bin")) / 1e6,
        "core.handoff_mb": handoff / 1e6,
        "core.write_amp": handoff / float(meta["wet_gz_bytes"]),
    })
    # each traced pass against the mean of its untraced neighbours
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    diffs = [(b["wall_s"] - (a["wall_s"] + c["wall_s"]) / 2, (a["wall_s"] + c["wall_s"]) / 2)
             for a, b, c in zip(warm, warm[1:], warm[2:])
             if b["traced"] and not a["traced"] and not c["traced"]]
    met["trace.overhead_s"] = statistics.median(d for d, _ in diffs)
    met["trace.overhead_ratio"] = statistics.median(d / base for d, base in diffs)
    met["trace.drain_s"] = statistics.median(r["trace.drain_s"] for r in rows)
    return met


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SETTINGS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    st = SETTINGS[a.workload]
    units = metric_units(a.trace)

    jars = spark_jars()
    if not os.path.isdir(jars):
        fail("Spark jar directory %s not found" % jars)
    classes = build(jars)
    started = time.time()
    meta_dir, meta, manifest = corpus(a.workload, a.seed)

    run_dir = os.path.join(OUT, "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    res, launch = run_jvm(classes, jars, run_dir, a.workload, meta_dir, a.seconds, a.trace,
                          deadline=started + RUN_LIMIT_S)
    if res is None:
        fail("benchmark JVM failed; log in " + os.path.join(run_dir, "jvm.log"))
    out = os.path.join(run_dir, "out")
    attempted, failed, problems = check(res, meta, manifest, st, out)
    for p in problems[:20]:
        print("perfbench: check failed: " + p, file=sys.stderr)
    try:
        vals = per_layer(res, meta, out) if a.trace else end_to_end(res, meta, launch)
    except (KeyError, IndexError, ZeroDivisionError, statistics.StatisticsError):
        if failed == 0:
            raise
        vals = {}  # a failed pass leaves nothing to derive metrics from
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": vals[k], "unit": u} for k, u in units.items() if k in vals},
    }))
    return 0 if vals else 1


if __name__ == "__main__":
    sys.exit(main())
