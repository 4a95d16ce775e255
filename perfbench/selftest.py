#!/usr/bin/env python3
"""Negative test of the benchmark's output checker, plus the one-off
parallelism check.

    python3 perfbench/selftest.py [--workload pipeline_dedup] [--seed 1]

1. Runs the workload (cold pass + one warm pass) at 4 task threads and
   requires the checker to pass it.
2. Corrupts copies of that output one way at a time and requires the
   checker to fail each, on the step the corruption belongs to:
   one flipped byte of `export_tokens.bin` (export), one row dropped from
   `deduped_parquet` (clustering), one step's reported row count altered
   (clean), and one document's ids left out of the export of every pass,
   with every pass reporting that shorter export (export).
3. Runs the same inputs at 2 task threads and requires a byte-identical
   `export_tokens.bin`.
Exits 0 only if all of these hold.
"""

import argparse
import copy
import hashlib
import json
import os
import shutil
import sys
import time

import numpy as np

import run


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="pipeline_dedup", choices=sorted(run.SETTINGS))
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    st = run.SETTINGS[a.workload]
    jars = run.spark_jars()
    classes = run.build(jars)
    meta_dir, meta, manifest = run.corpus(a.workload, a.seed)

    def run_at(cpus):
        run_dir = os.path.join(run.OUT, "selftest-%s-cpus%d" % (a.workload, cpus))
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        res, _ = run.run_jvm(classes, jars, run_dir, a.workload, meta_dir, 0, 0, cpus=cpus,
                             deadline=time.time() + run.RUN_LIMIT_S)
        if res is None:
            run.fail("benchmark JVM failed at %d task threads" % cpus)
        return res, os.path.join(run_dir, "out")

    res, out = run_at(4)
    results = []

    def case(name, res_, out_, want_step):
        attempted, failed, problems = run.check(res_, meta, manifest, st, out_)
        hit = [p for p in problems if (" %s: " % want_step) in p]
        ok = failed == 0 if want_step is None else (failed > 0 and bool(hit))
        results.append(ok)
        print("%-4s %-34s failed=%d/%d %s" % ("ok" if ok else "FAIL", name, failed,
                                             attempted, "; ".join(problems[:2])))

    case("untouched output passes", res, out, None)

    def mutated(name, fn):
        dst = out + "-" + name
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(out, dst)
        fn(dst)
        return dst

    def flip_byte(d):
        path = os.path.join(d, "export_tokens.bin")
        raw = bytearray(open(path, "rb").read())
        raw[len(raw) // 2] ^= 0x01
        open(path, "wb").write(bytes(raw))
    case("one export byte flipped", res, mutated("flip", flip_byte), "export")

    def drop_row(d):
        import pyarrow.parquet as pq
        path = os.path.join(d, "deduped_parquet")
        t = pq.read_table(path)
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(t.slice(1), os.path.join(path, "part-00000.parquet"))
    case("one deduped row dropped", res, mutated("drop", drop_row), "clustering")

    bad = copy.deepcopy(res)
    step = next(s for s in bad["passes"][-1]["steps"] if s["name"] == "clean")
    step["out"] += 1
    case("one step row count altered", bad, out, "clean")

    def drop_doc(d):
        path = os.path.join(d, "export_tokens.bin")
        ids = np.frombuffer(open(path, "rb").read(), dtype="<u2")
        eos = np.flatnonzero(ids == 2)
        ids = np.concatenate([ids[:eos[0] + 1], ids[eos[1] + 1:]])
        open(path, "wb").write(ids[:ids.size // st["seqlen"] * st["seqlen"]].tobytes())
    # a deterministic tokenize/pack regression: the second document's ids
    # are missing from every pass, whose results agree with the short export
    dropped = mutated("skip", drop_doc)
    raw = open(os.path.join(dropped, "export_tokens.bin"), "rb").read()
    bad = copy.deepcopy(res)
    for p in bad["passes"]:
        p["sha256"] = hashlib.sha256(raw).hexdigest()
        for s in p["steps"]:
            if s["name"] == "tokenize":
                s["out"] = len(raw) // 2 // st["seqlen"]
            if s["name"] == "export":
                s["out"] = len(raw) // 2
    case("one document missing from every export", bad, dropped, "export")

    res2, out2 = run_at(2)
    same = res2["passes"][0]["sha256"] == res["passes"][0]["sha256"] != ""
    results.append(same)
    print("%-4s %-34s %s" % ("ok" if same else "FAIL", "export identical at 2 and 4 threads",
                             res2["passes"][0]["sha256"][:16]))
    print(json.dumps({"selftest": "pass" if all(results) else "fail",
                      "workload": a.workload, "seed": a.seed}))
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
