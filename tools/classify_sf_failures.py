#!/usr/bin/env python3
"""Classify check_oracle.py output at a non-gate SF: pinned-at-sf0.01
oracles fail by design when the data changes (their VALUES tables are
measured constants of the gate SF); everything else must PASS. Reads
the check output on stdin, prints a classified summary and exits
nonzero if any NON-pinned row failed.

Optional: --json PATH writes the machine-readable classification
(the SF1_COMPARE.json artifact the round records next to
CORRECTNESS_r*.json)."""
import json
import re
import sys

# oracles whose VALUES tables pin measured sf0.01 constants (grep
# "Pinned at sf0.01" in src/main/scala/graft/gates/; e03/e04/e05 recall pins are
# called out in the verify skill's gotchas)
PINNED = {
    "b03_join_hints", "d20_trained_lid", "d21_hard_lid",
    "d25_cognate_confusion", "d30_trained_ner", "d61_score_drift",
    "d64_quality_classifier", "d73_wide_lid", "d74_bigram_ppl_capped",
    "d83_compression_quality", "d84_fasttext_lid", "d85_fasttext_ftz",
    "e03_lsh_topk", "e04_ivf_knn", "e05_kmeans_clusters",
    "e15_ivf_probe_curve", "ev10_approx_users", "ev16_sketch_merge",
    "ev25_active_users", "k03_tokenizer_fertility",
    "k07_bin_packing",  # n_bins/max_fill pinned (FFD not SQL-expressible)
    "k10_unigram_tokenize", "k14_oov_report", "k15_pack_efficiency",
    "q34_banded_range_join", "q36_cube", "x05_source_similarity",
    "e03_lsh_knn", "e04_ivf_knn",  # recall constants (names per gate list)
}

# Recall-parameterized operators: the engine emits {pairs within the
# configured candidate radius} ∩ {exact threshold}, while the oracle is
# the FULL exact set. At the gate SF the radius covers the corpus's
# whole Hamming tail, so they coincide; at a step-up SF the tail grows
# past any fixed radius (SimhashDiag at x10_sf0.1: true-pair Hamming
# tail reaches h=28; coverage at the configured h<=8 is 94.88%, engine
# output a strict SUBSET with identical jaccard values). An UNDERSHOOT
# is that documented radius semantics ONLY when check_oracle's subset
# evidence backs it: the engine rows must be a value-identical subset
# of the twin AND cover at least the pinned measured baseline —
# otherwise a scale-only recall regression (hot-bucket-cap drops, a
# wrong pair value) would be silently accepted on row count alone.
# value = minimum acceptable coverage (measured baseline minus jitter
# headroom; x02's measured 0.9488 at x10_sf0.1).
RECALL_PARAMETERIZED = {"x02_simhash_dedup": 0.94}

passed, pinned_failed, recall_param, real_failed = [], [], [], []
for line in sys.stdin:
    m = re.match(r"(PASS|FAIL) (\S+)", line.strip())
    if not m:
        continue
    ok, name = m.group(1) == "PASS", m.group(2)
    if ok:
        passed.append(name)
        continue
    if name in PINNED:
        pinned_failed.append(name)
        continue
    rows = re.search(r"ROWS ours=(\d+) ref=(\d+)", line)
    sub = re.search(r"subset=(true|false) coverage=([0-9.]+)", line)
    if (name in RECALL_PARAMETERIZED and rows
            and int(rows.group(1)) < int(rows.group(2))
            and sub and sub.group(1) == "true"
            and float(sub.group(2)) >= RECALL_PARAMETERIZED[name]):
        recall_param.append((name, float(sub.group(2))))
    else:
        real_failed.append((name, line.strip()))

print(f"pass: {len(passed)}")
print(f"pinned-by-design fail (expected at non-gate SF): {len(pinned_failed)}")
for n in sorted(pinned_failed):
    print(f"  pinned {n}")
print("recall-parameterized undershoot (verified value-identical subset, "
      f"coverage >= pinned baseline): {len(recall_param)}")
for n, cov in sorted(recall_param):
    print(f"  recall-param {n} coverage={cov:.4f}")
print(f"REAL fail: {len(real_failed)}")
for n, l in sorted(real_failed):
    print(f"  {l[:300]}")

out_path = None
argv = sys.argv[1:]
if "--json" in argv:
    i = argv.index("--json")
    out_path = argv[i + 1] if i + 1 < len(argv) else None
if out_path:
    doc = {
        "n_total": len(passed) + len(pinned_failed) + len(recall_param)
                   + len(real_failed),
        "n_match": len(passed),
        "pinned_by_design": sorted(pinned_failed),
        "recall_parameterized": {n: cov for n, cov in sorted(recall_param)},
        "real_fail": {n: l[:300] for n, l in sorted(real_failed)},
    }
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=2, sort_keys=True)
        f.write("\n")
    print(f"wrote {out_path}")

sys.exit(1 if real_failed else 0)
