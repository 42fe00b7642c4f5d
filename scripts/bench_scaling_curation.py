"""Two-parallelism scaling evidence for the CURATION battery.

The main scaling artifact (bench_scaling.py -> BENCH/scaling.json)
evidences the north-star SKETCH job — Arrow-batched python kernels fed
by JVM hashing. This companion runs the other half of the library's
execution story at the same two pinned parallelism levels: the
curation battery (PII scrub chain, BPE-ish pre-token count, quality
score, url canonicalization) as ONE whole-stage-codegen scan with NO
python in the executor path. It runs through bench_scaling.py's
level-pair runner (fresh spark-submit per level, taskset pinning,
alternating A/B rounds, best round kept, measured hardware ceiling)
over the same staged (url, text) pages table — reuse one with
SPARK_GRAFT_SCALING_DATA=/path/to/pages — and adds only the
cross-level checksum-invariance assertion.

Writes BENCH/scaling_curation.json (does NOT touch BENCH/BASELINE.md;
the curation section there is maintained by hand from this artifact).

Usage: python scripts/bench_scaling_curation.py [n_pages]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench_scaling as bs  # noqa: E402


def main() -> None:
    results, fields = bs.run_level_pair("--run-curation", bs.N_PAGES)
    # cross-level determinism: the JVM expression checksums must match
    # between parallelism levels (scaling must not change answers);
    # quality_sum is a double sum — merge-order ulp noise only — so it
    # compares with a tolerance (the integer checksums compare exact)
    lo, hi = bs.CORES
    clo, chi = results[lo]["checksums"], results[hi]["checksums"]
    for k in clo:
        if k == "quality_sum":
            assert abs(float(clo[k]) - float(chi[k])) <= 0.05, (k, clo, chi)
        else:
            assert clo[k] == chi[k], (k, clo, chi)
    summary = {"job": "curation battery in one codegen scan (PII scrub "
                      "chain, BPE-ish pre-token count, quality score, "
                      "url canonicalization) — zero python in the "
                      "executor path",
               "n_pages": bs.N_PAGES, **fields,
               "checksums_level_invariant": True}
    os.makedirs(f"{bs.REPO}/BENCH", exist_ok=True)
    with open(f"{bs.REPO}/BENCH/scaling_curation.json", "w") as f:
        json.dump(summary, f, indent=2)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
