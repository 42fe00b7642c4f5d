"""Randomized kill/resume fuzz for the checkpoint surface.

north_rule: "Per-partition sketches carry lineage and are checkpointed
... so a killed job resumes by merging surviving partials" and the
merged result "must not change any estimate". The dedicated tests pin
fixed kill points; this harness randomizes the whole space. Per trial,
over random keys (duplicates + NULLs; from a handful of distinct keys,
where most shards are empty, to thousands), a random shard count, and a
random order-insensitive sketch kind (HLL / Bloom / CMS — for these,
per-shard partials are content-addressed and merge is register-wise,
so ANY kill/resume schedule must be byte-invisible):

  1. reference: one uninterrupted `build` → bytes + n_rows;
  2. adversarial run in a fresh checkpoint dir: a `build` killed after
     a random shard prefix, optionally a SECOND killed build at a
     different (possibly overlapping) prefix — overlapping shards then
     hold multiple attempts, exercising latest-attempt-per-shard —
     then `resume`;
  3. the resumed sketch must be BYTE-identical to the reference,
     n_rows must equal the exact non-NULL row count, and the lineage's
     recomputed_shards must be exactly the shards no kill reached;
  4. a second `resume` must recompute nothing and return the same
     bytes (idempotence).

Run: python scripts/fuzz_checkpoint.py [n_trials]   (default 12)
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bloom_filters_spark.checkpoint import SketchCheckpoint  # noqa: E402
from bloom_filters_spark.kernels import (  # noqa: E402
    BloomSketch, CountMinSketch, HLLSketch)
from fuzzlib import check, run  # noqa: E402


def trial(spark, rng, seed, work):
    n = int(rng.integers(1000, 8000))
    n_shards = int(rng.choice([4, 8, 16]))
    kind = rng.choice(["hll", "bloom", "cms"])
    factory = {
        "hll": lambda: HLLSketch(12),
        "bloom": lambda: BloomSketch.from_capacity(16384, 0.01),
        "cms": lambda: CountMinSketch.from_error(0.001, 0.01),
    }[kind]
    # distinct-key count log-uniform in [2, n]: down to a handful of
    # keys, where most shards match no data and take the zero-row path
    n_keys = int(np.exp(rng.uniform(np.log(2), np.log(n))))
    keys = np.array([f"url{seed}_{int(v)}" for v in
                     rng.integers(0, n_keys, n)], dtype="object")
    keys[rng.random(n) < 0.03] = None
    df = spark.createDataFrame(pd.DataFrame({"k": keys})).cache()
    exact_n = int(pd.Series(keys).notna().sum())

    ref_cp = SketchCheckpoint(spark, os.path.join(work, f"ref{seed}"),
                              n_shards=n_shards, seed=seed)
    ref_sk, ref_n, _ = ref_cp.build(df, "k", factory, "s")
    check(ref_n == exact_n,
          f"ref n_rows {ref_n} != {exact_n} kind={kind} seed={seed}")

    cp = SketchCheckpoint(spark, os.path.join(work, f"kill{seed}"),
                          n_shards=n_shards, seed=seed)
    reached: set[int] = set()
    kills = [int(rng.integers(1, n_shards))]
    if rng.random() < 0.5:                       # second, overlapping kill
        kills.append(int(rng.integers(1, n_shards)))
    for f in kills:
        try:
            cp.build(df, "k", factory, "s", fail_after_shards=f)
            check(False, f"kill at {f} did not raise seed={seed}")
        except RuntimeError:
            pass
        reached |= set(range(f))
    got_sk, got_n, lineage = cp.resume(df, "k", factory, "s")

    check(got_sk.to_bytes() == ref_sk.to_bytes(),
          f"resume bytes != uninterrupted kind={kind} "
          f"n_shards={n_shards} kills={kills} seed={seed}")
    check(got_n == exact_n,
          f"resume n_rows {got_n} != {exact_n} seed={seed}")
    want_missing = sorted(set(range(n_shards)) - reached)
    check(lineage["recomputed_shards"] == want_missing,
          f"recomputed {lineage['recomputed_shards']} != "
          f"{want_missing} kills={kills} seed={seed}")

    again_sk, again_n, again_lin = cp.resume(df, "k", factory, "s")
    check(again_lin["recomputed_shards"] == [] and
          again_sk.to_bytes() == ref_sk.to_bytes() and
          again_n == exact_n,
          f"second resume not idempotent seed={seed}")
    df.unpersist()


if __name__ == "__main__":
    run("fuzz-checkpoint", [trial], trials=12, seed_base=9_400_000,
        workdir=True)
