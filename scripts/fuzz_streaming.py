"""Randomized replay fuzz for the streaming windowed-sketch surface.

Extends the randomized-differential discipline (fuzz_kernels,
fuzz_dedup, the driver-side skipping/reconcile/sharded passes) to
streaming: random event tables, random file splits, random
RESTART points (a second availableNow run resuming the same
checkpoint), tumbling AND sliding windows, hash-based HLL and
value-based KLL states. Per trial:

  1. HLL per tumbling window: the LAST Update-mode row per window
     after the full replay must carry n_rows == the exact non-NULL
     row count of that window and estimate EXACTLY equal (== on the
     double) to a batch `build_sketch` over the same window's rows —
     HLL register-max state is arrival-order-insensitive, so the
     streamed sketch must be byte-identical to the batch one no
     matter how the replay was split or where it was restarted;
  2. the same with slide = window/2 (rows fan into 2 windows each,
     per-window state independent);
  3. value-based KLL(200) per-window median within the documented
     rank-error bound of the exact per-window median (KLL compaction
     is order-sensitive by design, so the contract is the bound, not
     byte-identity), n_rows exact with NULL/NaN dropped.

The replay is adversarial: events are shuffled into 2-5 parquet files
(maxFilesPerTrigger=1 → one micro-batch each), and with probability
2/3 the files land in two waves with a full query restart from the
checkpoint between them — resume must be indistinguishable from an
uninterrupted run (north_rule: resumable from checkpoint).

Run: python scripts/fuzz_streaming.py [n_trials]   (default 6)
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bloom_filters_spark.kernels import HLLSketch, KLLSketch  # noqa: E402
from bloom_filters_spark.operators.agg import build_sketch  # noqa: E402
from bloom_filters_spark.streaming import sketch_per_window  # noqa: E402
from bloom_filters_spark.streaming.windowed import (  # noqa: E402
    run_windowed_foreach_batch)
from fuzzlib import check, run  # noqa: E402


def replay(spark, rng, src, cp, pdf, make_windowed):
    """Write pdf as 2-5 shuffled files; run availableNow replay(s) with
    maxFilesPerTrigger=1, restarting from the checkpoint between two
    waves with probability 2/3. → last emitted row per window_start."""
    n_files = int(rng.integers(2, 6))
    order = rng.permutation(len(pdf))
    chunks = np.array_split(order, n_files)
    waves = ([chunks] if rng.random() < 1 / 3 else
             [chunks[:max(1, n_files // 2)], chunks[max(1, n_files // 2):]])
    final: dict = {}
    fid = 0
    for wave in waves:
        if not wave:
            continue
        for ch in wave:
            spark.createDataFrame(pdf.iloc[ch]) \
                .select(F.col("ts").cast("timestamp"), "k") \
                .write.parquet(f"{src}/f{fid:03d}.parquet")
            fid += 1
        stream = (spark.readStream.schema("ts timestamp, k double")
                  .option("maxFilesPerTrigger", 1).parquet(f"{src}/*"))
        rows: list = []
        run_windowed_foreach_batch(
            make_windowed(stream),
            lambda bdf, _bid: rows.extend(bdf.collect()), cp)
        for r in rows:  # Update mode: later rows supersede earlier
            final[r["window_start"]] = r
    return final


def batch_windows(spark, pdf, w_min, slide_min=None):
    """Exact per-window (non-NULL, non-NaN) row groups via the same
    F.window assignment the stream uses. → {win_start: pandas rows}."""
    df = (spark.createDataFrame(pdf)
          .select(F.col("ts").cast("timestamp"), "k")
          .where(F.col("k").isNotNull() & ~F.isnan("k")))
    win = (F.window("ts", f"{w_min} minutes") if slide_min is None else
           F.window("ts", f"{w_min} minutes", f"{slide_min} minutes"))
    out = df.select(win.getField("start").alias("ws"), "k").toPandas()
    return {ws: g["k"].to_numpy() for ws, g in out.groupby("ws")}


def trial(spark, rng, seed, work):
    t0 = dt.datetime(2026, 3, 1) + dt.timedelta(
        hours=int(rng.integers(0, 100)))
    w_min = int(rng.choice([5, 10, 17, 30]))
    nw = int(rng.integers(3, 8))
    n = int(rng.integers(400, 2500))
    dom = int(rng.integers(20, 1500))
    ts = [t0 + dt.timedelta(seconds=float(s))
          for s in rng.uniform(0, nw * w_min * 60, n)]
    keys = rng.integers(0, dom, n).astype(float)
    keys[rng.random(n) < 0.03] = np.nan  # → NULL after createDataFrame?
    pdf = pd.DataFrame({"ts": ts, "k": keys})
    pdf.loc[rng.random(n) < 0.02, "k"] = None
    wm = "2 days"  # nothing drops: the oracle is the full batch

    # 1. tumbling HLL — byte-identical state ⇒ exactly equal estimate
    d = os.path.join(work, f"hll{seed}")
    got = replay(spark, rng, f"{d}/src", f"{d}/cp", pdf,
                 lambda s: sketch_per_window(
                     s, "ts", "k", lambda: HLLSketch(12),
                     window=f"{w_min} minutes", watermark=wm))
    want = batch_windows(spark, pdf, w_min)
    check(set(got) == set(want),
          f"hll window set seed={seed}: got={sorted(got)} "
          f"want={sorted(want)}")
    for ws, vals in want.items():
        if ws not in got:
            continue
        bdf = spark.createDataFrame(pd.DataFrame({"k": vals}))
        sk, bn = build_sketch(bdf, "k", lambda: HLLSketch(12))
        check(int(got[ws]["n_rows"]) == len(vals) == int(bn),
              f"hll n_rows {ws} {got[ws]['n_rows']}!={len(vals)} "
              f"seed={seed}")
        check(float(got[ws]["estimate"]) == float(sk.estimate()),
              f"hll estimate {ws} streamed={got[ws]['estimate']} "
              f"batch={sk.estimate()} seed={seed}")

    # 2. sliding (slide = w/2) — only for even window sizes
    if w_min % 2 == 0:
        d = os.path.join(work, f"sld{seed}")
        got = replay(spark, rng, f"{d}/src", f"{d}/cp", pdf,
                     lambda s: sketch_per_window(
                         s, "ts", "k", lambda: HLLSketch(12),
                         window=f"{w_min} minutes",
                         slide=f"{w_min // 2} minutes", watermark=wm))
        want = batch_windows(spark, pdf, w_min, w_min // 2)
        check(set(got) == set(want), f"slide window set seed={seed}")
        for ws, vals in want.items():
            if ws not in got:
                continue
            check(int(got[ws]["n_rows"]) == len(vals),
                  f"slide n_rows {ws} seed={seed}")

    # 3. value-based KLL median within the rank-error bound
    d = os.path.join(work, f"kll{seed}")
    got = replay(spark, rng, f"{d}/src", f"{d}/cp", pdf,
                 lambda s: sketch_per_window(
                     s, "ts", "k", lambda: KLLSketch(200),
                     window=f"{w_min} minutes", watermark=wm,
                     value_based=True,
                     emit=lambda sk: sk.quantile(0.5)))
    for ws, vals in batch_windows(spark, pdf, w_min).items():
        if ws not in got or len(vals) == 0:
            continue
        check(int(got[ws]["n_rows"]) == len(vals),
              f"kll n_rows {ws} seed={seed}")
        # KLL(200) rank error ~1.5%; accept the value at any rank
        # within ±4% of the median rank (ties included)
        sv = np.sort(vals)
        lo = sv[max(0, int(0.46 * len(sv)) - 1)]
        hi = sv[min(len(sv) - 1, int(0.54 * len(sv)))]
        est = float(got[ws]["estimate"])
        check(lo <= est <= hi,
              f"kll median {ws} est={est} not in rank band "
              f"[{lo},{hi}] n={len(sv)} seed={seed}")


if __name__ == "__main__":
    run("fuzz-streaming", [trial], trials=6, seed_base=9_100_000,
        workdir=True)
