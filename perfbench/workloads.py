"""The three benchmark workloads.

Each workload stages its input from ``sources.pages.generate_pdf``
during set-up, then runs passes of library calls. Every call goes
through ``Recorder.timed`` / ``Recorder.span`` so that it is timed, and
in a traced run tagged. A pass's outputs are checked against exact
answers computed at set-up or against once-per-run references; a check
that fails makes the pass a failed operation.

Why each workload exists, and which planned change it guards, is in
``perfbench/README.md``.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from bloom_filters_spark import plans
from bloom_filters_spark.checkpoint import SketchCheckpoint
from bloom_filters_spark.kernels import (BloomSketch, HLLSketch, KLLSketch,
                                         sketch_from_bytes, splitmix64)
from bloom_filters_spark.kernels.base import unpack
from bloom_filters_spark.operators import dedup as dd
from bloom_filters_spark.operators.agg import (build_sketch, fold_payloads,
                                               hash_col, probe_membership)
from bloom_filters_spark.operators.rollup import (query_rollup_many,
                                                  rollup_group_estimates,
                                                  rollup_sketches)
from bloom_filters_spark.operators.textstats import (tokens_col,
                                                     with_quality_score)
from bloom_filters_spark.sources.pages import PAGES_SCHEMA, generate_pdf

# seed s stages generator ids [o, o + n) with o = (s % SEED_SLOTS) * STRIDE.
# generate_pdf is exact only below ids of about 9e9: above that its word
# seeds (an int64 + uint64 array sum, which numpy promotes to float64)
# lose precision and texts degenerate into repeated words.
SEED_STRIDE = 1 << 20
SEED_SLOTS = 8000
_CORPUS_TAG = 0xC0DE


def _gen_pages(batches):
    """mapInPandas body: page rows for a batch of ids, keeping the id as
    ``doc_id`` so that ids are content-addressed like every other
    column (monotonically_increasing_id would depend on partitioning)."""
    for b in batches:
        ids = b["id"].to_numpy()
        pdf = generate_pdf(ids)
        pdf.insert(0, "doc_id", ids)
        yield pdf


def _gen_corpus(batches):
    """mapInPandas body: (doc_id, text) rows for curation. One doc in 20
    is the previous id's text plus one word, a near duplicate (3-shingle
    jaccard >= 0.83 at the generator's 7-word minimum); one in 20 keeps
    only three words and so fails the quality gate's length band. The
    generator alone gives exact duplicates but neither of these."""
    for b in batches:
        ids = b["id"].to_numpy()
        text = generate_pdf(ids)["text"].to_numpy(dtype=object)
        kind = splitmix64(ids.astype(np.uint64) ^ np.uint64(_CORPUS_TAG)) \
            % np.uint64(20)
        near = kind == 0
        if near.any():
            text[near] = generate_pdf(ids[near] - 1)["text"].to_numpy(
                dtype=object) + " w1"
        short = kind == 1
        text[short] = [" ".join(t.split()[:3]) for t in text[short]]
        yield pd.DataFrame({"doc_id": ids, "text": text})


def line_structure_col(text_col: str):
    """Line and paragraph breaks as a JVM expression: every 8th word
    break becomes a newline and every 4th line break a blank line. The
    generator emits one-line text; the curation operators need lines."""
    lined = F.regexp_replace(text_col, r"((?:\S+ ){7}\S+) ", "$1\n")
    return F.regexp_replace(lined, r"((?:[^\n]+\n){3}[^\n]+)\n", "$1\n\n")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    return (xs[n // 2] + xs[(n - 1) // 2]) / 2


def _time_per_item(fn, items: int, reps: int = 5) -> float:
    """Median wall of ``fn()`` over ``reps`` calls, per item, in ns."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter_ns()
        fn()
        walls.append(time.perf_counter_ns() - t0)
    return _median(walls) / items


class Workload:
    """One workload: ``stage`` → ``truth`` → passes → ``gates``.

    ``run_pass`` returns (outputs, {check name: ok}). ``gates`` runs once
    per run after the passes and returns its own {check name: ok}; checks
    that compare a pass with a reference built once per run are added
    to that pass's entry in ``self.pass_checks``."""

    name = ""
    n_docs = 0           # input rows at scale 1
    fingerprint_cols: tuple = ()

    def __init__(self, spark, rec, work: str, seed: int, scale: float,
                 cores: int):
        self.spark = spark
        self.rec = rec
        self.work = work
        self.n = min(SEED_STRIDE, max(200, int(self.n_docs * scale)))
        self.offset = seed % SEED_SLOTS * SEED_STRIDE
        self.partitions = 2 * cores
        self.staged = os.path.join(work, "input")
        self.pass_checks: dict[int, dict[str, bool]] = {}
        self.counters: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def _pages(self):
        return (self.spark.range(self.offset, self.offset + self.n,
                                 numPartitions=self.partitions)
                .mapInPandas(_gen_pages, "doc_id long, " + PAGES_SCHEMA))

    def stage_df(self):
        return self._pages().select("doc_id", "url", "warc_ts", "text")

    def stage(self, path: str) -> tuple:
        """Write the input to ``path``; → its content fingerprint: row
        count and the xxhash64 sums of the fingerprint columns."""
        self.stage_df().write.parquet(path)
        df = self.spark.read.parquet(path)
        row = df.agg(F.count(F.lit(1)), *[
            F.sum(F.xxhash64(c).cast("decimal(20,0)"))
            for c in self.fingerprint_cols]).first()
        return tuple(row)

    def load(self) -> None:
        self.df = self.spark.read.parquet(self.staged)

    def truth(self) -> None:
        """Exact answers the checks compare against."""

    def cleanup_pass(self) -> None:
        """Driver-side clean-up after a pass, outside its timing."""

    # ------------------------------------------------------------ passes
    def run_pass(self, i: int):
        raise NotImplementedError

    def traced_extras(self, i: int) -> None:
        """Extra traced-only spans after the traced pass."""

    def traced_metrics(self, outputs) -> dict:
        """Per-layer metrics of the traced pass that no span measures:
        kernels timed on the driver over the workload's own inputs, and
        counts."""
        return {}

    def gates(self, outputs_by_pass: dict) -> dict:
        return {}

    def output_bytes(self, outputs) -> int:
        raise NotImplementedError


# ======================================================================
class GlobalSketch(Workload):
    """Few large sketches over one table: HLL, HLL+Bloom seen-before with
    two probes, KLL text-length quantiles, and a checkpointed HLL build
    killed half-way and resumed."""

    name = "global_sketch"
    n_docs = 50_000
    fingerprint_cols = ("url", "text")
    HLL_P = 14
    ONEPASS_HLL_P = 13
    BLOOM_P = 0.01
    KLL_K = 200
    QS = (0.25, 0.5, 0.75, 0.95, 0.99)
    SHARDS, KILL_AFTER = 16, 8
    # the library's KLL rank-error tolerance (tests/test_kernels.py)
    KLL_RANK_TOL = 0.03

    def load(self):
        super().load()
        self.urls = self.df.select("url")
        # 'x' + url never equals a url, so every hit is a false positive
        self.disjoint = self.df.select(
            F.concat(F.lit("x"), F.col("url")).alias("url"))

    def truth(self):
        self.exact_urls = self.df.select(F.countDistinct("url")).first()[0]
        lens = (self.df.select(F.length("text").alias("l")).toPandas()["l"]
                .to_numpy(np.int64))
        self.sorted_lens = np.sort(lens)

    def _hll_ok(self, sk, p) -> bool:
        bound = 3 * 1.04 / math.sqrt(1 << p)
        return abs(sk.estimate() - self.exact_urls) / self.exact_urls <= bound

    def _kll_ok(self, kll) -> bool:
        s = self.sorted_lens
        for q in self.QS:
            v = kll.quantile(q)
            lo = np.searchsorted(s, v, "left") / s.size
            hi = np.searchsorted(s, v, "right") / s.size
            if not lo - self.KLL_RANK_TOL <= q <= hi + self.KLL_RANK_TOL:
                return False
        return True

    def run_pass(self, i):
        r = self.rec
        # factories are pickled to the workers: partial, not a lambda
        # over self, which holds the session
        factory = partial(HLLSketch, self.HLL_P)
        hll, n = r.timed("agg.build_sketch", build_sketch, self.urls, "url",
                         factory, kind="build")
        sb = r.timed("plans.seen_before_onepass", plans.seen_before_onepass,
                     self.urls, self.urls, col="url", p=self.BLOOM_P,
                     hll_p=self.ONEPASS_HLL_P, kind="build")
        fn = r.timed("agg.probe", sb["seen"].where(~F.col("seen_before"))
                     .count, kind="query")
        fp = r.timed("agg.probe", probe_membership(
            self.disjoint, "url", sb["bloom"], out_col="seen")
            .where(F.col("seen")).count, kind="query")
        kll = r.timed("plans.text_length_quantiles",
                      plans.text_length_quantiles, self.df,
                      kll_k=self.KLL_K, kind="build")["sketch"]
        ck = SketchCheckpoint(self.spark, os.path.join(self.work, f"ck{i}"),
                              n_shards=self.SHARDS)
        killed = False
        with r.span("checkpoint.kill", "build"):
            try:
                ck.build(self.urls, "url", factory, "url_hll",
                         fail_after_shards=self.KILL_AFTER)
            except RuntimeError as e:
                killed = "simulated kill" in str(e)
                if not killed:
                    raise
        ck_sk, ck_n, lineage = r.timed("checkpoint.resume", ck.resume,
                                       self.urls, "url", factory, "url_hll",
                                       kind="build")
        fpr = fp / self.n
        slack = 4 * math.sqrt(self.BLOOM_P * (1 - self.BLOOM_P) / self.n)
        checks = {
            "hll_rows": n == self.n,
            "hll_error": self._hll_ok(hll, self.HLL_P),
            "onepass_hll_error": self._hll_ok(sb["hll"], self.ONEPASS_HLL_P),
            "bloom_no_false_negatives": fn == 0,
            "bloom_fpr": fpr <= self.BLOOM_P + slack,
            "kll_rank_error": self._kll_ok(kll),
            "checkpoint_killed": killed,
            "checkpoint_resumed_rows": ck_n == self.n,
            "checkpoint_shards_recomputed": (len(lineage["recomputed_shards"])
                                             == self.SHARDS - self.KILL_AFTER),
            "checkpoint_byte_identical": ck_sk.to_bytes() == hll.to_bytes(),
        }
        out = {"hll": hll, "bloom": sb["bloom"], "kll": kll, "fpr": fpr,
               "ck_dir": ck.dir, "ck_recomputed":
               len(lineage["recomputed_shards"])}
        return out, checks

    def output_bytes(self, out):
        return sum(len(out[k].to_bytes()) for k in ("hll", "bloom", "kll"))

    def traced_metrics(self, out):
        h = (self.df.select(hash_col(F.col("url")).alias("h")).toPandas()["h"]
             .to_numpy(np.int64))
        lens = self.sorted_lens.astype(np.float64)
        bloom = BloomSketch.from_capacity(self.n, self.BLOOM_P)
        bloom.update_hashes(h)
        return {
            "kernels.hll_update_ns_per_row": _time_per_item(
                lambda: HLLSketch(self.HLL_P).update_hashes(h), h.size),
            "kernels.bloom_update_ns_per_row": _time_per_item(
                lambda: BloomSketch.from_capacity(
                    self.n, self.BLOOM_P).update_hashes(h), h.size),
            "kernels.bloom_contains_ns_per_row": _time_per_item(
                lambda: bloom.contains_hashes(h), h.size),
            "kernels.kll_update_ns_per_row": _time_per_item(
                lambda: KLLSketch(self.KLL_K).update_values(lens), lens.size),
            "kernels.hll_rel_err": abs(out["hll"].estimate() - self.exact_urls)
            / self.exact_urls,
            "kernels.bloom_fpr": out["fpr"],
            "checkpoint.shards_recomputed": out["ck_recomputed"],
            "checkpoint.bytes": dir_bytes(out["ck_dir"]),
            "agg.partials": self.urls.rdd.getNumPartitions(),
        }


# ======================================================================
class HostHourCube(Workload):
    """Many tiny sketches: a per-(host, hour) HLL cube written to parquet,
    then per-host estimates and six fixed dashboard slices read from it."""

    name = "host_hour_cube"
    n_docs = 50_000
    fingerprint_cols = ("url", "text")
    P = 12
    # (host rank, first hour from the data's first bucket, hours)
    SLICES = ((0, 0, 6), (1, 6, 6), (2, 0, 24), (3, 3, 12), (5, 12, 6),
              (10, 0, 12))

    def load(self):
        super().load()
        self.src = self.df.select(plans.host_col("url").alias("host"),
                                  "url", "warc_ts")

    def truth(self):
        row = self.df.agg(F.countDistinct("url"),
                          F.min(F.date_trunc("hour", "warc_ts"))).first()
        self.exact_urls, lo = row[0], row[1]
        self.cube_bytes = 0     # measured by gates
        hour = dt.timedelta(hours=1)
        self.slices = {
            f"q{k}_host{h:05d}": (f"host{h:05d}.example", lo + s * hour,
                                  lo + (s + n) * hour)
            for k, (h, s, n) in enumerate(self.SLICES)}
        self.questions = {
            name: ((F.col("host") == h) & (F.col("bucket") >= s)
                   & (F.col("bucket") < e))
            for name, (h, s, e) in self.slices.items()}

    def run_pass(self, i):
        r = self.rec
        path = os.path.join(self.work, f"cube{i}")
        with r.span("rollup.build", "build"):
            rollup_sketches(self.src, "url", partial(HLLSketch, self.P),
                            time_col="warc_ts", grain="hour",
                            group_cols=["host"]).write.parquet(path)
        cube = self.spark.read.parquet(path)
        est = r.timed("rollup.estimate", rollup_group_estimates(
            cube, ["host"]).collect, kind="query")
        sl = r.timed("rollup.slices", query_rollup_many, cube,
                     self.questions, kind="query")
        out = {"path": path,
               "estimates": {x["host"]: (x["n_rows"], x["estimate"])
                             for x in est},
               "slices": {k: (None if sk is None else sk.to_bytes(), n)
                          for k, (sk, n) in sl.items()}}
        return out, {}

    def gates(self, outputs_by_pass):
        """References computed once: a driver fold of the cube per host,
        and a direct ``build_sketch`` of each slice. Every pass's answers
        must equal them exactly."""
        last = outputs_by_pass[max(outputs_by_pass)]
        rows = self.spark.read.parquet(last["path"]).select(
            "host", "payload", "n_rows").collect()
        by_host: dict[str, list] = {}
        for x in rows:
            by_host.setdefault(x["host"], []).append(x)
        ref_est = {}
        for host, xs in by_host.items():
            sk, n = fold_payloads([bytes(x["payload"]) for x in xs],
                                  [x["n_rows"] for x in xs])
            ref_est[host] = (n, sk.estimate())
        ref_slices = {}
        for name, (h, s, e) in self.slices.items():
            bucket = F.date_trunc("hour", "warc_ts")
            sliced = self.df.where((plans.host_col("url") == h)
                                   & (bucket >= s) & (bucket < e))
            sk, n = build_sketch(sliced, "url", partial(HLLSketch, self.P))
            ref_slices[name] = (sk.to_bytes() if n else None, n)
        self.payloads = [bytes(x["payload"]) for x in rows]
        total, _ = fold_payloads(self.payloads)
        self.cube_bytes = sum(map(len, self.payloads))
        for i, out in outputs_by_pass.items():
            self.pass_checks[i].update({
                "estimates_equal_driver_fold": out["estimates"] == ref_est,
                "slices_byte_identical_direct_build":
                    out["slices"] == ref_slices})
        bound = 3 * 1.04 / math.sqrt(1 << self.P)
        return {
            "cube_rows_cover_input": sum(x["n_rows"] for x in rows) == self.n,
            "cube_hll_error": abs(total.estimate() - self.exact_urls)
            / self.exact_urls <= bound,
            "slices_nonempty": any(n > 0 for _, n in ref_slices.values()),
        }

    def output_bytes(self, out):
        return self.cube_bytes

    def traced_metrics(self, out):
        payloads = self.payloads    # the last pass's cube, from gates
        k = len(payloads)
        sketches = [sketch_from_bytes(p) for p in payloads]
        pairs = list(zip(sketches[0::2], sketches[1::2]))
        header = sum(len(p) - sum(b.nbytes for b in unpack(p)[2])
                     for p in payloads)

        def each(fn, xs):
            return lambda: [fn(x) for x in xs]

        return {
            "kernels.decode_us": _time_per_item(
                each(sketch_from_bytes, payloads), k) / 1e3,
            "kernels.merge_us": _time_per_item(
                lambda: [a.merge(b) for a, b in pairs], len(pairs)) / 1e3,
            "kernels.estimate_us": _time_per_item(
                each(lambda s: s.estimate(), sketches), k) / 1e3,
            "kernels.encode_us": _time_per_item(
                each(lambda s: s.to_bytes(), sketches), k) / 1e3,
            "kernels.header_bytes_frac": header / sum(map(len, payloads)),
            "rollup.cube_rows": k,
        }


# ======================================================================
class CorpusPrep(Workload):
    """Curation chain with no sketch kernels: exact dedup, MinHash-LSH
    near-dup dedup, quality filter; the kept corpus is written, then read
    back to fill a token budget."""

    name = "corpus_prep"
    n_docs = 600
    fingerprint_cols = ("doc_id", "text")
    PREP = dict(shingle=3, bucket_cap=2048, jaccard_threshold=0.8,
                min_quality=0.6)
    NUM_PERM, BANDS = 128, 32     # prepare_corpus's defaults

    def stage_df(self):
        return (self.spark.range(self.offset, self.offset + self.n,
                                 numPartitions=self.partitions)
                .mapInPandas(_gen_corpus, "doc_id long, text string")
                .select("doc_id", line_structure_col("text").alias("text")))

    def truth(self):
        self.docs_in = self.n
        # about 40% of the kept tokens: generated texts average ~25 words
        self.budget = 10 * self.n

    def _kept_summary(self, path):
        return tuple(self.spark.read.parquet(path).agg(
            F.count(F.lit(1)), F.sum(F.octet_length("text")),
            F.sum(F.xxhash64("doc_id").cast("decimal(20,0)"))).first())

    def _select(self, path):
        """Fill a token budget from the kept corpus: the selection step
        that follows corpus prep."""
        sel = plans.select_token_budget(self.spark.read.parquet(path),
                                        self.budget,
                                        partitions=self.partitions)
        return tuple(sel.agg(
            F.count(F.lit(1)), F.sum(F.size(tokens_col("text"))),
            F.sum(F.xxhash64("doc_id").cast("decimal(20,0)"))).first())

    def run_pass(self, i):
        r = self.rec
        path = os.path.join(self.work, f"kept{i}")
        with r.span("plans.prepare_corpus", "build"):
            plans.prepare_corpus(self.df, **self.PREP).write.parquet(path)
        selected = r.timed("plans.select_token_budget", self._select, path,
                           kind="query")
        return {"path": path, "selected": selected}, {}

    def cleanup_pass(self):
        # prepare_corpus persists its exact-dedup stage and leaves it to
        # the caller; drop it so that passes do not pile up cached data
        self.spark.catalog.clearCache()

    def traced_extras(self, i):
        """The stages ``prepare_corpus`` composes, called one by one with
        the same parameters, each ending in a count: the drop counts
        that ``docs_in − docs_kept`` must reconcile with exactly."""
        r = self.rec
        q = self.PREP
        with r.span("stages"):
            with r.span("dedup.exact"):
                kept = dd.dedup_exact(self.df, "text", "doc_id").persist()
                n_exact = kept.count()
            with r.span("dedup.neardup"):
                sig = dd.minhash_signatures(kept, "doc_id", "text",
                                            self.NUM_PERM, self.BANDS,
                                            shingle=q["shingle"])
                cands = dd.lsh_candidate_pairs(
                    sig, bucket_cap=q["bucket_cap"]).persist()
                n_cand = cands.count()
                pairs = dd.verify_jaccard(kept, cands, "doc_id", "text",
                                          q["jaccard_threshold"],
                                          shingle=q["shingle"]).persist()
                n_ver = pairs.count()
                losers = pairs.select(F.col("id2").alias("doc_id")).distinct()
                near_kept = kept.join(losers, "doc_id", "left_anti").persist()
                n_near = near_kept.count()
            with r.span("textstats.quality"):
                n_kept = (with_quality_score(near_kept)
                          .where(F.col("quality_score") >= q["min_quality"])
                          .count())
        self.spark.catalog.clearCache()
        self.counters.update({
            "dedup.candidate_pairs": n_cand, "dedup.verified_pairs": n_ver,
            "dedup.verify_yield": n_ver / n_cand if n_cand else 0.0,
            "plans.docs_in": self.docs_in, "plans.docs_kept": n_kept,
            "plans.drop_exact": self.docs_in - n_exact,
            "plans.drop_near": n_exact - n_near,
            "plans.drop_quality": n_near - n_kept})

    def gates(self, outputs_by_pass):
        """Every pass keeps the same documents; the kept set is distinct,
        passes the quality gate and comes from the input. In a traced run
        the stage-by-stage counts must also reconcile with it."""
        summary = {i: self._kept_summary(out["path"])
                   for i, out in outputs_by_pass.items()}
        first = min(outputs_by_pass)
        ref = outputs_by_pass[first]
        for i, out in outputs_by_pass.items():
            self.pass_checks[i]["kept_set_stable"] = summary[i] == summary[first]
            self.pass_checks[i]["selection_stable"] = (out["selected"]
                                                       == ref["selected"])
        kept = self.spark.read.parquet(ref["path"])
        row = with_quality_score(kept).agg(
            F.count(F.lit(1)), F.countDistinct("text"),
            F.min("quality_score")).first()
        n_in = kept.join(self.df, "doc_id", "left_semi").count()
        checks = {
            "kept_nonempty_and_filtered": 0 < row[0] < self.docs_in,
            "kept_texts_distinct": row[1] == row[0],
            "kept_pass_quality_gate": row[2] >= self.PREP["min_quality"],
            "kept_ids_from_input": n_in == row[0],
            "selection_within_budget":
                0 < ref["selected"][0] < row[0]
                and ref["selected"][1] <= self.budget,
        }
        if "plans.docs_kept" in self.counters:
            c = self.counters
            checks["stage_split_matches_prepare_corpus"] = (
                c["plans.docs_kept"] == row[0])
            checks["drops_reconcile"] = (
                c["plans.docs_in"] - c["plans.docs_kept"]
                == c["plans.drop_exact"] + c["plans.drop_near"]
                + c["plans.drop_quality"])
        return checks

    def output_bytes(self, out):
        return dir_bytes(out["path"])


# ======================================================================
class Sketches(Workload):
    """``GlobalSketch`` then ``HostHourCube`` in every pass, over one
    staged pages table. They are one workload, not two, so that a run
    can afford enough passes: each part keeps its own calls, checks and
    per-layer metrics."""

    name = "sketches"
    n_docs = 50_000
    fingerprint_cols = ("url", "text")

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [part(*args) for part in (GlobalSketch, HostHourCube)]
        for part in self.parts:
            part.pass_checks = self.pass_checks

    def load(self):
        for part in self.parts:
            part.load()

    def truth(self):
        for part in self.parts:
            part.truth()

    def run_pass(self, i):
        outs, checks = {}, {}
        for part in self.parts:
            outs[part.name], c = part.run_pass(i)
            checks.update(c)
        return outs, checks

    def gates(self, outputs_by_pass):
        checks = {}
        for part in self.parts:
            checks.update(part.gates({i: out[part.name] for i, out
                                      in outputs_by_pass.items()}))
        return checks

    def output_bytes(self, out):
        return sum(part.output_bytes(out[part.name]) for part in self.parts)

    def traced_metrics(self, out):
        return {k: v for part in self.parts
                for k, v in part.traced_metrics(out[part.name]).items()}


WORKLOADS = {w.name: w for w in (Sketches, CorpusPrep)}
