"""Output-contract self-test of the benchmark.

    python3 -m pytest perfbench/test_contract.py -q      # about 3 minutes

Runs every workload at a tiny input size with one measured pass, untraced
and traced, from a directory outside the repository, and checks that:

- the last stdout line parses exactly as the result contract says;
- every metric BENCHMARK.json names for that mode appears, with its unit;
- every correctness check of the workload ran, and none failed.

It also checks that, next to nothing but BENCHMARK.json and perfbench/,
the benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
RECORD_PREFIX = "# perfbench "

PASS_CHECKS = {
    "sketches": {"hll_rows", "hll_error", "onepass_hll_error",
                 "bloom_no_false_negatives", "bloom_fpr", "kll_rank_error",
                 "checkpoint_killed", "checkpoint_resumed_rows",
                 "checkpoint_shards_recomputed", "checkpoint_byte_identical",
                 "estimates_equal_driver_fold",
                 "slices_byte_identical_direct_build"},
    "corpus_prep": {"kept_set_stable", "selection_stable"},
}
RUN_CHECKS = {
    "sketches": {"cube_rows_cover_input", "cube_hll_error",
                 "slices_nonempty"},
    "corpus_prep": {"kept_nonempty_and_filtered", "kept_texts_distinct",
                    "kept_pass_quality_gate", "kept_ids_from_input",
                    "selection_within_budget"},
}
TRACED_CHECKS = {"corpus_prep": {"stage_split_matches_prepare_corpus",
                                 "drops_reconcile"}}


def run_bench(script: Path, cwd: Path, workload: str, trace: int,
              scale: float = 0.03) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, str(script), "--workload", workload, "--seed", "7",
         "--seconds", "0.1", "--trace", str(trace), "--scale", str(scale)],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_output_contract(workload, trace, tmp_path):
    p = run_bench(HERE / "run.py", tmp_path, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(result["correct"], bool)
    for key in ("attempted", "failed"):
        assert isinstance(result[key], int) and not isinstance(
            result[key], bool)
    assert result["attempted"] >= 1

    kind = "per_layer" if trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in SPEC[kind]}
    metrics = result["metrics"]
    assert set(metrics) == set(declared)
    for name, m in metrics.items():
        assert set(m) == {"value", "unit"}, name
        assert m["unit"] == declared[name], name
        assert isinstance(m["value"], (int, float)), name
        assert math.isfinite(m["value"]), name
    if not trace:
        assert all(m["value"] > 0 for m in metrics.values()), metrics

    record = json.loads(lines[-2][len(RECORD_PREFIX):])
    expected = PASS_CHECKS[workload] | RUN_CHECKS[workload] | {
        "staged_input_content_addressed"}
    if trace:
        expected |= TRACED_CHECKS.get(workload, set())
    assert expected <= set(record["checks_run"]), (
        expected - set(record["checks_run"]))
    assert result["failed"] == 0 and result["correct"], record["failures"]


def test_fails_without_library(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(tmp_path / "perfbench" / "run.py", tmp_path,
                  "sketches", 0)
    assert p.returncode != 0
    assert not p.stdout.strip()
