"""The shared fuzz run loop (scripts/fuzzlib.py), driven Spark-free."""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import fuzzlib  # noqa: E402


def _run(monkeypatch, families, n_trials, **kw):
    monkeypatch.setattr(sys, "argv", ["fuzz_test", str(n_trials)])
    with pytest.raises(SystemExit) as exc:
        fuzzlib.run("fuzz-test", families, trials=99, seed_base=500,
                    spark=False, **kw)
    return exc.value.code


def test_crashing_family_is_recorded_and_the_run_goes_on(monkeypatch,
                                                         capsys):
    calls = []

    def fam_a(rng, seed):
        calls.append(("a", seed, rng, int(rng.integers(1 << 62))))
        if seed == 501:
            raise ValueError("boom")

    def fam_b(rng, seed):
        calls.append(("b", seed, rng, int(rng.integers(1 << 62))))
        fuzzlib.check(True, "never recorded")

    assert _run(monkeypatch, [fam_a, fam_b], 3) == 1
    assert fuzzlib.FAILS == ["fam_a seed=501: ValueError('boom')"]
    # the later family of the crashing trial and the later trials ran
    assert [c[:2] for c in calls] == [("a", 500), ("b", 500), ("a", 501),
                                      ("b", 501), ("a", 502), ("b", 502)]
    # each trial's families share ONE default_rng(seed_base + t)
    for t in range(3):
        (_, _, rng_a, da), (_, _, rng_b, db) = calls[2 * t:2 * t + 2]
        assert rng_a is rng_b
        assert [da, db] == np.random.default_rng(500 + t).integers(
            1 << 62, size=2).tolist()
    out = capsys.readouterr().out
    assert "done: fuzz-test: 3 trials x 2 families, 1 failures" in out


def test_clean_run_exits_zero_and_check_fails_it(monkeypatch):
    assert _run(monkeypatch, [lambda seed: fuzzlib.check(True, "ok")],
                2) == 0
    assert fuzzlib.FAILS == []
    assert _run(monkeypatch, [lambda seed: fuzzlib.check(seed != 500,
                                                         "bad 500")], 2) == 1
    assert fuzzlib.FAILS == ["bad 500"]


def test_setup_workdir_and_finish(monkeypatch):
    seen = []

    def setup(rng, seed):
        return {"corpus": f"docs{seed}"}

    def fam(corpus, work, seed):
        assert os.path.isdir(work)
        seen.append((corpus, work))

    assert _run(monkeypatch, [fam], 2, setup=setup, workdir=True,
                finish=lambda: fuzzlib.check(len(seen) == 2, "count")) == 0
    assert [c for c, _ in seen] == ["docs500", "docs501"]
    assert not os.path.exists(seen[0][1])       # removed at exit
