"""The run loop every ``scripts/fuzz_*.py`` harness shares.

A fuzzer is a list of *families*: functions that draw one random case
from the trial's rng, run it, and report each violated property with
``check``. ``run`` drives them:

    python scripts/fuzz_<name>.py [n_trials]

Trial t makes ONE ``np.random.default_rng(seed_base + t)``, shared by
the trial's families in list order, so a seed names a whole trial. A
family that raises is recorded as ``"<family> seed=<s>: <repr>"`` with
its traceback, and the run goes on with the next family. Each trial
prints ``# trial t/n done (k failures)``; the run ends with

    done: <name>: <n> trials x <m> families, <k> failures

and exits 1 if any check failed or any family raised, else 0.
"""

from __future__ import annotations

import inspect
import shutil
import sys
import tempfile
import traceback

import numpy as np

FAILS: list[str] = []


def check(ok, msg) -> None:
    """Record ``msg`` as a failure unless ``ok``."""
    if not ok:
        FAILS.append(msg)
        print("FAIL:", msg)


def _call(fn, ctx: dict):
    """Call ``fn`` with the entries of ``ctx`` that its signature names.
    An exception is recorded under ``fn``'s name; returns (ok, result)."""
    params = inspect.signature(fn).parameters
    try:
        return True, fn(**{k: v for k, v in ctx.items() if k in params})
    except Exception as e:  # noqa: BLE001
        FAILS.append(f"{fn.__name__} seed={ctx['seed']}: {e!r}")
        print("FAIL:", FAILS[-1])
        traceback.print_exc()
        return False, None


def run(name: str, families, *, trials: int, seed_base: int,
        spark: bool = True, setup=None, workdir: bool = False,
        finish=None) -> None:
    """Run ``families`` for ``sys.argv[1]`` trials (default ``trials``),
    print the summary line and exit with the run's status.

    A family (and ``setup``) receives, by parameter name, any of:
    ``rng`` and ``seed`` (the trial's); ``spark``, one session for the
    whole run unless ``spark=False``; ``work``, a temp dir removed at
    exit when ``workdir``; and the entries of the dict ``setup``
    returns, when given — it runs once per trial before the families,
    and if it raises the trial's families are skipped. ``finish()``
    runs after the last trial and may add failures with ``check``."""
    n_trials = int(sys.argv[1]) if len(sys.argv) > 1 else trials
    FAILS.clear()
    ctx: dict = {}
    if spark:
        from bloom_filters_spark.session import get_spark
        ctx["spark"] = get_spark(name)
        ctx["spark"].sparkContext.setLogLevel("ERROR")
    if workdir:
        ctx["work"] = tempfile.mkdtemp(prefix=f"{name}_")
    try:
        for t in range(n_trials):
            seed = seed_base + t
            tctx = dict(ctx, rng=np.random.default_rng(seed), seed=seed)
            ok, extra = _call(setup, tctx) if setup else (True, {})
            if ok:
                tctx.update(extra)
                for fn in families:
                    _call(fn, tctx)
            print(f"# trial {t + 1}/{n_trials} done ({len(FAILS)} failures)")
        if finish:
            finish()
    finally:
        if workdir:
            shutil.rmtree(ctx["work"], ignore_errors=True)
    print(f"done: {name}: {n_trials} trials x {len(families)} families, "
          f"{len(FAILS)} failures")
    sys.exit(1 if FAILS else 0)
