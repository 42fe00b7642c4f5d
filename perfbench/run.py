"""Repository benchmark: one workload per run, closed loop.

    python3 perfbench/run.py --workload {sketches,corpus_prep}
                             --seed N --seconds S --trace {0,1}

One driver process issues one library call at a time on local[nproc].
Set-up (session start, staging the seeded input, exact answers, one
warm-up pass) is timed apart. With ``--trace 0`` passes repeat for
``--seconds`` and the end-to-end metrics of BENCHMARK.json are printed;
with ``--trace 1`` one untraced and one traced pass run under a Spark
event log and the per-layer metrics are printed. The last stdout line
is the result: {"correct", "attempted", "failed", "metrics"}.

Run it from any directory; it writes only under ``.perfbench/`` next to
``perfbench/``. See perfbench/README.md for how to read the output.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOAD_NAMES = ("sketches", "corpus_prep")
WARMUP_S = 8.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input-size multiplier (the self-test uses a "
                         "small one); results are comparable only at 1")
    args = ap.parse_args(argv)
    if not 0 <= args.seed < 1 << 31:
        ap.error("--seed must be in [0, 2**31)")
    return args


def declared_metrics() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {"end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def driver_memory_mb() -> int:
    """An eighth of physical RAM, between 1 and 4 GiB: the driver holds
    only folded sketches and collected kernel inputs."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return int(min(4096, max(1024, phys // 8 >> 20)))


def launch_env(work: Path, event_log: Path | None) -> None:
    """Spark launch settings, from the environment before the JVM starts:
    Python workers import the library from the repo root; every
    temporary file lands under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    path = [str(ROOT), str(HERE)]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    # C1 only: on a few cores, C2 compile threads compete with the
    # workload and pass walls fall ~30% over the first ~30 s; with C1
    # alone they are flat from the first pass after warm-up (README)
    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    if event_log is not None:
        event_log.mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log.as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        map(shlex.quote, [*args, "pyspark-shell"]))


def _import_library(_batches):
    """mapInPandas body that imports the page generator on a worker."""
    from bloom_filters_spark.sources import pages  # noqa: F401
    yield from _batches


def phase_probe(cores: int, traced: bool) -> dict:
    """A VM phase probe, taken before the JVM starts. The traced run
    also runs ``measure_hw_ceiling`` from scripts/bench_scaling.py, which
    takes about 6 s; every run takes a 0.1 s single-core splitmix64 probe."""
    import numpy as np
    from bloom_filters_spark.kernels import splitmix64
    x = np.arange(1 << 20, dtype=np.uint64)
    walls = []
    for _ in range(5):
        t0 = time.perf_counter()
        splitmix64(x)
        walls.append(time.perf_counter() - t0)
    out = {"splitmix64_ms_per_mrow": sorted(walls)[2] * 1e3}
    if traced and os.sched_getaffinity(0) == set(range(cores)):
        sys.path.insert(0, str(ROOT / "scripts"))
        argv, sys.argv = sys.argv, sys.argv[:1]  # it reads argv on import
        try:
            from bench_scaling import measure_hw_ceiling
        except ImportError as e:
            out["hw_ceiling"] = f"unavailable: {e}"
        else:
            out["hw_ceiling"] = measure_hw_ceiling(1, cores, secs=0.1)
        finally:
            sys.argv = argv
    return out


def _median(xs):
    xs = sorted(xs)
    return (xs[len(xs) // 2] + xs[(len(xs) - 1) // 2]) / 2 if xs else 0.0


class Run:
    def __init__(self, args, work: Path, cores: int):
        self.args = args
        self.work = work
        self.cores = cores
        self.outputs: dict[int, dict] = {}
        self.walls: dict[int, float] = {}
        self.roots: dict[int, int] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.checks_run: set[str] = set()
        self.setup: dict[str, float] = {}
        self.n_passes = 0

    # ------------------------------------------------------------ set-up
    def start(self):
        from bloom_filters_spark.session import get_spark
        from ledger import Recorder
        from workloads import WORKLOADS

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.args.workload}",
                               cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        (self.spark.range(0, self.cores, numPartitions=self.cores)
         .mapInPandas(_import_library, "id long").count())
        self.setup["session_start_s"] = time.perf_counter() - t0
        self.rec = Recorder(self.spark.sparkContext, self.args.workload,
                            tag_jobs=False)
        self.wl = WORKLOADS[self.args.workload](
            self.spark, self.rec, str(self.work), self.args.seed,
            self.args.scale, self.cores)

    def stage(self, reps: int = 2):
        """Stage the input ``reps`` times; the staging time is the
        median, and every copy must have the same content fingerprint."""
        from workloads import dir_bytes
        walls, prints = [], []
        for k in range(reps):
            path = str(self.work / f"stage{k}")
            t0 = time.perf_counter()
            prints.append(self.wl.stage(path))
            walls.append(time.perf_counter() - t0)
        os.rename(path, self.wl.staged)
        for k in range(reps - 1):
            shutil.rmtree(self.work / f"stage{k}")
        self.setup["stage_s"] = _median(walls)
        self.check("staged_input_content_addressed",
                   len(set(prints)) == 1 and prints[0][0] == self.wl.n)
        self.fingerprint = [str(v) for v in prints[0]]
        self.staged_bytes = dir_bytes(self.wl.staged)
        self.wl.load()
        t0 = time.perf_counter()
        self.wl.truth()
        self.setup["truth_s"] = time.perf_counter() - t0

    def check(self, name: str, ok: bool, gate: bool = True):
        """Count one operation: a run-level gate, or a whole pass."""
        if gate:
            self.checks_run.add(name)
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(name)

    # ------------------------------------------------------------ passes
    def warm_up(self) -> None:
        """Passes until WARMUP_S seconds have gone, at least one: the first
        pass pays for Python-worker start, JIT and code generation, and
        the small jobs of the next few still speed up."""
        t0 = time.perf_counter()
        self.next_pass()
        while time.perf_counter() - t0 < WARMUP_S:
            self.next_pass()
        self.setup["warmup_s"] = time.perf_counter() - t0
        self.warmup_passes = self.n_passes

    def next_pass(self) -> int:
        """Run pass number ``n_passes`` → its number. A pass is one
        operation: it fails if a call raises or a check on its outputs
        fails."""
        i = self.n_passes
        self.n_passes += 1
        self.rec.pass_no = i
        try:
            with self.rec.span("pass") as root:
                out, checks = self.wl.run_pass(i)
            self.outputs[i] = out
            self.wl.pass_checks[i] = checks
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.wl.pass_checks[i] = {"raised": False}
        finally:
            self.rec.pass_no = None
        self.roots[i] = root["id"]
        self.walls[i] = root["end"] - root["start"]
        self.wl.cleanup_pass()
        return i

    def run_gates(self):
        try:
            checks = self.wl.gates(self.outputs) if self.outputs else {
                "some_pass_completed": False}
        except Exception:
            traceback.print_exc(file=sys.stderr)
            checks = {"gates_raised": False}
        for name, ok in checks.items():
            self.check(name, ok)
        for i, pc in sorted(self.wl.pass_checks.items()):
            self.checks_run.update(pc)
            self.check(f"pass{i}", all(pc.values()), gate=False)
            self.failures.extend(f"pass{i}:{k}" for k, ok in pc.items()
                                 if not ok)

    # ------------------------------------------------------------ metrics
    def end_to_end(self, measured: list[int]) -> dict:
        from ledger import kind_total
        ok = [i for i in measured if i in self.outputs] or measured
        builds = [kind_total(self.rec.of_pass(i), "build") for i in ok]
        queries = [kind_total(self.rec.of_pass(i), "query") for i in ok]
        build = _median(builds)
        last = self.outputs.get(max(ok)) if ok else None
        return {
            "setup_s": sum(self.setup.values()),
            "wall_s": _median([self.walls[i] for i in ok]),
            "build_docs_per_s": self.wl.n / build if build else 0.0,
            "query_s": _median(queries),
            "output_bytes": float(self.wl.output_bytes(last)) if last else 0.0,
            "driver_peak_rss_mb":
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        }

    def call_walls(self) -> dict:
        """Each call's wall per pass, warm-up first: which call moved."""
        from ledger import duration
        out: dict[str, list] = {}
        for s in self.rec.spans:
            if s["parent"] is not None and s["pass"] is not None:
                out.setdefault(s["name"], []).append(round(duration(s), 4))
        return out

    def record(self, probe: dict) -> dict:
        """What the run measured on: recorded next to every result."""
        import numpy
        import pyarrow
        import pyspark
        wl = self.wl
        return {
            "workload": wl.name, "seed": self.args.seed,
            "scale": self.args.scale, "trace": self.args.trace,
            "cores": self.cores, "driver_memory_mb": driver_memory_mb(),
            "docs": wl.n, "id_range": [wl.offset, wl.offset + wl.n],
            "input_fingerprint": self.fingerprint,
            "warmup_passes": self.warmup_passes,
            "pass_walls": [self.walls[i] for i in sorted(self.walls)],
            "call_walls": self.call_walls(),
            "setup": self.setup,
            "failures": self.failures, "checks_run": sorted(self.checks_run),
            "phase_probe": probe,
            "versions": {"python": platform.python_version(),
                         "pyspark": pyspark.__version__,
                         "pyarrow": pyarrow.__version__,
                         "numpy": numpy.__version__}}

    def per_layer(self, m: dict, event_log: Path, untraced: int,
                  traced: int) -> dict:
        """Span times, the self-time ledger and event-log counters of the
        traced pass, plus the stage split's spans."""
        from ledger import (SPARK_COUNTERS, duration, read_event_log,
                            self_times, spark_totals, subtree)
        spans = self.rec.spans
        pass_ids = subtree(spans, self.roots[traced])
        stage_ids = [s["id"] for s in spans
                     if s["name"] == "stages" and s["parent"] is None]
        named = pass_ids + [j for r in stage_ids for j in subtree(spans, r)]
        m = {"session.start_s": self.setup["session_start_s"],
             "sources.stage_s": self.setup["stage_s"],
             "sources.staged_bytes": self.staged_bytes, **m}
        for sid in named:
            s = spans[sid]
            if s["parent"] is not None:
                key = f"{s['name']}_s"
                m[key] = m.get(key, 0.0) + duration(s)
        layers, other = self_times(spans, self.roots[traced])
        for layer, t in layers.items():
            m[f"ledger.{layer}_s"] = t
        m["driver.other_s"] = other
        m["trace.wall_s"] = self.walls[traced]
        m["trace.overhead_frac"] = (self.walls[traced] / self.walls[untraced]
                                    - 1)
        per_span = read_event_log(str(event_log))
        tot = spark_totals(per_span, pass_ids)
        for k in SPARK_COUNTERS:
            m[f"spark.{k}"] = tot[k]
        builds = [sid for sid in pass_ids if spans[sid]["name"] == "rollup.build"]
        if builds:
            rows = spark_totals(per_span, builds)["shuffle_write_records"]
            m["rollup.partial_rows"] = rows
            if m.get("rollup.cube_rows"):
                m["rollup.partials_per_cube_row"] = rows / m["rollup.cube_rows"]
        self.per_span = per_span
        return m


def teardown(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def emit(metrics: dict, declared: dict) -> dict:
    extra = set(metrics) - set(declared)
    if extra:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {extra}")
    return {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
            for name, unit in declared.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "bloom_filters_spark" / "__init__.py").is_file():
        print(f"perfbench: no bloom_filters_spark package in {ROOT}",
              file=sys.stderr)
        return 2
    declared = declared_metrics()
    cores = len(os.sched_getaffinity(0))
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"{args.workload}-",
                                 dir=ROOT / ".perfbench"))
    run = Run(args, work, cores)
    try:
        event_log = work / "eventlog" if args.trace else None
        launch_env(work, event_log)
        sys.path[:0] = [str(ROOT), str(HERE)]
        probe = phase_probe(cores, bool(args.trace))
        try:
            run.start()
            run.stage()
            run.warm_up()
            if args.trace:
                untraced = run.next_pass()
                run.rec.tag_jobs = True
                traced = run.next_pass()
                run.wl.traced_extras(traced)
                run.rec.tag_jobs = False
                run.run_gates()
                m = run.wl.traced_metrics(run.outputs[traced]) \
                    if traced in run.outputs else {}
                m.update(run.wl.counters)
            else:
                first, t_end = run.n_passes, time.perf_counter() + args.seconds
                run.next_pass()
                while time.perf_counter() < t_end:
                    run.next_pass()
                run.run_gates()
                m = run.end_to_end(list(range(first, run.n_passes)))
        finally:
            if hasattr(run, "spark"):
                teardown(run.spark)
        record = run.record(probe)
        if args.trace:
            m.update(run.per_layer(m, event_log, untraced, traced))
            trace_path = ROOT / ".perfbench" / (
                f"trace_{args.workload}_seed{args.seed}.json")
            run.rec.write(str(trace_path), {
                "record": record, "metrics": m,
                "spark_per_span": {str(k): v
                                   for k, v in run.per_span.items()}})
            record["trace_file"] = str(trace_path.relative_to(ROOT))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("# perfbench " + json.dumps(record), flush=True)
    kind = "per_layer" if args.trace else "end_to_end"
    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": emit(m, declared[kind])}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
