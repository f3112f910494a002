"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload simjoin --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed,
starts one Spark session (``local[<cores>]``), runs a warm-up pass of the
workload's op list (the cold cost) whose outputs are then collected,
untimed, and checked against each key's DuckDB oracle, then runs timed passes, each on a fresh copy of
the inputs, while another pass still fits in ``--seconds`` (at least one).
Each op is forced by a fingerprint of all its output columns, which must
equal the checked one.
``spark.catalog.clearCache()`` runs after every op, as in ``bench.py``.

With ``--trace 1`` the layer entry points are wrapped (see ``tracing.py``),
Spark's event log is on, and the per-layer metrics are printed instead of
the end-to-end ones. Passes then alternate traced and untraced, and the
difference of their medians is the tracing overhead.

Everything the run writes lives under ``.perfbench_work/`` in the current
directory and is removed at exit. Progress goes to stderr; the last line
of stdout is the result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
sys.path.insert(0, str(HERE))

import tracing  # noqa: E402
from gen import generate  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

TRIVIAL_OP = "q_scan_project"
#: end-to-end metrics, in BENCHMARK.json order
END_TO_END = (("pass_s", "s"), ("warmup_s", "s"), ("op_p50_s", "s"),
              ("peak_rss_mb", "MB"), ("setup_s", "s"))
DRIVER_MEMORY = "1g"
SHUFFLE_PARTITIONS = 4


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc (no psutil here)."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_hwm(pid: int | str) -> None:
    """Restart a process's peak resident set from its current one."""
    Path(f"/proc/{pid}/clear_refs").write_text("5")


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        self.base = self.work / "data" / "base"  # generated once, copied per pass
        self.cores = len(os.sched_getaffinity(0))
        self.rec = None
        self.spark = None
        self.gateway = None
        self.per_key: dict[str, list[float]] = {}

    # ------------------------------------------------------------ set-up
    def environment(self) -> None:
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["PYSPARK_PYTHON"] = sys.executable
        # every JVM, the launcher's included: temp files here, no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        submit = ["--conf spark.ui.showConsoleProgress=false"]
        if self.args.trace:
            events = self.work / "eventlog"
            events.mkdir()
            submit += [
                "--conf spark.eventLog.enabled=true",
                f"--conf spark.eventLog.dir=file://{events}",
                "--conf spark.eventLog.compress=false",
                "--conf spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])

    def setup(self) -> float:
        """Session start, registry import and the first trivial op; returns
        seconds since process start."""
        from pyspark import SparkContext

        from check import fingerprint
        from hive_similarity_join_spark import session
        from hive_similarity_join_spark.registry import QUERIES, load_registry

        if self.args.trace:
            self.rec = tracing.Recorder()
            tracing.install(self.rec)  # before the registry binds the layers
        t0 = time.time()
        self.spark = session.get_spark("perfbench", shuffle_partitions=SHUFFLE_PARTITIONS)
        self.session_start_s = time.time() - t0
        self.gateway = SparkContext._gateway
        self.spark.sparkContext.setLogLevel("ERROR")
        load_registry()
        if self.rec is not None:
            tracing.rebind(self.rec)
            self.rec.sc = self.spark.sparkContext
        self.queries = QUERIES
        self.fingerprint = fingerprint
        fingerprint(QUERIES[TRIVIAL_OP](self.spark, str(self.base)))
        self.spark.catalog.clearCache()
        return time.perf_counter() - T_START

    def fresh_copy(self, tag: str) -> Path:
        d = self.work / "data" / tag
        shutil.copytree(self.base, d)
        return d

    # ------------------------------------------------------------ passes
    def warmup_and_check(self) -> tuple[float, dict, dict]:
        """The warm-up pass: returns its forced-op time (``warmup_s``), the
        checked fingerprint per key and the problems found per key. The
        oracle checks run outside the timed part."""
        from check import OracleChecker

        from hive_similarity_join_spark.registry import ORACLES

        d = self.fresh_copy("warm")
        checker = OracleChecker(ROOT, d)
        fps, problems, wall = {}, {}, 0.0
        try:
            for key in self.workload.ops:
                t = time.perf_counter()
                try:
                    df = self.queries[key](self.spark, str(d))
                    fps[key] = self.fingerprint(df)
                except Exception as e:
                    problems[key] = [f"spark raised {type(e).__name__}: {str(e)[:300]}"]
                    wall += time.perf_counter() - t
                    self.spark.catalog.clearCache()
                    continue
                op_s = time.perf_counter() - t
                wall += op_s
                if fps[key][0] == 0:
                    log(f"warning: {key} returned no rows on this input")
                try:  # deterministic outputs: the recompute is the fingerprinted one
                    found = checker.check(df.toPandas(), ORACLES[key])
                except Exception as e:
                    found = [f"check raised {type(e).__name__}: {str(e)[:300]}"]
                if found:
                    problems[key] = found
                log(f"warm {key}: {op_s:.2f}s, {fps[key][0]} rows, checked in "
                    f"{time.perf_counter() - t - op_s:.2f}s")
                self.spark.catalog.clearCache()
        finally:
            checker.close()
            shutil.rmtree(d, ignore_errors=True)
        return wall, fps, problems

    def timed_pass(self, n: int, fps: dict, problems: dict, lat: list, traced: bool):
        d = self.fresh_copy(f"pass{n}")
        attempted = failed = 0
        rec = self.rec if traced else None
        span = rec.span if rec is not None else (lambda layer, name: contextlib.nullcontext())
        if rec is not None:
            rec.enabled = True
        with span("bench", f"pass{n}") as root:
            t0 = time.perf_counter()
            for key in self.workload.ops:
                t = time.perf_counter()
                with span("bench", key) as op:
                    if rec is not None:
                        rec.op = op["id"]
                    try:
                        with span("queries", "build"):
                            df = self.queries[key](self.spark, str(d))
                        with span("queries", "action"):
                            fp = self.fingerprint(df)
                        if fp != fps.get(key):
                            problems.setdefault(key, []).append(
                                f"pass {n} fingerprint {fp} != checked {fps.get(key)}")
                    except Exception as e:
                        problems.setdefault(key, []).append(
                            f"pass {n} raised {type(e).__name__}: {str(e)[:300]}")
                    self.spark.catalog.clearCache()
                lat.append(time.perf_counter() - t)
                self.per_key.setdefault(key, []).append(lat[-1])
                attempted += 1
                failed += key in problems
            wall = time.perf_counter() - t0
        if rec is not None:
            rec.enabled = False
        shutil.rmtree(d, ignore_errors=True)
        return wall, attempted, failed, root

    # ------------------------------------------------------------ memory
    def _pids(self) -> list:
        proc = getattr(self.gateway, "proc", None)
        return ["self"] + ([proc.pid] if proc is not None else [])

    def reset_peak_rss(self) -> None:
        """Drop the set-up's and the warm-up check's peak (collected outputs,
        DuckDB oracles), so ``peak_rss_mb`` covers the timed passes only."""
        for pid in self._pids():
            reset_hwm(pid)

    def peak_rss_mb(self) -> float:
        return sum(vm_hwm_mb(pid) for pid in self._pids())

    # ------------------------------------------------------------ teardown
    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        if self.gateway is not None:
            proc = self.gateway.proc
            self.gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "hive_similarity_join_spark" / "registry.py").is_file() or not (
        ROOT / "tools" / "selfcheck.py"
    ).is_file():
        log(f"perfbench: run from the repository root; no package under {ROOT}")
        return 2
    sys.path.insert(0, str(ROOT))

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    try:
        result = measure(run)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(run: Run) -> dict:
    args, w = run.args, run.workload
    try:
        run.environment()
        t = time.perf_counter()
        log(f"planted rows {generate(run.base, args.seed, w.corpus)}")
        gen_s = time.perf_counter() - t
        # the inputs are the benchmark's own work, not the program's set-up
        setup_s = run.setup() - gen_s
        log(f"setup {setup_s:.2f}s")
        warmup_s, fps, problems = run.warmup_and_check()
        log(f"warm-up {warmup_s:.2f}s; {len(problems)} keys with problems")
        run.reset_peak_rss()

        lat: list[float] = []
        passes, traced_passes, untraced = [], [], []
        attempted = failed = 0
        t_timed = time.perf_counter()
        # Passes run while another one still fits in --seconds (at least one;
        # two when traced, to compare a traced pass with an untraced one).
        min_passes = 2 if args.trace else 1
        while len(passes) < min_passes or (
            time.perf_counter() - t_timed + statistics.median(passes) <= args.seconds
        ):
            n = len(passes)
            traced = bool(args.trace) and n % 2 == 0
            wall, a, f, root = run.timed_pass(n, fps, problems, lat, traced)
            (traced_passes if traced else untraced).append((wall, root))
            passes.append(wall)
            attempted += a
            failed += f
        peak = run.peak_rss_mb()
    finally:
        run.stop()

    log("per-key pass latencies: " + ", ".join(
        f"{k} {statistics.median(v):.2f}" for k, v in run.per_key.items()))
    for key, found in sorted(problems.items()):
        log(f"FINDING {key}: " + "; ".join(found[:3]))
    if args.trace:
        metrics = traced_metrics(run, traced_passes, untraced)
    else:
        values = {"pass_s": statistics.median(passes), "warmup_s": warmup_s,
                  "op_p50_s": statistics.median(lat), "peak_rss_mb": peak,
                  "setup_s": setup_s}
        metrics = {name: (values[name], unit) for name, unit in END_TO_END}
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced_metrics(run: Run, traced: list, untraced: list) -> dict:
    """Per-layer metrics: medians over the traced passes. The spans are
    kept in ``.perfbench_work/spans/<workload>-<seed>.jsonl``."""
    log_ = tracing.read_event_log(run.work / "eventlog")
    spans_dir = run.work.parent / "spans"
    spans_dir.mkdir(exist_ok=True)
    run.rec.dump(spans_dir / f"{run.args.workload}-{run.args.seed}.jsonl")
    per_pass = []
    for wall, root in traced:
        ids = {root["id"]}
        spans = [root]
        for s in run.rec.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                spans.append(s)
        per_pass.append(tracing.layer_metrics(spans, run.rec.cache_events, log_, run.cores))
    metrics = {
        name: statistics.median(p[name] for p in per_pass) for name in per_pass[0]
    }
    metrics["session.start_s"] = run.session_start_s
    metrics["trace.overhead_s"] = (
        statistics.median(w for w, _ in traced) - statistics.median(w for w, _ in untraced)
    )
    return {k: (v, tracing.unit(k)) for k, v in metrics.items()}


if __name__ == "__main__":
    raise SystemExit(main())
