#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Workloads: `dashboard` and `research` (perfbench/querymix.py) and
`ticks` (perfbench/ticks.py); README.md in this directory says why
each exists. With `--trace 0` the last stdout line carries the
end-to-end metrics of BENCHMARK.json, with `--trace 1` its per-layer
metrics. Earlier stdout lines repeat the numbers under the names the
workloads use (query_p50_s, tick_freshness_p90_s, op_fail_ratio, ...)
and name every failed operation.

The queries read the copy of the engine's seed-42 fixtures under
`perfbench/fixture/`. Everything the run writes stays under
`.perfbench/` in the checkout: the oracle answers (kept between runs),
and a scratch root per run for temporary files, Spark's local dirs,
the stream source, checkpoints and the upsert target (removed when the
run ends).
"""

from __future__ import annotations

import time

#: Set-up time counts from here, before pyspark and the engine load.
STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "big_data_share_market_spark"
WORKLOADS = ("dashboard", "research", "ticks")


@dataclass
class Context:
    workload: str
    started: float
    seed: int
    seconds: float
    trace: bool
    cores: int
    cache: str
    run_root: str
    failures: list[str] = field(default_factory=list)
    attempted: int = 0

    def fixture(self, sf: float) -> str:
        return os.path.join(HERE, "fixture", f"sf{sf}")

    @property
    def oracle_dir(self) -> str:
        return os.path.join(self.cache, "oracle")

    def fail(self, op: str, why: str) -> None:
        self.failures.append(f"{op}: {why}")
        print(f"FAILED {op}: {why}", file=sys.stderr, flush=True)


def _tree_pids(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat[stat.rindex(")") + 2:].split()[1])
    tree, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    return tree


def _rss_bytes(pids: list[int]) -> int:
    """Resident memory of `pids`, leaving out a java process whose
    parent is java: a fork of the JVM about to exec a helper, which
    shares the JVM's pages and would count them twice."""
    total = 0
    for pid in pids:
        try:
            if os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java":
                with open(f"/proc/{pid}/stat") as fh:
                    stat = fh.read()
                ppid = stat[stat.rindex(")") + 2:].split()[1]
                if os.path.basename(os.readlink(f"/proc/{ppid}/exe")) == "java":
                    continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * os.sysconf("SC_PAGE_SIZE")


class PeakMemory(threading.Thread):
    """Samples the memory of this process and all its descendants (the
    JVM and its Python workers) every 0.2 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()

    def run(self) -> None:
        while True:
            self.peak = max(self.peak, _rss_bytes(_tree_pids(os.getpid())))
            if self._done.wait(0.2):
                return

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


class _TmpPath:
    def __init__(self, tmp: str) -> None:
        self._tmp = tmp

    def join(self, first, *rest):
        return os.path.join(self._tmp if first == "/tmp" else first, *rest)

    def __getattr__(self, name):
        return getattr(os.path, name)


class _TmpOs:
    """`os` with `os.path.join("/tmp", ...)` landing in `tmp`."""

    def __init__(self, tmp: str) -> None:
        self.path = _TmpPath(tmp)

    def __getattr__(self, name):
        return getattr(os, name)


def _isolate(run_root: str) -> None:
    """Point every scratch write of Spark, the JVM, the Python workers
    and the engine's session start into the run's scratch root, before
    the JVM starts."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": java_opts,  # spark-submit's own helper JVM
        "SPARK_LOCAL_DIRS": os.path.join(run_root, "spark-local"),
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
            "--conf", shlex.quote(
                f"spark.sql.warehouse.dir={os.path.join(run_root, 'warehouse')}"),
            "pyspark-shell"]),
    })
    # session.get_spark zips the engine to /tmp for the workers; it still
    # zips and ships it, into the run's tmp instead.
    from big_data_share_market_spark import session
    session.os = _TmpOs(tmp)


def _stop_spark() -> None:
    """Stop the session and the JVM, and wait until every process the
    run started has ended."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while len(_tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in _tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def _declared(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found next to {HERE}: run from a checkout "
              f"of the repository", file=sys.stderr)
        return 2
    declared = _declared(bool(args.trace))
    sys.path[:0] = [HERE, ROOT]
    cache = os.path.join(ROOT, ".perfbench")
    ctx = Context(args.workload, STARTED, args.seed, args.seconds, bool(args.trace),
                  len(os.sched_getaffinity(0)), cache,
                  os.path.join(cache, "runs",
                               f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(ctx.run_root, ignore_errors=True)
    _isolate(ctx.run_root)
    memory = PeakMemory()
    memory.start()
    try:
        if args.workload == "ticks":
            import ticks as workload
        else:
            import querymix as workload
        end_to_end, layers, report = workload.run(ctx)
    finally:
        _stop_spark()
        peak_mb = memory.stop()
        shutil.rmtree(ctx.run_root, ignore_errors=True)
    end_to_end["peak_rss_mb"] = peak_mb
    report["peak_rss_mb"] = (peak_mb, "MB")
    report["op_fail_ratio"] = (len(ctx.failures) / max(ctx.attempted, 1), "ratio")
    report.update((name, (value, declared[name])) for name, value in layers.items())
    for name, (value, unit) in report.items():
        print(f"{args.workload} {name} {value:.6g} {unit}")
    for failure in ctx.failures:
        print(f"{args.workload} FAILED {failure}")
    metrics = layers if args.trace else end_to_end
    if set(metrics) - set(declared):
        raise KeyError(f"not in BENCHMARK.json: {sorted(set(metrics) - set(declared))}")
    if not args.trace and set(declared) - set(metrics):
        raise KeyError(f"not measured: {sorted(set(declared) - set(metrics))}")
    # A per-layer metric of a layer the workload does not use reads 0.
    print(json.dumps({
        "correct": not ctx.failures,
        "attempted": ctx.attempted,
        "failed": len(ctx.failures),
        "metrics": {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                    for name, unit in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
