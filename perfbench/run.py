"""Closed-loop benchmark of the engine's registry entry points.

    python3 perfbench/run.py --workload fixture_mix --seed 1 --seconds 16 --trace 0

One client sends requests back to back on ``local[<cores>]``. A request is
one builder call plus one sink action (a collect to pandas, or the paper's
letter-partitioned text sink); every timed request's output is checked.
With ``--trace 0`` the last stdout line is a JSON object holding the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics of a
traced run. Earlier lines print every metric with its unit. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "mapreduce_paradigm_spark"
SETUPS = 3  # set-ups per run; setup_s is their median
# untimed passes between set-up and timing, until this many seconds are
# spent: the first passes after the last set-up's session restart are slower
WARMUP_S = 4.0
SETTLE_S = 0.1  # pause after each request, so its asynchronous cleanup stays out of the next one
MB = 1024.0 * 1024.0
# operators whose calls, self time and jobs are per-layer metrics of every
# traced run (0 where a workload does not call them); others print as notes
TRACKED_OPERATORS = (
    "inverted_index",
    "jaccard_pairs_prefix_filter",
    "minhash_lsh_pairs",
)


@dataclass(frozen=True)
class Request:
    query: str
    # "collect": the rows come back to the client as pandas, and those rows
    # are checked; "letters": the paper pipeline's letter-partitioned text
    # sink, whose files are checked
    sink: str = "collect"

    @property
    def key(self) -> str:
        return self.query if self.sink == "collect" else f"{self.query}@{self.sink}"


@dataclass(frozen=True)
class Workload:
    inputs: str  # "star" (fixture-shaped tables) or "zipf" (documents only)
    size: float  # scale factor for "star", document count for "zipf"
    requests: tuple[Request, ...]


WORKLOADS: dict[str, Workload] = {
    # short relational, window and text queries: fixed per-job latency and
    # builder-side jobs
    "fixture_mix": Workload("star", 0.01, tuple(map(Request, (
        "pricing_summary",
        "revenue_by_region",
        "inverted_index_letter_rank",
        "sessionize_30min",
        "quantity_percentiles",
    )))),
    # the paper's index-and-write pipeline next to shuffle-heavy pair joins
    "corpus_pipeline": Workload("zipf", 800, (
        Request("inverted_index", sink="letters"),
        Request("ngram_jaccard_prefix_filter"),
        Request("minhash_lsh_pairs"),
    )),
}


def percentile(values: list[float], q: int) -> float | None:
    """The q-th percentile, or None unless at least ten samples lie beyond it."""
    if len(values) * (100 - q) < 1000:
        return None
    return statistics.quantiles(values, n=100)[q - 1]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def fmt(values: list[float]) -> str:
    return "[" + ", ".join(f"{v:.3f}" for v in values) + "]"


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for base, _dirs, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                size += os.path.getsize(os.path.join(base, name))
                files += 1
    return size, files


@dataclass
class Loop:
    """What the timed loop measured."""

    latencies: list[float] = field(default_factory=list)
    per_request: dict[str, list[float]] = field(default_factory=dict)
    passes: list[float] = field(default_factory=list)
    traced_passes: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    traced_wall_s: float = 0.0
    traced_pause_s: float = 0.0
    persisted_rdds_max: int = 0
    storage_mb_max: float = 0.0
    bytes_written: int = 0
    files_written: int = 0


class Bench:
    def __init__(self, name: str, sf_dir: str, trace: bool, cores: int, scratch: str) -> None:
        self.name = name
        self.workload = WORKLOADS[name]
        self.sf_dir = sf_dir
        self.trace = trace
        self.cores = cores
        self.scratch = scratch
        self.event_logs = os.path.join(scratch, "events")
        self.out_dir = os.path.join(scratch, "letters")
        self.spark = None
        self.specs = None
        self.tracer = None

    # -- session -------------------------------------------------------
    def start_session(self) -> float:
        from mapreduce_paradigm_spark.session import get_spark

        t0 = time.perf_counter()
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.scratch, 'tmp')}",
            "spark.local.dir": os.path.join(self.scratch, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_logs, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_logs,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- one request ---------------------------------------------------
    def phase(self, rid: int | None, layer: str, name: str, phase: str):
        if rid is None:
            return contextlib.nullcontext()
        self.spark.sparkContext.setJobGroup(f"{rid}:{phase}", name, False)
        return self.tracer.span(layer, name)

    def run_request(self, req: Request, traced: bool = False):
        """Build and run one request; returns (collected rows or None, latency s)."""
        from mapreduce_paradigm_spark import sinks
        from mapreduce_paradigm_spark.operators import index
        from mapreduce_paradigm_spark.sources import tables

        t0 = time.perf_counter()
        try:
            with self.tracer.span("request", req.key) if traced else contextlib.nullcontext() as root:
                rid = root["id"] if traced else None
                rows = None
                if req.sink == "letters":
                    with self.phase(rid, "build", "pipeline", "pipeline"):
                        df = index.inverted_index(tables.load_table(self.spark, self.sf_dir, "documents"))
                    with self.phase(rid, "sinks", "write_letter_partitioned", "write"):
                        sinks.write_letter_partitioned(df, self.out_dir)
                else:
                    with self.phase(rid, "registry", "QuerySpec.builder", "build"):
                        df = self.specs[req.query].builder(self.spark, self.sf_dir)
                    with self.phase(rid, "sinks", "collect", "action"):
                        rows = df.toPandas()
        finally:
            if traced:  # later jobs (checks, untraced passes) belong to no request
                self.spark.sparkContext.setJobGroup("check", "output check", False)
        return rows, time.perf_counter() - t0

    def warm_pass(self) -> float:
        t0 = time.perf_counter()
        for req in self.workload.requests:
            self.run_request(req)
        gc.collect()
        return time.perf_counter() - t0

    # -- set-up ----------------------------------------------------------
    def setup(self) -> tuple[list[float], float, float]:
        """Run SETUPS set-ups and return (set-up s, launch s, import s).

        Launching (imports, the JVM, the first session) and importing the
        registry happen once per process; they are timed once and counted
        in every set-up. Each set-up then adds a session start (a restart
        of the session after the first) and one warm pass."""
        t0 = time.perf_counter()
        launch_s = self.start_session()
        t1 = time.perf_counter()
        from mapreduce_paradigm_spark.registry import all_specs

        self.specs = all_specs()
        import_s = time.perf_counter() - t1
        once = time.perf_counter() - t0
        setups = [once + self.warm_pass()]
        for _ in range(SETUPS - 1):
            self.spark.stop()
            setups.append(once + self.start_session() + self.warm_pass())
        return setups, launch_s, import_s

    # -- timed loop ------------------------------------------------------
    def settle(self, loop: Loop) -> None:
        """Drop the last result (its finalizers release the operator caches
        it held), pause, then probe what stays cached."""
        gc.collect()
        time.sleep(SETTLE_S)
        jsc = self.spark.sparkContext._jsc
        loop.persisted_rdds_max = max(loop.persisted_rdds_max, jsc.getPersistentRDDs().size())
        storage = sum(info.memSize() for info in jsc.sc().getRDDStorageInfo()) / MB
        loop.storage_mb_max = max(loop.storage_mb_max, storage)

    def timed_loop(self, checker, seconds: float) -> Loop:
        """Untimed passes for WARMUP_S, then timed passes until ``seconds``
        are spent, and at least two; in a traced run every second timed pass
        is traced."""
        warm_s = 0.0
        while warm_s < WARMUP_S:
            warm_s += self.warm_pass()
        loop = Loop(per_request={r.key: [] for r in self.workload.requests})
        deadline = time.perf_counter() + seconds
        p = 0
        while p < 2 or time.perf_counter() < deadline:
            traced = self.trace and p % 2 == 1
            if traced:
                self.tracer.install()
            pass_t0 = time.perf_counter()
            pass_s = pause_s = 0.0
            for req in self.workload.requests:
                loop.attempted += 1
                try:
                    rows, latency = self.run_request(req, traced)
                    pause_t0 = time.perf_counter()
                    pass_s += latency
                    loop.latencies.append(latency)
                    loop.per_request[req.key].append(latency)
                    ok = checker.check(req, rows)
                    del rows
                except Exception:  # one failed request must not end the run
                    traceback.print_exc()
                    pause_t0, ok = time.perf_counter(), False
                loop.failed += not ok
                if traced and req.sink == "letters":
                    size, files = dir_stats(self.out_dir)
                    loop.bytes_written += size
                    loop.files_written += files
                self.settle(loop)
                pause_s += time.perf_counter() - pause_t0
            if traced:
                self.tracer.uninstall()
                loop.traced_passes.append(pass_s)
                loop.traced_wall_s += time.perf_counter() - pass_t0
                loop.traced_pause_s += pause_s
            else:
                loop.passes.append(pass_s)
            p += 1
        return loop


def end_to_end(setups: list[float], loop: Loop, rss_mb: float):
    q1, pass_med, q3 = quartiles(loop.passes)
    p50 = statistics.median(loop.latencies) if loop.latencies else float("nan")
    p90 = percentile(loop.latencies, 90)
    n = len(loop.latencies)
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "pass_s": (pass_med, "s"),
        "query_p50_s": (p50, "s"),
    }
    notes = {
        "setup_s": f"median of {len(setups)} set-ups {fmt(setups)}",
        "pass_s": f"median of {len(loop.passes)} passes, q1 {q1:.3f} q3 {q3:.3f}",
        "query_p50_s": f"{n} requests",
    }
    extra = [
        ("query_p90_s", p90 if p90 is not None else float("nan"), "s",
         f"{n} requests" + ("" if p90 is not None else "; p90 needs >= 100")),
        ("failed_frac", loop.failed / loop.attempted, "1", f"{loop.failed} of {loop.attempted}"),
        ("jvm_peak_rss_mb", rss_mb, "MB", "VmHWM of the driver JVM"),
    ]
    return metrics, notes, extra


def per_layer(bench: Bench, loop: Loop, launch_s: float, import_s: float, rss_mb: float, app_id: str):
    from tracing import layer_metrics, read_event_log

    jobs, tasks = read_event_log(os.path.join(bench.event_logs, app_id))
    layer, ops = layer_metrics(bench.tracer.spans, jobs, tasks, len(loop.traced_passes), bench.cores)
    n = max(1, len(loop.traced_passes))
    spans = bench.tracer.spans
    phase_s = sum(
        s["t1"] - s["t0"] for s in spans
        if s["parent"] is not None and spans[s["parent"]]["layer"] == "request"
    )
    units = (("_s", "s"), ("_mb", "MB"), ("_share", "1"), ("_util", "1"), ("_median", "1"))
    metrics = {
        "session.start_s": (launch_s, "s"),
        "session.jvm_peak_rss_mb": (rss_mb, "MB"),
        "registry.import_s": (import_s, "s"),
    }
    for key, val in layer.items():
        metrics[key] = (val, next((u for suffix, u in units if key.endswith(suffix)), "count"))
    metrics.update({
        "sinks.bytes_written": (loop.bytes_written / n, "bytes"),
        "sinks.files_written": (loop.files_written / n, "count"),
        "cache.persisted_rdds_after_request": (float(loop.persisted_rdds_max), "count"),
        "cache.storage_mem_mb": (loop.storage_mb_max, "MB"),
        "trace.overhead_frac": (
            statistics.median(loop.traced_passes) / statistics.median(loop.passes) - 1.0, "1"),
        "trace.span_coverage": (phase_s / (loop.traced_wall_s - loop.traced_pause_s), "1"),
    })
    idle = {"calls": 0.0, "self_s": 0.0, "jobs": 0.0}
    for fn in TRACKED_OPERATORS:
        for k, v in ops.get(fn, idle).items():
            metrics[f"operators.{fn}.{k}"] = (v, "s" if k == "self_s" else "count")
    extra = [
        (f"operators.{fn}.{k}", v, "s" if k == "self_s" else "count", "per traced pass")
        for fn, rec in ops.items() if fn not in TRACKED_OPERATORS for k, v in rec.items()
    ]
    return metrics, {}, extra


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0,
        help="multiply the workload's input size (the self-test uses 0.1)",
    )
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import gen
    from checks import Checker

    wl = WORKLOADS[args.workload]
    size = wl.size * args.scale if wl.inputs == "star" else max(200, int(wl.size * args.scale))
    sf_dir = gen.ensure_inputs(os.path.join(WORK, "inputs"), wl.inputs, args.seed, size)

    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata_*
    bench = Bench(args.workload, sf_dir, bool(args.trace), len(os.sched_getaffinity(0)), scratch)
    try:
        setups, launch_s, import_s = bench.setup()
        from tracing import Tracer

        bench.tracer = Tracer()
        checker = Checker(bench, os.path.join(sf_dir, f"hashes-{args.workload}.json"))
        checker.prepare()
        loop = bench.timed_loop(checker, args.seconds)
        checker.save()
        pid = bench.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss_mb = jvm_peak_rss_mb(pid)
        app_id = bench.spark.sparkContext.applicationId
        bench.close()
        if args.trace:
            metrics, notes, extra = per_layer(bench, loop, launch_s, import_s, rss_mb, app_id)
        else:
            metrics, notes, extra = end_to_end(setups, loop, rss_mb)
    finally:
        bench.close()
        shutil.rmtree(scratch, ignore_errors=True)

    extra += [
        (f"query.{key}.p50_s", statistics.median(vals), "s", f"{len(vals)} samples")
        for key, vals in loop.per_request.items() if vals
    ]
    rows = [(k, v, u, notes.get(k, "")) for k, (v, u) in metrics.items()] + extra
    for key, val, unit, note in rows:
        print(f"{args.workload:16s} {key:40s} {val:14.4f} {unit:6s} {note}")
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def jvm_peak_rss_mb(pid: int) -> float:
    """VmHWM of process ``pid``, read from /proc."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM missing from /proc/{pid}/status")


if __name__ == "__main__":
    sys.exit(main())
