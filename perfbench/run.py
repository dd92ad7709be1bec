"""Closed-loop benchmark of the distgrep_spark engine.

    python3 perfbench/run.py --workload grep_corpus --seed 1 --seconds 10 --trace 0

One client runs one op at a time on ``local[<cores>]``. A run makes its
inputs from ``--seed`` (cached per seed under ``perfbench/.work``), starts
the session three times (``setup_s`` is the median), runs every op class
untimed and checks its output against DuckDB, then times a
fixed number of seeded passes over the op mix, checking each op's output
fingerprint. ``--seconds`` sets the number of timed passes (see ``Workload.pass_s``).
End-to-end times are scaled by the host's speed, measured with a fixed
Spark job between ops (``host_ref``). The last stdout line is one JSON object:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A readable table goes to stderr. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUP_CYCLES = 3
# host_ref()'s median time before a timed op on the 4-core VM of
# README.md when it ran steadily: end-to-end times are reported as on a
# host of that speed.
REF_S = 0.18
FLOOR_JOBS = 7
GROUPS = ("build", "load", "exec")
MODULES = ("rlhf", "quality", "relational")

UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "input_mb_per_s": "MB/s",
}


def _environment() -> None:
    """Make the engine importable by Spark's Python workers and keep every
    temporary file inside the checkout. Runs before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path[:0] = [ROOT, HERE]


def host_ref(spark) -> float:
    """Time a fixed Spark job that runs no engine code: the speed the host
    gives the JVM at this moment, on every core, job overhead included."""
    t0 = time.perf_counter()
    cores = spark.sparkContext.defaultParallelism
    spark.range(0, 40_000_000, 1, cores).selectExpr("sum(hash(id))").collect()
    return time.perf_counter() - t0


def _warm_engine(spark, wl) -> None:
    """One trivial job and one read of the inputs. Python workers spawn in
    the warm pass, which also keeps their start-up out of the timed ops."""
    spark.range(1).collect()
    wl.warm_source(spark)


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _stop() -> None:
    """Stop the session, if any, and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # the JVM must not outlive the run
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _on_sigterm(*_) -> None:
    """A run stopped from outside stops its JVM too, and waits for it; it
    prints no result. The JVM's shutdown stops the Python workers."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    os._exit(143)


class Run:
    """State of one benchmark run."""

    def __init__(self, args):
        from spans import Tracer
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload](WORK, args.seed, args.tiny)
        self.tracer = Tracer() if args.trace else None
        self.attempted = self.failed = 0
        # (op id, op, latency, traced) per timed op
        self.timed: list[tuple[int, object, float, bool]] = []
        self.counts: dict[int, dict[str, dict[str, int]]] = {}
        self.refs: list[float] = []  # host_ref() times, taken before timed ops

    def _outcome(self, what: str, err: str | None) -> None:
        self.attempted += 1
        if err:
            self.failed += 1
            print(f"FAIL {what}: {err}", file=sys.stderr)

    def setup(self):
        from distgrep_spark.session import get_spark

        tr = self.tracer
        self.setup_s, self.start_s = [], []
        for i in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            if tr:
                with tr.span("session.get_spark"):
                    spark = get_spark("perfbench")
            else:
                spark = get_spark("perfbench")
            self.start_s.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            _warm_engine(spark, self.wl)
            self.setup_s.append(time.perf_counter() - t0)
            if i < SETUP_CYCLES - 1:
                spark.stop()
        self.spark = spark
        if tr:
            tr.sc = spark.sparkContext

    def warm_pass(self) -> None:
        t0 = time.perf_counter()
        for op in self.wl.ops:
            try:
                err = self.wl.warm(self.spark, op)
            except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
                err = f"raised {type(e).__name__}: {str(e)[:500]}"
            self._outcome(f"warm {op.key}", err)
            gc.collect()
        self.warm_pass_s = time.perf_counter() - t0

    def timed_passes(self) -> None:
        a, wl, tr = self.args, self.wl, self.tracer
        rng = random.Random(a.seed)
        passes = max(1, round(a.seconds / wl.pass_s))
        if tr:
            # Every op runs twice, so half the passes give the same op count;
            # at least two, so that each op class runs in both orders.
            passes = max(2, passes // 2)
        op_id = 0
        for p in range(passes):
            order = list(wl.ops)
            rng.shuffle(order)
            for op in order:
                # A traced run times each op untraced and traced back to back,
                # the order alternating by pass, so that drift and warm-up
                # cancel out of trace.overhead_ratio.
                modes = (False,) if tr is None else (p % 2 == 1, p % 2 == 0)
                for traced in modes:
                    op_id += 1
                    self._timed_op(op_id, op, traced)

    def _timed_op(self, op_id: int, op, traced: bool) -> None:
        from spans import wrapped_load_table

        wl, tr = self.wl, self.tracer
        self.refs += [host_ref(self.spark) for _ in range(wl.refs_per_op)]
        try:
            if traced:
                tr.op = op_id
                with wrapped_load_table(self._traced_load):
                    dt, err = wl.timed(self.spark, op, tr)
            else:
                dt, err = wl.timed(self.spark, op, None)
        except Exception as e:  # noqa: BLE001 - a failing op is counted, not fatal
            dt, err = None, f"raised {type(e).__name__}: {str(e)[:500]}"
        if traced:
            self._read_counts(op_id)
        self._outcome(f"op {op_id} {op.key}", err)
        if dt is not None:
            self.timed.append((op_id, op, dt, traced))
        gc.collect()

    def _traced_load(self, fn, spark, sf_dir, name, *a, **kw):
        with self.tracer.span("sources.load_table", "load"):
            return fn(spark, sf_dir, name, *a, **kw)

    def _read_counts(self, op_id: int) -> None:
        from spans import job_counts

        sc = self.spark.sparkContext
        self.counts[op_id] = {g: job_counts(sc, f"op{op_id}:{g}") for g in GROUPS}

    def by_class(self, traced: bool | None = None) -> dict[str, list[float]]:
        """Timed latencies per op class, of traced or untraced ops or both."""
        out: dict[str, list[float]] = {}
        for _, op, dt, tr in self.timed:
            if traced is None or tr == traced:
                out.setdefault(op.key, []).append(dt)
        return out

    def raw(self) -> dict[str, float]:
        """End-to-end times as measured. ``wall_s`` is one pass over the op
        mix with each op class at its median latency, and ``op_p50_s`` the
        median of those class medians, so that a slow spell of the host that
        hits a few ops moves neither."""
        from checks import tail

        lat = [t[2] for t in self.timed]
        med = {k: statistics.median(v) for k, v in self.by_class().items()}
        return {
            "setup_s": statistics.median(self.setup_s),
            "wall_s": sum(med.values()),
            "op_p50_s": statistics.median(med.values()),
            "op_tail_s": tail(lat)[0],
            "input_mb": sum(self.wl.input_mb.get(c, 0.0) for c in med),
        }

    def end_to_end(self) -> dict[str, float]:
        """The raw times scaled by ``REF_S`` over the run's median
        ``host_ref()``, which takes out the shared host's slow spells of a
        minute or more: they slow the reference job as much as the ops."""
        raw = self.raw()
        k = REF_S / statistics.median(self.refs)
        out = {m: raw[m] * k for m in ("setup_s", "wall_s", "op_p50_s", "op_tail_s")}
        out["input_mb_per_s"] = raw["input_mb"] / out["wall_s"]
        return out

    def per_layer(self) -> dict[str, tuple[float, str]]:
        """Layer metrics; times and counts are means per traced op."""
        from checks import tail
        from workloads import GrepCorpus, pattern_key

        tr, wl = self.tracer, self.wl
        traced = [t for t in self.timed if t[3]]
        ids = {t[0] for t in traced}
        grep = isinstance(wl, GrepCorpus)

        def span_s(name, ops=ids):
            return sum(s.self_s for s in tr.of(name, ops)) / max(1, len(ops))

        def count(key, groups=GROUPS, ops=ids):
            return sum(self.counts[i][g][key] for i in ops for g in groups) / max(1, len(ops))

        floor = []
        for _ in range(FLOOR_JOBS):
            t0 = time.perf_counter()
            self.spark.range(1, numPartitions=1).collect()
            floor.append(time.perf_counter() - t0)
        jvm = self.spark.sparkContext._gateway.proc
        m = {
            "host.ref_s": (statistics.median(self.refs), "s"),
            "session.start_s": (statistics.median(self.start_s), "s"),
            "session.cold_setup_s": (self.setup_s[0], "s"),
            "session.warm_pass_s": (self.warm_pass_s, "s"),
            "session.job_floor_s": (statistics.median(floor), "s"),
            "session.peak_rss_mb": (_peak_rss_mb(os.getpid()) + _peak_rss_mb(jvm.pid), "MB"),
            "sources.load_s": (span_s("sources.load_table"), "s"),
            "sources.load_jobs": (count("jobs", ("load",)), "count"),
        }
        layer = {k: 0.0 for k in ("scan", "plan", "filter", "agg", "write", "match")}
        if grep:
            scan, filt = wl.probe(self.spark)
            diffs = {"filter": [v - scan for v in filt.values()], "agg": [], "write": []}
            for i, op, _, _ in traced:
                exec_s = span_s("exec", {i})
                diffs["write" if op.kind == "parquet" else "agg"].append(exec_s - filt[pattern_key(op)])
            layer.update({k: statistics.median(v) for k, v in diffs.items()})
            layer["scan"], layer["plan"] = scan, span_s("operators.grep.plan")
            matched = sum(wl.matched(t[1]) for t in self.timed)
            layer["match"] = matched / (len(self.timed) * wl.n_lines)
        mb = next(iter(wl.input_mb.values()))
        m["sources.scan_s"] = (layer["scan"], "s")
        m["sources.scan_mb_per_s"] = (mb / layer["scan"] if grep else 0.0, "MB/s")
        for k in ("plan", "filter", "agg", "write"):
            m[f"operators.grep.{k}_s"] = (layer[k], "s")
        m["operators.grep.match_ratio"] = (layer["match"], "ratio")
        query_ids = set() if grep else ids
        m["queries.build_s"] = (span_s("queries.build", query_ids), "s")
        m["queries.build_jobs"] = (count("jobs", ("build",), query_ids), "count")
        m["queries.exec_s"] = (span_s("exec", query_ids), "s")
        m["queries.exec_jobs"] = (count("jobs", ("exec",), query_ids), "count")
        for mod in MODULES:
            mine = {t[0] for t in traced if not grep and _module(t[1].key) == mod}
            m[f"queries.{mod}.build_s"] = (span_s("queries.build", mine), "s")
            m[f"queries.{mod}.exec_s"] = (span_s("exec", mine), "s")
            m[f"queries.{mod}.jobs"] = (count("jobs", ops=mine), "count")
        stages = count("stages")
        m["spark.jobs_per_op"] = (count("jobs"), "count")
        m["spark.stages_per_op"] = (stages, "count")
        m["spark.tasks_per_stage"] = (count("tasks") / stages if stages else 0.0, "count")
        m["spark.failed_tasks"] = (count("failed_tasks") * len(ids), "count")
        walls = [sum(statistics.median(v) for v in self.by_class(flag).values()) for flag in (True, False)]
        m["trace.overhead_ratio"] = (walls[0] / walls[1] - 1.0, "ratio")
        _, pct, _ = tail([t[2] for t in self.timed])
        m["op_tail.samples"] = (len(self.timed), "count")
        m["op_tail.percentile"] = (pct, "%")
        m["op_fail_ratio"] = (self.failed / self.attempted, "ratio")
        return m


def _module(query: str) -> str:
    from distgrep_spark.queries import QUERIES

    return QUERIES[query].__module__.rsplit(".", 1)[-1]


def _phase(name: str, t0: float) -> float:
    t1 = time.perf_counter()
    print(f"phase {name}: {t1 - t0:.1f} s", file=sys.stderr)
    return t1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "distgrep_spark")):
        print(f"run.py: no distgrep_spark package beside {HERE}", file=sys.stderr)
        return 2
    _environment()
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run = Run(args)
    t0 = time.perf_counter()
    run.wl.prepare()
    t0 = _phase("inputs", t0)
    signal.signal(signal.SIGTERM, _on_sigterm)
    try:
        run.setup()
        t0 = _phase("setup " + " + ".join(f"{x:.1f}" for x in run.setup_s), t0)
        run.warm_pass()
        t0 = _phase("warm pass", t0)
        run.timed_passes()
        t0 = _phase("timed passes", t0)
        if not run.timed:
            print("run.py: no op completed", file=sys.stderr)
            return 1
        if args.trace:
            metrics = run.per_layer()
            run.tracer.dump(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = {k: (v, UNITS[k]) for k, v in run.end_to_end().items()}
    finally:
        _stop()
    _phase("metrics and stop", t0)
    for k, v in run.by_class().items():
        print(f"op {k:28s} " + " ".join(f"{x:.3f}" for x in v), file=sys.stderr)
    print(f"{'host_ref median':32s} {statistics.median(run.refs):14.6f} s", file=sys.stderr)
    for k, v in run.raw().items():
        print(f"{'raw ' + k:32s} {v:14.6f}", file=sys.stderr)
    for k, (v, unit) in metrics.items():
        print(f"{k:32s} {v:14.6f} {unit}", file=sys.stderr)
    print(f"{'ops attempted / failed':32s} {run.attempted:7d} / {run.failed}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero, no result line
        traceback.print_exc()
        sys.exit(1)
