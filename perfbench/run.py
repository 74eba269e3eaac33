"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {ingest,live_corpus,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The run builds its inputs from the seed
inside a private scratch directory under ``.perfbench_runs/`` (Spark's
local dirs, temp files, warehouses and Derby home included), runs the
workload's set-up, then operations back to back for ``--seconds``, and
checks every result.  It prints a table of metrics with sample counts,
then, as the last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs the
loop traced and reports the per-layer metrics of ``layers.py``.  The
only work tracing adds inside an operation's timer is its own
bookkeeping at layer boundaries (spans, job-group calls), which is
timed and reported as ``trace.overhead_s`` per unit of work; prefix
materialisation and counter reads happen outside the timer.  Spans
and counters are written to ``--trace-out`` when given.  The exit code
is non-zero when any operation failed or raised.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

# (name, unit, better, regression bound) — BENCHMARK.json's end_to_end
END_TO_END = (
    ("setup_s", "s", "lower", 0.25),
    ("latency_p50_s", "s", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("python_peak_rss_mb", "MB", "lower", 0.1),
)


class Ctx:
    """What a workload sees of the run: session, seed, scratch root,
    tracer and the job-group bookkeeping behind ``layer``."""

    def __init__(self, spark, root, data_dir, seed, fault):
        import numpy as np

        from tracing import NullTracer

        self.spark = spark
        self.root = root
        self.data_dir = data_dir
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.fault = fault
        self.tracer = NullTracer()
        self.counters = None
        self.op_id = None
        self.groups: list[str] = []
        self.overhead = 0.0  # tracing bookkeeping inside the current op
        self._group = None

    @contextlib.contextmanager
    def layer(self, name: str):
        if not self.tracer.enabled:
            yield
            return
        t0 = time.perf_counter()
        prev, self._group = self._group, f"{self.op_id}|{name}"
        self.groups.append(self._group)
        self.counters.set_group(self._group)
        try:
            with self.tracer.span(name):
                self.overhead += time.perf_counter() - t0
                try:
                    yield
                finally:
                    t1 = time.perf_counter()
        finally:
            self._group = prev
            if prev is None:
                self.counters.clear_group()
            else:
                self.counters.set_group(prev)
            self.overhead += time.perf_counter() - t1


def _isolate(root: str) -> None:
    """Point every scratch location of the package, Spark and Python at
    the run's private root, and let Python workers import the repo."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(root, d))
    os.environ["SPARK_GRAFT_TMP"] = os.path.join(root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    tempfile.tempdir = None  # re-read TMPDIR on the next gettempdir()
    os.chdir(root)  # Derby's metastore_db and derby.log land here


def _session(root: str, traced: bool):
    from legalchatbot_vectordb_exp_spark.session import get_spark

    tmp = os.path.join(root, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(root, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={root}",
    }
    if traced:
        # the defaults (1000) evict query_mix's stages before they are read
        conf.update({"spark.ui.retainedJobs": "1000000",
                     "spark.ui.retainedStages": "1000000"})
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm(spark) -> None:
    """Start a Python worker per core and load Arrow/pandas in each."""
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n * 64, numPartitions=n).mapInPandas(
        lambda batches: (b + 1 for b in batches), schema="id long",
    ).write.format("noop").mode("overwrite").save()


def _loop(wl, ctx, seconds: float, failures: list) -> tuple[list, int]:
    """Closed loop: the next operation starts when the previous one and
    its check have returned.  After ``seconds`` it runs on until the
    workload's ``enough(attempted)`` holds.  Returns the operations that
    completed and the number attempted."""
    ops: list = []
    i = 0
    deadline = time.perf_counter() + seconds
    enough = getattr(wl, "enough", lambda attempted: True)
    while time.perf_counter() < deadline or not enough(i):
        ctx.op_id = f"op{i}"
        ctx.groups, ctx.overhead = [], 0.0
        try:
            with ctx.tracer.op(ctx.op_id):
                op = wl.step(i)
            op.index, op.groups = i, list(ctx.groups)
            op.trace_s = ctx.overhead
            msg = wl.check(op)
        except Exception:
            op, msg = None, traceback.format_exc(limit=4)
        if msg:
            failures.append(f"op{i}: {msg}")
        if op is not None:
            ops.append(op)
        i += 1
    return ops, i


def per_unit(wl, ops, value) -> tuple[float, int]:
    """A per-operation value as one figure per unit of the workload's
    work: the sum over ``wl.PRIMARY`` op kinds of each kind's median —
    the median pass (ingest), the median RAG batch (live_corpus), a
    pass of medians (query_mix).  Also returns the sample count, the
    fewest ops of any one kind."""
    from workloads import median0

    groups = [[value(o) for o in ops if o.kind == k] for k in wl.PRIMARY]
    return sum(median0(g) for g in groups), min(len(g) for g in groups)


def end_to_end(wl, ops, setup_s: float, rss: dict) -> dict:
    lat, n = per_unit(wl, ops, lambda o: o.seconds)
    return {
        "setup_s": (setup_s, "s", 1),
        "latency_p50_s": (lat, "s", n),
        "items_per_s": (sum(o.items for o in ops)
                        / max(sum(o.seconds for o in ops), 1e-9), "1/s",
                        len(ops)),
        "python_peak_rss_mb": (rss["driver"] + rss["workers"], "MB", 1),
    }


def per_layer(wl, ctx, traced, session: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the traced loop (see layers.py), and the
    workload's own extra figures."""
    from collections import defaultdict

    from layers import LAYERS, UNITS

    spans = defaultdict(lambda: defaultdict(float))
    for s in ctx.tracer.spans:
        spans[s["op"]][s["name"]] += s["end"] - s["start"]
    for op in traced:
        op.spans = spans[f"op{op.index}"]
        op.spark = {g.split("|", 1)[1]: ctx.counters.read(g)
                    for g in op.groups}
    vals = {name: 0.0 for name, *_ in LAYERS}
    vals.update(session)
    own = wl.layers(traced)
    vals.update({k: v for k, v in own.items() if k in vals})

    for name, *_ in LAYERS:
        if name.startswith("spark."):
            key = name.split(".", 1)[1]
            vals[name] = per_unit(wl, traced, lambda o: sum(
                g[key] for g in o.spark.values()))[0]
    vals["trace.overhead_s"] = per_unit(wl, traced, lambda o: o.trace_s)[0]
    for op in traced:
        ctx.tracer.count(f"op.{op.kind}.s", op.seconds)
        for layer, stats in op.spark.items():
            for k, v in stats.items():
                ctx.tracer.count(f"{layer}.spark.{k}", v)
    extra = {k: (v, "s", len(traced)) for k, v in own.items()
             if k not in vals}
    return ({name: (v, UNITS[name], len(traced)) for name, v in vals.items()},
            extra)


def _run(args, root: str, trace_out: str | None, wl_cls, held: dict) -> int:
    from sparkstats import StageCounters, peak_rss_mb, retained_heap_mb
    from tracing import Tracer

    ctx = Ctx(None, root, os.path.join(root, "data"), args.seed, args.fault)
    wl = wl_cls(ctx)
    if args.scale != 1.0:
        for attr in wl.SCALED:
            setattr(wl, attr, max(2, int(getattr(wl, attr) * args.scale)))
    wl.inputs()

    t0 = time.perf_counter()
    ctx.spark = held["spark"] = _session(root, bool(args.trace))
    t1 = time.perf_counter()
    _warm(ctx.spark)
    t2 = time.perf_counter()
    attempted, failures = wl.setup()
    t3 = time.perf_counter()
    failures = [f"setup: {m}" for m in failures]

    if args.trace:
        ctx.tracer, ctx.counters = Tracer(), StageCounters(ctx.spark)
    ops, n = _loop(wl, ctx, args.seconds, failures)
    attempted += n
    rss = peak_rss_mb()
    if args.trace:
        metrics, extra = per_layer(wl, ctx, ops, {
            "session.start_s": t1 - t0,
            "session.warm_s": t2 - t1,
            "session.jvm_peak_rss_mb": rss["jvm"],
            "session.jvm_heap_retained_mb": retained_heap_mb(ctx.spark),
        })
        if trace_out:
            ctx.tracer.dump(trace_out)
    else:
        metrics = end_to_end(wl, ops, t3 - t0, rss)
        extra = getattr(wl, "report", lambda _: {})(ops)
        extra.update({f"peak_rss_mb.{k}": (v, "MB", 1)
                      for k, v in rss.items()})
    failed = len(failures)
    for msg in failures:
        print(f"FAILED {msg}", file=sys.stderr)
    print(f"# {wl.name} seed={args.seed} ops={attempted} failed={failed} "
          f"op_fail_share={failed / max(attempted, 1):.4f}")
    for name, (v, unit, n) in {**metrics, **extra}.items():
        print(f"# {name:<48} {v:>14.6g} {unit:<8} n={n}")
    print("# op seconds: " + " ".join(f"{o.kind}={o.seconds:.3f}" for o in ops))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u, _) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", help="write spans and counters here")
    p.add_argument("--fault", choices=("drop_write", "oracle_row"),
                   help="self-test: plant one wrong expected result")
    p.add_argument("--scale", type=float, default=1.0,
                   help="self-test: shrink the inputs by this factor")
    args = p.parse_args(argv)

    sys.path[:0] = [HERE, REPO, os.path.join(REPO, "tests")]
    import legalchatbot_vectordb_exp_spark  # noqa: F401  the program

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; "
                f"choose from {sorted(WORKLOADS)}")
    trace_out = args.trace_out and os.path.abspath(args.trace_out)
    runs = os.path.join(REPO, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    cwd = os.getcwd()
    held: dict = {}
    # a terminated run still stops Spark and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        _isolate(root)
        return _run(args, root, trace_out, WORKLOADS[args.workload], held)
    finally:
        if held.get("spark") is not None:
            from sparkstats import stop_spark

            stop_spark(held["spark"])
        os.chdir(cwd)
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(runs)


if __name__ == "__main__":
    sys.exit(main())
