"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` names workloads of ``workloads.py``, the
   end-to-end metrics of ``run.py`` and the per-layer metrics of
   ``layers.py``, with the same units and directions.
2. Every workload (``query_mix`` too, which ``BENCHMARK.json`` does not
   list) completes on shrunken inputs with every check on, untraced
   and traced, and prints exactly the metrics it promises.
3. A planted fault is caught: a write dropped from the live-corpus
   mirror, and a corrupted DuckDB oracle row in the query mix, each make
   the run exit non-zero with ``failed > 0``.
4. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``
   the command exits non-zero without printing a result.

Exits non-zero when any of these fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [HERE, REPO]

SCALE = "0.25"
SECONDS = "2"


def _bench(*args: str, cwd: str = REPO) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return proc.returncode, result, proc.stderr[-2000:]


def check_manifest() -> list[str]:
    from layers import LAYERS
    from run import END_TO_END
    from workloads import WORKLOADS

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    if not {w["name"] for w in bench["workloads"]} <= set(WORKLOADS):
        errors.append("a listed workload is not in workloads.WORKLOADS")
    e2e = [(m["name"], m["unit"], m["better"], m["bound"])
           for m in bench["end_to_end"]]
    if e2e != [tuple(m) for m in END_TO_END]:
        errors.append("end_to_end differs from run.END_TO_END")
    per_layer = [(m["name"], m["unit"], m["better"])
                 for m in bench["per_layer"]]
    if per_layer != [tuple(m[:3]) for m in LAYERS]:
        errors.append("per_layer differs from layers.LAYERS")
    return errors


def check_runs() -> list[str]:
    from layers import LAYERS
    from run import END_TO_END
    from workloads import WORKLOADS

    errors = []
    want = {0: {m[0] for m in END_TO_END}, 1: {m[0] for m in LAYERS}}
    for name in WORKLOADS:
        for trace in (0, 1):
            rc, res, err = _bench("--workload", name, "--seed", "7",
                                  "--seconds", SECONDS, "--trace", str(trace),
                                  "--scale", SCALE)
            tag = f"{name} trace={trace}"
            if rc != 0 or not res or not res["correct"] or res["failed"]:
                problem = f"rc={rc} result={res}\n{err}"
            elif set(res["metrics"]) != want[trace]:
                problem = "metric names differ"
            else:
                problem = None
            print(f"{'FAIL' if problem else 'ok  '} {tag}", flush=True)
            if problem:
                errors.append(f"{tag}: {problem}")
    return errors


def check_faults() -> list[str]:
    errors = []
    for name, fault in (("live_corpus", "drop_write"),
                        ("query_mix", "oracle_row")):
        rc, res, err = _bench("--workload", name, "--seed", "7",
                              "--seconds", SECONDS, "--trace", "0",
                              "--scale", SCALE, "--fault", fault)
        caught = rc != 0 and res is not None and res["failed"] > 0
        print(f"{'ok  ' if caught else 'FAIL'} {name} --fault {fault}",
              flush=True)
        if not caught:
            errors.append(f"{name} fault {fault} not caught: rc={rc} {res}")
    return errors


def check_bare_dir() -> list[str]:
    runs = os.path.join(REPO, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="selftest-bare-", dir=runs)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res, _ = _bench("--workload", "ingest", "--seed", "1",
                            "--seconds", "1", "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    ok = rc != 0 and res is None
    print(f"{'ok  ' if ok else 'FAIL'} bare directory exits non-zero",
          flush=True)
    return [] if ok else [f"bare directory: rc={rc} result={res}"]


def main() -> int:
    errors = check_manifest()
    print("ok   BENCHMARK.json" if not errors else "FAIL BENCHMARK.json")
    errors += check_bare_dir() + check_faults() + check_runs()
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
