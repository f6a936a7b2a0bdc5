"""Benchmark of the greatex_spark pages pipeline and operator queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_epoch --seed 1 --seconds 1 --trace 0

Workloads (``perfbench/workloads.py``):

- ``crawl_epoch``: fresh ``run_pipeline`` epochs over seeded
  ``generate_pages`` output — bronze → silver → kept → gold with a gate
  after each hop;
- ``operator_queries``: one pass over twelve ``__spark_entry__.queries()``
  operators (ANN, count-min, HLL, as-of join, range join, substring
  dedup, duplicate clusters, semantic dedup) on seeded tables.

Untimed warm-up units run first and count into ``setup_s``.  Timed
units then run until they have taken ``--seconds`` (at least one).  A
unit lasts longer than a second, so ``--seconds 1`` times exactly one
unit per run; a count that does not depend on how fast the host is
keeps the runs comparable.  Every unit's output
is checked (gates, gold digest and keep/drop F1; DuckDB oracle twins
for the queries).  With ``--trace 1`` the run adds one traced unit,
spans around the program's public functions and the Spark event log,
and prints per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the full record, with spans,
samples and input sizes, is written under ``.perfbench/results/``.
Scratch files live under ``.perfbench/work/`` and are removed at exit.
The benchmark's own tests run with ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import time

STARTED = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "1g"

# name → (unit, the end-to-end metric set); kept in step with BENCHMARK.json
END_TO_END = {
    "docs_per_s": "1/s",
    "cpu_s": "s",
    "peak_pss_mb": "MB",
    "setup_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def start_spark(work: str, slots: int, event_log_dir: str | None):
    from greatex_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed, pre-touched heap: resident memory no longer depends
        # on when the collector chose to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(master=f"local[{slots}]", app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for every process this run started to end."""
    from pyspark import SparkContext

    from perfbench.procstat import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while True:
        left = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def spans_json(spans) -> list[dict]:
    """Spans with their self time: duration minus what children cover."""
    from perfbench.trace import self_times

    own = self_times(spans)
    return [
        {"id": s.span_id, "name": s.name, "parent": s.parent, "start": s.start,
         "end": s.end, "self_s": own[s.span_id]}
        for s in spans
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "greatex_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        fail(f"no greatex_spark sources under {ROOT}; run from a full checkout")
    sys.path.insert(0, ROOT)

    from perfbench import workloads as W

    if args.workload not in W.WORKLOADS:
        fail(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run and its children write stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher included: no perf-data file
    # under /tmp, temporary files under the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY

    slots = len(os.sched_getaffinity(0))
    event_log_dir = os.path.join(work, "eventlog") if args.trace else None
    try:
        spark = start_spark(work, slots, event_log_dir)
        session_ready = time.perf_counter()
        ctx = W.Context(
            spark=spark, work=work, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), slots=slots, started=STARTED,
            session_ready=session_ready,
            event_log_dir=event_log_dir,
        )
        try:
            out = W.WORKLOADS[args.workload](ctx)
        finally:
            stop_spark(spark)
        if args.trace:
            W.engine_layers(ctx, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = out.warmup + out.timed + out.traced
    failed = sum(1 for u in units if u.problems)
    problems = [p for u in units for p in u.problems]
    timed = out.timed
    summary = {
        "docs_per_s": statistics.median(u.rows / u.wall_s for u in timed),
        "unit_s": statistics.median(u.wall_s for u in timed),
        "cpu_s": statistics.median(u.cpu_s for u in timed),
        "peak_pss_mb": out.peak_pss_mb,
        "setup_s": out.setup_s,
    }
    layers = W.layer_metrics(out.layers)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": slots,
        "master": f"local[{slots}]",
        "end_to_end": summary,
        "samples": {
            "timed_units": len(timed),
            "warmup_units": len(out.warmup),
            "wall_s": [u.wall_s for u in timed],
            "cpu_s": [u.cpu_s for u in timed],
            "warmup_wall_s": [u.wall_s for u in out.warmup],
            "warmup_cpu_s": [u.cpu_s for u in out.warmup],
            "extra": [u.extra for u in timed],
        },
        "setup_parts": out.setup_parts,
        "failed_ops_fraction": failed / len(units),
        "problems": problems,
        "layers": layers if args.trace else {},
        **out.record,
        "spans": spans_json(out.tracer.spans) if out.tracer else [],
    }
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=repr)
    print(f"perfbench: full record in {os.path.relpath(path, ROOT)}", file=sys.stderr)

    if args.trace:
        metrics = {name: metric(layers[name], unit) for name, unit in W.PER_LAYER.items()}
    else:
        metrics = {name: metric(summary[name], unit) for name, unit in END_TO_END.items()}
    print(json.dumps({
        "correct": not problems,
        "attempted": len(units),
        "failed": failed,
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
