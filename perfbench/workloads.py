"""The benchmark's workloads.

Each workload is a closed loop with one client: the next unit starts
only after the previous one has committed.  A workload gets a
:class:`Context` holding the Spark session and returns a
:class:`Outcome`: per-unit samples of the timed units, the set-up time,
the correctness problems, and, when traced, the per-layer numbers.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from perfbench.eventlog import group_metrics, read_log
from perfbench.procstat import PeakPss, tree_cpu_s
from perfbench.trace import Tracer, covered

STAGES = ("bronze", "silver", "kept", "gold")
GATES = ("source", "silver", "kept", "gold")
SIGNALS = ("page_signals", "perplexity", "pii_scrub", "fingerprint", "text_scan")
QUERIES = (
    "ann_brute_topk",
    "ann_ivf_topk",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "doc_bigram_cms_heavy",
    "doc_ngram_hll",
    "events_asof_attribution",
    "events_error_window_stats",
    "doc_substring_dup",
    "doc_dup_clusters",
    "emb_semdedup",
)
ENGINE_METRICS = (
    "task_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "task_skew",
    "slot_utilization",
)


@dataclass
class Context:
    spark: object
    work: str  # work directory inside the checkout
    seed: int
    seconds: float
    trace: bool
    slots: int
    started: float  # perf_counter() at process start
    session_ready: float  # perf_counter() once the Spark session is up
    event_log_dir: str | None = None


@dataclass
class Unit:
    wall_s: float
    cpu_s: float
    rows: int
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float = 0.0
    setup_parts: dict[str, float] = field(default_factory=dict)
    warmup: list[Unit] = field(default_factory=list)
    timed: list[Unit] = field(default_factory=list)
    traced: list[Unit] = field(default_factory=list)
    peak_pss_mb: float = 0.0
    layers: dict[str, float] = field(default_factory=dict)
    record: dict = field(default_factory=dict)
    tracer: Tracer | None = None


def dir_stats(path: str) -> tuple[int, int]:
    """Total bytes and number of files under ``path``."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += 1
    return total, files


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_median(fn) -> float:
    """Median wall time of two calls of ``fn``."""
    walls = []
    for _ in range(2):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


class Stopwatch:
    """Wall and process-tree CPU time of the ``with`` block; feeds the
    block's duration to ``pss`` sampling when given."""

    def __init__(self, pss: PeakPss | None = None):
        self.pss = pss
        self.wall_s = self.cpu_s = 0.0

    def __enter__(self) -> "Stopwatch":
        if self.pss is not None:
            self.pss.__enter__()
        self.cpu0 = tree_cpu_s(os.getpid())
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s(os.getpid()) - self.cpu0
        if self.pss is not None:
            self.pss.__exit__()


def warm_up(run_unit, n: int) -> list[Unit]:
    """Run ``n`` untimed warm-up units concurrently, one thread each.
    Measured on 4 CPUs, two concurrent warm-up epochs leave the next
    epoch about as fast as two serial ones do, in three quarters of the
    wall time."""
    with ThreadPoolExecutor(max_workers=n) as pool:
        return list(pool.map(run_unit, range(n)))


def quiesce() -> float:
    """Wait, for at most 15 s, until the process tree uses less than a
    quarter of a core: warm-up leaves JIT compilations queued, and they
    would otherwise run inside the first timed unit.  Returns the
    seconds waited."""
    max_s, idle_cores, step_s = 15.0, 0.25, 0.5
    pid, t0 = os.getpid(), time.perf_counter()
    prev = tree_cpu_s(pid)
    while time.perf_counter() - t0 < max_s:
        time.sleep(step_s)
        cur = tree_cpu_s(pid)
        if cur - prev < idle_cores * step_s:
            break
        prev = cur
    return time.perf_counter() - t0


def setup_parts(ctx: Context, out: Outcome, input_ready: float) -> float:
    idle_s = quiesce()
    now = time.perf_counter()
    out.setup_parts = {
        "quiesce_s": idle_s,
        "session_s": ctx.session_ready - ctx.started,
        "input_s": input_ready - ctx.session_ready,
        "warmup_s": now - input_ready,
    }
    return now - ctx.started


def measure(ctx: Context, out: Outcome, run_unit) -> None:
    """Run timed units until they have taken ``ctx.seconds`` in total
    (at least one).  ``run_unit(index, watch)`` times exactly the work
    of one unit with ``watch`` and returns its :class:`Unit`."""
    pss = PeakPss(os.getpid())
    spent = 0.0
    while not out.timed or spent < ctx.seconds:
        unit = run_unit(len(out.timed), Stopwatch(pss))
        out.timed.append(unit)
        spent += unit.wall_s
    out.peak_pss_mb = pss.peak_mb


# ---------------------------------------------------------------------------
# crawl_epoch

PAGES = 3000
PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")
WARMUP_EPOCHS = 2


def crawl_epoch(ctx: Context) -> Outcome:
    from greatex_spark.pages import generate_pages
    from greatex_spark.pipeline.runner import BRONZE, GOLD, run_pipeline
    from greatex_spark.tables import Catalog
    from perfbench.checks import check_epoch

    spark = ctx.spark
    out = Outcome()
    input_path = os.path.join(ctx.work, "input", "pages.parquet")
    generate_pages(spark, PAGES, seed=ctx.seed, include_labels=True).write.mode(
        "overwrite"
    ).parquet(input_path)
    labeled = spark.read.parquet(input_path)
    source = labeled.select(*PAGE_COLUMNS)  # the program never sees the labels
    labels = labeled.select("url", "expected_keep", "page_class").collect()
    expected_keep = {r.url: r.expected_keep for r in labels}
    # the odd member of each near-duplicate pair is the planted drop
    near_dups = sum(
        1 for r in labels if r.page_class == "near_dup_pair" and not r.expected_keep
    )
    reference: dict = {}
    input_ready = time.perf_counter()

    def epoch(index: int, watch: Stopwatch, tag: str, tracer: Tracer | None = None) -> Unit:
        root = os.path.join(ctx.work, f"catalog-{tag}-{index}")
        catalog = Catalog(root)
        span = tracer.span("epoch") if tracer is not None else contextlib.nullcontext()
        try:
            with watch, span:
                result = run_pipeline(
                    spark, catalog, 1, source_df=source, run_name=f"{tag}-{index}"
                )
        except Exception as ex:  # a gate or stage failure fails the unit
            shutil.rmtree(root, ignore_errors=True)
            return Unit(watch.wall_s, watch.cpu_s, 0, [f"{type(ex).__name__}: {ex}"[:300]])
        written, files = dir_stats(root)
        bronze_bytes, _ = dir_stats(os.path.join(root, BRONZE))
        gold = catalog.read_snapshot(spark, GOLD, 1).select("url", "text").collect()
        problems, digest = check_epoch(
            {k: v.success for k, v in result.validations.items()},
            [(r.url, r.text) for r in gold],
            expected_keep,
            reference.get("digest"),
        )
        reference.setdefault("digest", digest)
        unit = Unit(
            watch.wall_s,
            watch.cpu_s,
            result.counts[BRONZE],
            problems,
            {
                "bytes_written": written,
                "files_written": files,
                "bronze_bytes": bronze_bytes,
                "counts": dict(result.counts),
            },
        )
        if tracer is None:
            shutil.rmtree(root, ignore_errors=True)
        else:
            unit.extra["catalog"] = catalog
        return unit

    out.warmup += warm_up(lambda i: epoch(i, Stopwatch(), "warmup"), WARMUP_EPOCHS)
    out.setup_s = setup_parts(ctx, out, input_ready)
    measure(ctx, out, lambda i, watch: epoch(i, watch, "timed"))

    bronze_bytes = out.timed[0].extra.get("bronze_bytes", 0) or 1
    out.layers["tables.bytes_written_per_input_byte"] = statistics.median(
        u.extra.get("bytes_written", 0) / bronze_bytes for u in out.timed
    )
    out.record.update(
        {
            "input": {
                "pages": PAGES,
                "rows": len(labels),
                "bytes": dir_stats(input_path)[0],
                "bronze_bytes": bronze_bytes,
                "near_duplicate_rows": near_dups,
                "near_duplicate_share": near_dups / PAGES,
            },
            "warmup_units": len(out.warmup),
        }
    )
    if ctx.trace:
        _trace_crawl(ctx, out, epoch)
    return out


def _trace_crawl(ctx: Context, out: Outcome, epoch) -> None:
    """One traced epoch, then each layer alone over its snapshots."""
    from pyspark.sql import functions as F

    from greatex_spark.functions.heuristics_arrow import page_signals_arrow
    from greatex_spark.functions.perplexity import make_log_perplexity_udf
    from greatex_spark.functions.pii import scrub_pii
    from greatex_spark.functions.textstats import fingerprint64
    from greatex_spark.operators.dedup import minhash_lsh_dedup
    from greatex_spark.pipeline import report as report_mod
    from greatex_spark.pipeline import runner as runner_mod
    from greatex_spark.pipeline.stages import PipelineConfig, filter_kept
    from greatex_spark.tables import Catalog

    spark = ctx.spark
    tables = (runner_mod.BRONZE, runner_mod.SILVER, runner_mod.KEPT, runner_mod.GOLD)
    stage_of = dict(zip(tables, STAGES))
    tracer = Tracer(spark.sparkContext)
    targets = [
        (runner_mod, "run_checkpoint", lambda _s, _d, cp, *a, **k: f"checkpoint.{cp.name}"),
        (runner_mod, "store_partition_lineage", lambda *a, **k: "checkpoint.lineage"),
        (Catalog, "write_snapshot",
         lambda _self, _df, name, *a, **k: f"runner.{stage_of.get(name, name)}"),
        (Catalog, "append", lambda *a, **k: "tables.append"),
        (Catalog, "read_snapshot", lambda *a, **k: "tables.read"),
        (report_mod, "write_run_report", lambda *a, **k: "report.render"),
        (report_mod, "write_data_docs", lambda *a, **k: "report.render"),
    ]
    with tracer.patch(targets):
        unit = epoch(0, Stopwatch(), "traced", tracer)
    out.traced.append(unit)
    if unit.problems:
        return
    catalog = unit.extra.pop("catalog")
    root_span = next(s for s in tracer.spans if s.name == "epoch")
    L = out.layers

    in_epoch = tracer.descendants(root_span.span_id)

    def total(name: str) -> float:
        return sum(s.duration for s in in_epoch if s.name == name)

    for s in STAGES:
        L[f"runner.{s}_s"] = total(f"runner.{s}")
    for g in GATES:
        L[f"checkpoint.{g}_s"] = total(f"checkpoint.{g}")
    L["checkpoint.lineage_s"] = total("checkpoint.lineage")
    L["report.render_s"] = total("report.render")
    L["tables.append_s"] = total("tables.append")
    L["tables.read_s"] = total("tables.read")
    L["trace.covered_fraction"] = covered(
        [(s.start, s.end) for s in tracer.children(root_span.span_id)]
    ) / root_span.duration
    L["trace_overhead_fraction"] = unit.wall_s / statistics.median(
        u.wall_s for u in out.timed
    ) - 1.0
    counts = unit.extra["counts"]
    L["runner.kept_rows"] = counts[tables[2]]
    L["runner.gold_rows"] = counts[tables[3]]
    L["tables.files_written"] = unit.extra["files_written"]
    for table, s in stage_of.items():
        L[f"tables.{s}_bytes"] = dir_stats(os.path.join(catalog.root, table))[0]

    # each layer alone, over the committed snapshots of the traced epoch
    bronze = catalog.read_snapshot(spark, tables[0], 1)
    silver = catalog.read_snapshot(spark, tables[1], 1)
    gold = catalog.read_snapshot(spark, tables[3], 1)
    L["runner.silver_rows"] = silver.count()
    text = F.col("text")
    signals = {
        "page_signals": page_signals_arrow(text),
        "perplexity": make_log_perplexity_udf(None, None)(text),
        "pii_scrub": scrub_pii("text"),
        "fingerprint": fingerprint64("text"),
        "text_scan": F.length(text),
    }
    for name, expr in signals.items():
        with tracer.span(f"functions.{name}"):
            L[f"functions.{name}_s"] = timed_median(
                lambda: noop_write(bronze.select(expr.alias("v")))
            )
    cfg = PipelineConfig()
    kept_in = filter_kept(silver)
    deduped = minhash_lsh_dedup(
        kept_in,
        text_col="text",
        id_col="url",
        num_perm=cfg.minhash_num_perm,
        num_bands=cfg.minhash_num_bands,
        family=cfg.dedup_hash_family,
        survivor_join=cfg.dedup_survivor_join,
    )
    with tracer.span("dedup.minhash"):
        L["dedup.minhash_s"] = timed_median(lambda: noop_write(deduped))
    rows_in, rows_out = kept_in.count(), deduped.count()
    L["dedup.rows_in"], L["dedup.rows_out"] = rows_in, rows_out
    L["dedup.drop_fraction"] = (rows_in - rows_out) / rows_in if rows_in else 0.0
    with tracer.span("tables.scan"):
        L["tables.scan_silver_s"] = timed_median(lambda: noop_write(silver))
        L["tables.scan_gold_s"] = timed_median(lambda: noop_write(gold))
    shutil.rmtree(catalog.root, ignore_errors=True)
    out.tracer = tracer


def engine_layers(ctx: Context, out: Outcome) -> None:
    """Per-stage engine metrics from the event log of a traced epoch;
    call after the session has stopped, so the log is complete."""
    tracer = out.tracer
    epoch_spans = [s for s in tracer.spans if s.name == "epoch"] if tracer else []
    if not epoch_spans or ctx.event_log_dir is None:
        return
    log = read_log(ctx.event_log_dir)

    def subtree(spans) -> set[str]:
        ids = set()
        for s in spans:
            ids |= {s.span_id} | {d.span_id for d in tracer.descendants(s.span_id)}
        return ids

    L = out.layers
    for s in STAGES:
        spans = [x for x in tracer.spans if x.name == f"runner.{s}"]
        m = group_metrics(log, subtree(spans), sum(x.duration for x in spans), ctx.slots)
        for k in ENGINE_METRICS:
            L[f"spark.{s}.{k}"] = m[k]
    L["spark.jobs_per_epoch"] = len(log.jobs_in(subtree(epoch_spans)))
    gates = {f"checkpoint.{g}" for g in GATES}
    L["checkpoint.jobs"] = len(log.jobs_in(subtree(s for s in tracer.spans if s.name in gates)))


# ---------------------------------------------------------------------------
# operator_queries

DOCS, VECS, EVENTS, DOC_DUP_SHARE = 500, 500, 10_000, 0.1


def operator_queries(ctx: Context) -> Outcome:
    import duckdb

    from perfbench.checks import check_queries
    from perfbench.querydata import write_tables

    spark = ctx.spark
    out = Outcome()
    data_dir = os.path.join(ctx.work, "querydata")
    tables = write_tables(data_dir, ctx.seed, DOCS, VECS, EVENTS, DOC_DUP_SHARE)
    # the oracle builders read the tables named by this variable
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = data_dir
    os.environ["GREATEX_ORACLE_SF_DIR"] = data_dir
    import __spark_entry__ as entry
    from tools.check_oracle import compare

    fns = {name: entry.queries()[name] for name in QUERIES}
    input_rows = sum(t["rows"] for t in tables.values())
    input_ready = time.perf_counter()

    def one_pass(watch: Stopwatch, tracer: Tracer | None = None, workers: int = 1) -> Unit:
        results, per_query, problems = {}, {}, []

        def run(name: str) -> None:
            t0 = time.perf_counter()
            span = tracer.span(f"query.{name}") if tracer is not None else contextlib.nullcontext()
            try:
                with span:
                    results[name] = fns[name](spark, data_dir).toPandas()
            except Exception as ex:  # a failing query fails the pass
                problems.append(f"{name}: {type(ex).__name__}: {ex}"[:300])
            per_query[name] = time.perf_counter() - t0

        with watch:
            if workers == 1:
                for name in fns:
                    run(name)
            else:
                with ThreadPoolExecutor(max_workers=workers) as pool:
                    list(pool.map(run, fns))
        return Unit(watch.wall_s, watch.cpu_s, input_rows, problems,
                    {"results": results, "per_query_s": per_query})

    # one warm-up pass, its queries on concurrent threads
    out.warmup.append(one_pass(Stopwatch(), workers=ctx.slots))
    out.setup_s = setup_parts(ctx, out, input_ready)

    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    oracle_sql = entry.oracle_sql()
    oracle = {n: con.execute(oracle_sql[n]).fetchdf() for n in QUERIES if n in oracle_sql}
    con.close()

    def checked(unit: Unit) -> Unit:
        unit.problems += check_queries(unit.extra.pop("results"), oracle, compare)
        return unit

    for u in out.warmup:
        checked(u)
    measure(ctx, out, lambda i, watch: checked(one_pass(watch)))
    out.record.update(
        {
            "input": {
                "tables": tables,
                "rows": input_rows,
                "bytes": sum(t["bytes"] for t in tables.values()),
                "near_duplicate_share": tables["documents"]["near_duplicates"] / DOCS,
            },
            "warmup_units": len(out.warmup),
            "per_query_s": {
                n: statistics.median(u.extra["per_query_s"][n] for u in out.timed)
                for n in QUERIES
            },
        }
    )
    if ctx.trace:
        out.tracer = Tracer(spark.sparkContext)
        unit = checked(one_pass(Stopwatch(), out.tracer))
        out.traced.append(unit)
        for name in QUERIES:
            out.layers[f"query.{name}_s"] = sum(
                s.duration for s in out.tracer.spans if s.name == f"query.{name}"
            )
        out.layers["trace_overhead_fraction"] = unit.wall_s / statistics.median(
            u.wall_s for u in out.timed
        ) - 1.0
    return out


WORKLOADS = {"crawl_epoch": crawl_epoch, "operator_queries": operator_queries}


def _per_layer() -> dict[str, str]:
    m: dict[str, str] = {}
    for s in STAGES:
        m[f"runner.{s}_s"] = "s"
    for s in ("silver", "kept", "gold"):
        m[f"runner.{s}_rows"] = "count"
    for g in GATES:
        m[f"checkpoint.{g}_s"] = "s"
    m["checkpoint.lineage_s"] = "s"
    m["checkpoint.jobs"] = "count"
    m["report.render_s"] = "s"
    for s in STAGES:
        m[f"tables.{s}_bytes"] = "bytes"
    m["tables.files_written"] = "count"
    m["tables.bytes_written_per_input_byte"] = "ratio"
    m["tables.scan_silver_s"] = "s"
    m["tables.scan_gold_s"] = "s"
    m["tables.append_s"] = "s"
    m["tables.read_s"] = "s"
    for name in SIGNALS:
        m[f"functions.{name}_s"] = "s"
    m["dedup.minhash_s"] = "s"
    m["dedup.rows_in"] = "count"
    m["dedup.rows_out"] = "count"
    m["dedup.drop_fraction"] = "ratio"
    units = {"task_s": "s", "gc_s": "s", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "task_skew": "ratio", "slot_utilization": "ratio"}
    for s in STAGES:
        for k in ENGINE_METRICS:
            m[f"spark.{s}.{k}"] = units[k]
    m["spark.jobs_per_epoch"] = "count"
    for q in QUERIES:
        m[f"query.{q}_s"] = "s"
    m["trace.covered_fraction"] = "ratio"
    m["trace_overhead_fraction"] = "ratio"
    return m


# name → unit of every per-layer metric; kept in step with BENCHMARK.json
PER_LAYER = _per_layer()


def layer_metrics(layers: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric; a layer the workload does not run did no
    work on it and reads 0."""
    return {name: layers.get(name, 0.0) for name in PER_LAYER}
