"""The workloads. Each is a closed loop with one client on local[4],
driven from this process. A workload returns the end-to-end metrics of an
untraced run, or the per-layer metrics of a traced one."""

from __future__ import annotations

import shutil
import statistics
import time

import pyspark.sql.functions as F

from perfbench import checks, inputs
from perfbench.eventlog import Attribution, EventLog, sum_ops
from perfbench.harness import CORES, RssSampler, median, timed
from perfbench.trace import spans_installed
from tokens_ts import checkpoint, pipeline, synth
from tokens_ts.io.catalog import Catalog

SETUP_REPS = 5
MIN_SAMPLES = 3  # a run takes samples until its seconds are up, at least this many

# input sizes: grid slots of the heaviest source; source r holds
# ceil(K / (r + 1)) slots (Zipf skew), 15% of slots are gaps
BACKFILL_SOURCES, BACKFILL_K = 1, 800
WARM_SOURCES, WARM_K = 1, 120
OPS_EVENTS, OPS_DOCS = 10_000, 500
OPS_WARM_EVENTS, OPS_WARM_DOCS, WARM_PASSES = 1_000, 100, 2

# registered query pairs of the operators workload, by the layer that
# later work on the engine changes
OP_GROUPS = {
    "python": ("ts_token_bucket", "doc_bpe_encode"),
    "textops": ("doc_minhash_md5",),
    "cache": ("ts_cusum",),
    "tiers": ("ts_histogram_quantile",),
}
# the tokens_ts module each pair's operator lives in
OP_MODULE = {
    "ts_token_bucket": "analytics", "ts_cusum": "analytics", "doc_bpe_encode": "textops",
    "doc_minhash_md5": "dedup", "ts_histogram_quantile": "tiers",
}
PAIRS = [p for g in OP_GROUPS.values() for p in g]
SELF_LAYERS = ("synth", "extract", "tiers", "io.catalog", "checkpoint", "pipeline",
               "analytics", "textops", "dedup")


END_TO_END = ("setup_s", "cpu_s", "peak_rss_mb")
# every per-layer metric a traced run prints, with its unit; a layer a
# workload does not exercise reads 0
PER_LAYER = {
    "pipeline.jobs": "count",
    "driver.outside_jobs_s": "s",
    "driver.planning_s": "s",
    "pipeline.scan_s": "s",
    "checkpoint.s": "s",
    "checkpoint.jobs": "count",
    "io.catalog.write_s": "s",
    "io.catalog.write_jobs": "count",
    "io.catalog.files_written": "count",
    "io.catalog.bytes_written": "B",
    "io.catalog.files_read": "count",
    "tiers.shuffle_bytes": "B",
    "tiers.shuffle_records": "count",
    "exchange.map_tasks": "count",
    "exchange.reduce_tasks": "count",
    "executor.gc_s": "s",
    "executor.spill_bytes": "B",
    "executor.task_skew": "ratio",
    "backfill.scaling_eff_1to4": "ratio",
    **{f"op.{p}_s": "s" for p in PAIRS},
    **{f"{g}.ops_s": "s" for g in OP_GROUPS},
    "session.persisted_rdds": "count",
    "session.cached_bytes": "B",
    **{f"self_share.{layer}": "ratio" for layer in SELF_LAYERS + ("driver", "python", "exchange")},
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}


class Result:
    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.report: dict = {}

    def count(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def _e2e(setup_cpu, op_cpu, rss_mb) -> dict:
    return {
        "setup_s": (setup_cpu, "s"),
        "cpu_s": (op_cpu, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def _fresh_dir(b, name: str) -> str:
    p = b.work / name
    shutil.rmtree(p, ignore_errors=True)
    return str(p)


def _setup(b, build, reps: int, res: Result) -> float:
    """Median CPU time of `reps` set-ups, each in a fresh session of the
    JVM the first session starts."""
    b.session()
    walls, cpus = [], []
    for _ in range(reps):
        wall, cpu, _ = timed(b.cpu, lambda: (b.session(), build()))
        walls.append(wall)
        cpus.append(cpu)
    res.report["setup_wall_s"] = walls
    return median(cpus)


def _restart(b, warm_up, **session_kw) -> None:
    """A fresh session, warmed up on inputs no timed call sees, with its
    Python workers started."""
    b.session(**session_kw)
    warm_up()
    b.prime()


def _layer_report(b, first_span: int) -> list[dict]:
    """Stop the traced session, which completes its event log, and return
    the layer metrics of each op span recorded since `first_span`."""
    log_path = b.event_log_path()
    b.spark.stop()
    b.spark = None
    att = Attribution(EventLog(log_path), b.tracer.spans)
    return [att.op_metrics(i) for i, s in enumerate(b.tracer.spans)
            if i >= first_span and s.get("op")]


def _layers(res: Result, per_op: list[dict], n_ops: int) -> None:
    """Per-layer metrics averaged per timed operation, and each layer's
    self time as a share of the operations' wall time."""
    tot = sum_ops(per_op)
    n = max(n_ops, 1)
    wall = tot["wall_s"]
    L = res.layer
    for name, key, unit in (
        ("pipeline.jobs", "jobs", "count"),
        ("driver.outside_jobs_s", "outside_jobs_s", "s"),
        ("driver.planning_s", "planning_s", "s"),
        ("pipeline.scan_s", "pipeline_scan_s", "s"),
        ("checkpoint.s", "checkpoint_s", "s"),
        ("checkpoint.jobs", "checkpoint_jobs", "count"),
        ("io.catalog.write_s", "write_s", "s"),
        ("io.catalog.write_jobs", "write_jobs", "count"),
        ("io.catalog.files_written", "files_written", "count"),
        ("io.catalog.bytes_written", "bytes_written", "B"),
        ("io.catalog.files_read", "files_read", "count"),
        ("tiers.shuffle_bytes", "tier_shuffle_bytes", "B"),
        ("tiers.shuffle_records", "tier_shuffle_records", "count"),
        ("exchange.map_tasks", "map_tasks", "count"),
        ("exchange.reduce_tasks", "reduce_tasks", "count"),
        ("executor.gc_s", "gc_s", "s"),
        ("executor.spill_bytes", "spill_bytes", "B"),
    ):
        L[name] = (tot.get(key, 0) / n, unit)
    w = tot.get("skew_weight", 0)
    L["executor.task_skew"] = (tot["skew_weighted"] / w if w else 1.0, "ratio")
    selfs = tot.get("layer_self_s", {})
    for layer in SELF_LAYERS:
        L[f"self_share.{layer}"] = (selfs.get(layer, 0.0) / wall, "ratio")
    L["self_share.driver"] = (tot["outside_jobs_s"] / wall, "ratio")
    # executor-side layers: share of the core time available during the ops
    L["self_share.python"] = (tot["python_task_s"] / (wall * CORES), "ratio")
    L["self_share.exchange"] = (tot["exchange_task_s"] / (wall * CORES), "ratio")
    sites = sorted(tot.get("site_s", {}).items(), key=lambda kv: -kv[1])[:12]
    res.report["job_s_by_call_site"] = {k: v / n for k, v in sites}


def _session_layers(b, res: Result, before: dict) -> None:
    """Persisted RDDs and cached bytes the traced operation left behind."""
    after = b.session_state()
    left = {k: after[k] - before[k] for k in after}
    res.layer["session.persisted_rdds"] = (left["persisted_rdds"], "count")
    res.layer["session.cached_bytes"] = (left["cached_bytes"], "B")
    res.report["session_left_by_traced_op"] = left


def _overhead(res: Result, untraced: list[float], traced: float) -> None:
    base = statistics.fmean(untraced)
    res.layer["trace.overhead_s"] = (traced - base, "s")
    res.layer["trace.overhead_share"] = ((traced - base) / base, "ratio")
    res.report["tracing_overhead"] = {"untraced_s": untraced, "traced_s": traced}


# --------------------------------------------------------------------------
# backfill
# --------------------------------------------------------------------------

def _warm_backfill(b, seed: int) -> None:
    """A small backfill on inputs no timed call sees (own key, own
    warehouse), so JIT and codegen are warm."""
    specs = inputs.source_specs(f"{seed}/warm", WARM_SOURCES, WARM_K)
    pipeline.run_backfill(b.spark, synth.sequences(b.spark, 0, specs=specs), _fresh_dir(b, "warm"))


def _manifest_points(spark, cat) -> int:
    """raw + t1m + t1h + t1d rows the manifest records as committed."""
    cols = ("points_raw", "points_1m", "points_1h", "points_1d")
    r = (
        checkpoint.read_manifest(spark, cat)
        .where(F.col("status") == "done")
        .agg(*[F.sum(c).alias(c) for c in cols])
        .collect()[0]
    )
    return int(sum(v or 0 for v in r))


def _backfill_sample(b, key: str, res: Result, tracer=None) -> tuple[float, float, int]:
    """One timed run_backfill on a fresh warehouse, then (untimed) its
    tables and manifest counts against the reference; returns the wall
    and CPU time and the reference's raw + tier row count."""
    specs = inputs.source_specs(key, BACKFILL_SOURCES, BACKFILL_K)
    cat = Catalog(_fresh_dir(b, "backfill"))
    seq = synth.sequences(b.spark, 0, specs=specs)
    if tracer is None:
        wall, cpu, _ = timed(b.cpu, pipeline.run_backfill, b.spark, seq, cat.root)
    else:
        with tracer.span("op.backfill", "bench", op="backfill"), spans_installed(tracer):
            wall, cpu, _ = timed(b.cpu, pipeline.run_backfill, b.spark, seq, cat.root)
    raw = inputs.expected_raw(specs)
    tier_tables = checks.expected_tiers(raw)
    points = len(raw) + sum(len(t) for t in tier_tables.values())
    bad = checks.check_store(b.spark, cat, raw, tier_tables)
    committed = _manifest_points(b.spark, cat)
    if committed != points:
        bad.append(f"manifest counts {committed} points, expected {points}")
    res.count(not bad, f"backfill {key}: {'; '.join(bad)}")
    return wall, cpu, points


def backfill(b, seed: int, seconds: float, trace: bool) -> Result:
    res = Result()
    # fresh sessions; the last one is warmed up on other inputs and then
    # holds the timed samples
    setup = _setup(b, lambda: None, 1 if trace else SETUP_REPS, res)

    def warm_up():
        _warm_backfill(b, seed)

    res.report["warmup_s"] = timed(b.cpu, warm_up)[0]
    b.prime()
    walls, cpus, rates = [], [], []
    t_end = time.perf_counter() + seconds
    with RssSampler(b.jvm_pid()) as rss:
        while not walls or (not trace and (len(walls) < MIN_SAMPLES or time.perf_counter() < t_end)):
            if any(b.session_state().values()):  # leaked state: start afresh
                _restart(b, warm_up)
            w, c, p = _backfill_sample(b, f"{seed}/sample/{len(walls)}", res)
            walls.append(w)
            cpus.append(c)
            rates.append(p / w)
    res.report["named"] = {
        "backfill_points_per_s": (median(rates), "1/s", len(rates)),
        "backfill_wall_s": (median(walls), "s", len(walls)),
        "backfill_cpu_s": (median(cpus), "s", len(cpus)),
        "backfill_sample_walls_s": (walls, "s", len(walls)),
        "backfill_sample_cpu_s": (cpus, "s", len(cpus)),
    }
    res.report["session"] = b.session_state()
    if not trace:
        res.e2e = _e2e(setup, median(cpus), rss.peak_mb)
        return res
    # traced sample on the same input in a fresh session with the event log
    # on, then one more untraced sample: the overhead is taken against the
    # untraced samples on either side
    key = f"{seed}/sample/0"
    _restart(b, warm_up, event_log=True)
    first_span, before = len(b.tracer.spans), b.session_state()
    tw, _, _ = _backfill_sample(b, key, res, tracer=b.tracer)
    _session_layers(b, res, before)
    per_op = _layer_report(b, first_span)
    _layers(res, per_op, len(per_op))
    _restart(b, warm_up)
    w2, _, _ = _backfill_sample(b, key, res)
    _overhead(res, [walls[0], w2], tw)
    # scaling point: the same backfill on one core
    _restart(b, warm_up, master="local[1]")
    w1, _, p1 = _backfill_sample(b, key, res)
    res.layer["backfill.scaling_eff_1to4"] = (rates[0] / (p1 / w1) / CORES, "ratio")
    res.report["scaling"] = {"local4_points_per_s": rates[0], "local1_points_per_s": p1 / w1}
    return res


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------

def _ops_pass(b, data_dir: str, queries: dict, tracer=None) -> tuple[float, float, dict, dict]:
    """One call of every pair, each consumed with collect(); returns the
    pass's wall and CPU time, each pair's wall time and rows."""
    lat, rows = {}, {}
    t0, c0 = time.perf_counter(), b.cpu.now()
    for name in PAIRS:
        fn = queries[name]

        def run():
            df = fn(b.spark, data_dir)
            return df.columns, [tuple(r) for r in df.collect()]

        if tracer is None:
            lat[name], _, rows[name] = timed(b.cpu, run)
        else:
            with tracer.span(f"op.{name}", OP_MODULE[name], op="pair"):
                lat[name], _, rows[name] = timed(b.cpu, run)
    return time.perf_counter() - t0, b.cpu.now() - c0, lat, rows


def _check_ops(data_dir: str, rows: dict, res: Result) -> None:
    """Each pair's rows against its oracle_sql() in DuckDB, compared as
    tools/verify_oracle.py does (schema, row count, value hash)."""
    import duckdb

    import __spark_entry__ as entry
    from tools.verify_oracle import frame_sig

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for name in PAIRS:
            cols, got = rows[name]
            r = con.execute(oracles[name])
            sc, sn, sh, _ = frame_sig(cols, got)
            dc, dn, dh, _ = frame_sig([d[0] for d in r.description], r.fetchall())
            res.count((sc, sn, sh) == (dc, dn, dh),
                      f"{name}: spark {sc} {sn} rows, oracle {dc} {dn} rows")
    finally:
        con.close()


def operators(b, seed: int, seconds: float, trace: bool) -> Result:
    import __spark_entry__ as entry

    res = Result()
    data = b.work / "ops_data"
    queries = entry.queries()
    warm = [b.work / f"ops_warm{i}" for i in range(WARM_PASSES)]
    for i, d in enumerate(warm):
        inputs.write_ops_tables(f"{seed}/warm/{i}", d, OPS_WARM_EVENTS, OPS_WARM_DOCS)
    # fresh sessions; the last one is warmed up on other tables, whose plans
    # differ from the timed ones, and then holds the timed pass
    setup = _setup(b, lambda: inputs.write_ops_tables(f"{seed}/ops", data, OPS_EVENTS, OPS_DOCS),
                   1 if trace else SETUP_REPS, res)

    def warm_up():
        for d in warm:
            _ops_pass(b, str(d), queries)

    res.report["warmup_s"] = timed(b.cpu, warm_up)[0]
    b.prime()
    before = b.session_state()
    with RssSampler(b.jvm_pid()) as rss:
        wall, cpu, lat, rows = _ops_pass(b, str(data), queries)
    after = b.session_state()
    res.report["session_left_by_pass"] = {k: after[k] - before[k] for k in after}
    t0 = time.perf_counter()
    _check_ops(str(data), rows, res)
    res.report["check_s"] = time.perf_counter() - t0
    res.report["named"] = {"ops_pass_s": (wall, "s", 1), "ops_pass_cpu_s": (cpu, "s", 1)}
    res.report["pair_s"] = lat
    if not trace:
        res.e2e = _e2e(setup, cpu, rss.peak_mb)
        return res
    _restart(b, warm_up, event_log=True)
    first_span, before = len(b.tracer.spans), b.session_state()
    twall, _, tlat, _ = _ops_pass(b, str(data), queries, tracer=b.tracer)
    _session_layers(b, res, before)
    _layers(res, _layer_report(b, first_span), 1)  # the pass is the operation
    for name in PAIRS:
        res.layer[f"op.{name}_s"] = (tlat[name], "s")
    for group, names in OP_GROUPS.items():
        res.layer[f"{group}.ops_s"] = (sum(tlat[n] for n in names), "s")
    _restart(b, warm_up)
    wall2 = _ops_pass(b, str(data), queries)[0]
    _overhead(res, [wall, wall2], twall)
    return res


WORKLOADS = {"backfill": backfill, "operators": operators}
