"""The three workloads. Each is a closed loop: one client thread, in the
same process as the ``local[nproc]`` driver, sends its next op only after
the previous one has completed.

A workload function sets up (inputs, warmup), runs ops until
``ctx.seconds`` have elapsed and its minimum number of passes or rounds has
run, and returns a ``Result``. Correctness checks
run between ops, outside the op timings; a failed check fails its op.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.spark_metrics import OpCounts, StatusCollector
from perfbench.trace import Tracer


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    cores: int
    setup: dict[str, float]
    tracer: Tracer
    collector: StatusCollector
    errors: list[str] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    first_op_at: float | None = None
    signatures: dict[str, list] = field(default_factory=dict)
    settle_s: float = 0.0

    def settle(self) -> None:
        """Between ops: wait until the JIT has compiled what ran so far."""
        self.settle_s += self.collector.background.settle_jit()

    def fail(self, msg: str) -> None:
        self.errors.append(msg)

    def attempt(self, tag: str, fn):
        """Run one op and its checks; returns fn's result, or None if it raised.
        An exception or a new failed check counts the op as failed."""
        self.attempted += 1
        n = len(self.errors)
        try:
            out = fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.fail(f"{tag}: {type(e).__name__}: {e}")
            out = None
        self.failed += len(self.errors) > n
        return out

    def deadline(self) -> float:
        """Mark the first timed op; the window ends ``seconds`` later."""
        if self.first_op_at is None:
            self.first_op_at = time.perf_counter()
        return self.first_op_at + self.seconds

    def tracing(self, op: int, nth: int) -> bool:
        """Attribute spans to ``op``. In a traced run the even-numbered
        (``nth``) ops of each kind are traced and the odd ones are not, so
        the tracing overhead is measured inside the same run."""
        self.tracer.op = op
        self.tracer.enabled = self.trace and nth % 2 == 0
        return self.tracer.enabled

    def record(self, key: str, counts: OpCounts) -> None:
        """Job/stage counts and fingerprint must repeat for the same op key."""
        for e in counts.errors:
            self.fail(f"{key}: {e}")
        sig = counts.signature()
        if key in self.signatures and self.signatures[key] != sig:
            self.fail(f"{key}: counts {sig} differ from an earlier {self.signatures[key]}")
        self.signatures.setdefault(key, sig)


@dataclass
class Result:
    latencies: list[float]  # the workload's primary op, for op_p50_s / op_p90_s
    op_cpu_s: float  # CPU seconds of one such op, as the workload estimates it
    items: float  # work items completed by timed ops
    busy_s: float  # summed duration of all timed ops, for items_per_s
    report: list[tuple[str, float, str]]  # the workload's own named metrics
    overhead: list[tuple[str, bool, float]]  # (op key, traced, latency)
    layers: dict[str, float] = field(default_factory=dict)
    # per-layer metrics of this workload that could not be measured, and why
    missing: dict[str, str] = field(default_factory=dict)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def pct(xs, q: float) -> float:
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(np.ceil(q * len(s))) - 1))]


def tracing_overhead(samples: list[tuple[str, bool, float]]) -> float:
    """Median over op keys of (traced median - untraced median) latency."""
    by_key: dict[str, tuple[list[float], list[float]]] = defaultdict(lambda: ([], []))
    for key, traced, dt in samples:
        by_key[key][0 if traced else 1].append(dt)
    return median([median(a) - median(b) for a, b in by_key.values() if a and b])


def _timed(ctx: Ctx, label: str, fn):
    """Run ``fn`` as one attributed Spark section; (result, seconds, counts)."""
    ctx.collector.begin(label)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        dt = time.perf_counter() - t0
        counts = ctx.collector.end()
    return out, dt, counts


def _setup_step(ctx: Ctx, name: str, fn):
    t0 = time.perf_counter()
    out = fn()
    ctx.setup[name] = ctx.setup.get(name, 0.0) + time.perf_counter() - t0
    return out


def _sum_counts(counts) -> OpCounts:
    out = OpCounts()
    for c in counts:
        out.add(c)
    return out


# ---------------------------------------------------------------------------
# etl_batch: the paper's own job, one full ETL per op
# ---------------------------------------------------------------------------


ETL_ROUND = 2


def etl_batch(ctx: Ctx) -> Result:
    from soccer_data_pipeline_spark import pipeline
    from soccer_data_pipeline_spark.sources import json_source, lookup, sinks

    spark = ctx.spark
    zone = _setup_step(
        ctx, "gen.inputs_s", lambda: gen.make_raw_zone(os.path.join(ctx.work, "raw"), ctx.seed)
    )
    # a one-season zone warms the JVM up on the same code paths for less
    warm = _setup_step(
        ctx, "gen.inputs_s",
        lambda: gen.make_raw_zone(os.path.join(ctx.work, "warm"), ctx.seed + 1, n_seasons=1),
    )
    dims = {
        z.path: (lookup.leagues_from_pairs(spark, z.leagues), lookup.team_aliases(spark, z.aliases))
        for z in (zone, warm)
    }
    out = os.path.join(ctx.work, "etl")
    paths = {k: os.path.join(out, k) for k in ("staging", "results", "quarantine")}

    t = ctx.tracer
    t.wrap(pipeline, "run_soccer_etl", "pipeline.construct")
    t.wrap(sinks, "write_staging", "sources.write_staging")
    t.wrap(json_source, "write_quarantine", "sources.write_quarantine")

    def etl(z: gen.RawZone) -> None:
        leagues, aliases = dims[z.path]
        outs = pipeline.run_soccer_etl(
            spark, z.path, leagues, aliases, source_commit=f"perfbench-{ctx.seed}"
        )
        sinks.write_staging(outs.matches_normalized, paths["staging"])
        with t.span("operators.season_results"):
            outs.season_results.write.mode("overwrite").parquet(paths["results"])
        json_source.write_quarantine(outs.quarantine, paths["quarantine"], mode="overwrite")

    def check(z: gen.RawZone, tag: str) -> None:
        staged = pq.read_table(paths["staging"]).num_rows
        if staged != z.staged_rows:
            ctx.fail(f"{tag}: staged {staged} matches, expected {z.staged_rows}")
        quarantined = pq.read_table(paths["quarantine"]).num_rows
        if quarantined != z.quarantined:
            ctx.fail(f"{tag}: quarantined {quarantined} documents, expected {z.quarantined}")
        cols = ["league", "season", "team", "points", "wins", "draws", "losses",
                "goals_for", "goals_against", "matches_played", "is_champion"]
        got = pq.read_table(paths["results"], columns=cols).to_pylist()
        rows = sorted(tuple(r[c] for c in cols) for r in got)
        if rows != z.standings:
            bad = sorted(set(rows) ^ set(z.standings))[:2]
            ctx.fail(f"{tag}: season_results differ from the expected standings, e.g. {bad}")

    def op(z: gen.RawZone, tag: str):
        shutil.rmtree(out, ignore_errors=True)
        _, dt, c = _timed(ctx, tag, lambda: etl(z))
        check(z, tag)
        return dt, c

    _setup_step(ctx, "warmup_s", lambda: ctx.attempt("etl warmup", lambda: op(warm, "etl warmup")))

    # Whole rounds of ETL_ROUND ops: a round that starts before the
    # deadline runs to its end. A traced run makes at least one traced
    # and one untraced round.
    samples = []  # (traced, seconds, counts)
    deadline = ctx.deadline()
    i = r = 0
    while time.perf_counter() < deadline or (ctx.trace and r < 2):
        for _ in range(ETL_ROUND):
            on = ctx.tracing(i, r)
            got = ctx.attempt(f"etl op {i}", lambda: op(zone, f"etl op {i}"))
            if got is not None:
                ctx.record("etl", got[1])
                samples.append((on, *got))
            i += 1
        r += 1

    lat = [dt for _, dt, _ in samples]
    n = len(lat)
    report = [
        ("etl_matches_per_s", zone.staged_rows * n / sum(lat) if n else 0.0, "matches/s"),
        ("etl_ops", n, "count"),
        ("raw_zone_files", zone.n_files, "count"),
        ("raw_zone_matches", zone.generated_matches, "count"),
    ]
    res = Result(lat, median([c.cpu_s for _, _, c in samples]), zone.staged_rows * n, sum(lat), report,
                 overhead=[("etl", on, dt) for on, dt, _ in samples])
    if not ctx.trace:
        return res
    traced = [(dt, c) for on, dt, c in samples if on]
    if not traced:
        return res
    dur, _ = t.totals()
    n_tr = len(traced)
    total = _sum_counts(c for _, c in traced)
    busy = sum(dt for dt, _ in traced)
    res.layers.update({
        f"{name}_s": dur.get(name, 0.0) / n_tr
        for name in ("pipeline.construct", "sources.write_staging",
                     "operators.season_results", "sources.write_quarantine")
    })
    res.layers.update({
        "etl.jobs": total.jobs / n_tr,
        "etl.stages": total.stages / n_tr,
        "etl.tasks": total.tasks / n_tr,
        "etl.executor_s": total.executor_s / n_tr,
        "etl.input_b": total.input_b / n_tr,
        "etl.shuffle_write_b": total.shuffle_write_b / n_tr,
        "etl.output_b": total.output_b / n_tr,
        "etl.spill_b": total.spill_b / n_tr,
        "etl.cpu_util": total.executor_s / (busy * ctx.cores),
        "etl.write_amp": total.output_b / n_tr / zone.raw_bytes,
        "etl.kept_frac": zone.staged_rows / zone.generated_matches,
    })
    return res


# ---------------------------------------------------------------------------
# query_mix: a seeded-order roster of registry queries, noop-executed
# ---------------------------------------------------------------------------

# The repository's sf0.01 test tables (seed 42), committed with the
# benchmark so a run reads nothing outside its checkout.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# One query from every plans module: a construction-bound one (an eager
# checkpoint ladder with driver-side loops) and execution-bound
# star-schema, SQL, evaluation and curation shapes. A pass takes 6-10 s
# on 4 cores, about what the benchmark's time budget allows.
ROSTER = (
    "dedup_minhash_lsh_pairs",
    "flagship_top_customers",
    "doc_length_histogram",
    "sql_agg_orders",
    "calibration_bins",
    "fuzzy_levenshtein_pairs",
    "chunk_documents",
)
# Timed passes a run makes however short ``--seconds`` is: op_cpu_s takes
# each query at its cheapest of these first passes, so a host fast enough to
# fit more passes in the run does not lower it.
MIN_PASSES = 3
# Queries whose construct/execute split is reported on its own.
NAMED_QUERIES = ("dedup_minhash_lsh_pairs", "flagship_top_customers")
OPERATOR_SPANS = (
    ("operators.cache", "checkpoint_owned"),
    ("operators.dedup", "minhash_near_dup_pairs"),
)


def pass_order(seed: int, pass_no: int) -> list[str]:
    """The roster in the seeded order of one pass (negative passes warm up)."""
    rng = np.random.default_rng([seed, pass_no + 2])
    return [ROSTER[k] for k in rng.permutation(len(ROSTER))]


def _content_hash(df):
    """(row count, order-insensitive hash sum) aggregates for ``observe``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.col(f.name)) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return (
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2**31))).alias("hash"),
    )


class _Collected:
    """Collected rows in the shape ``oracle_harness.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def query_mix(ctx: Ctx) -> Result:
    import importlib

    from pyspark.sql import Observation
    from soccer_data_pipeline_spark.operators.cache import (
        persistent_rdd_ids,
        release_session_blocks,
    )
    from soccer_data_pipeline_spark.plans import ORACLES, QUERIES
    from tests.oracle_harness import compare

    spark = ctx.spark
    modules = {q: QUERIES[q].fn.__module__.rsplit(".", 1)[-1] for q in ROSTER}

    t = ctx.tracer
    for mod, name in OPERATOR_SPANS:
        t.wrap(importlib.import_module(f"soccer_data_pipeline_spark.{mod}"), name, f"{mod}.{name}")

    def run_query(q: str, collect: bool):
        """Construct, then execute with a row count + content hash observed."""
        df, c_dt, cc = _timed(ctx, f"{q} construct", lambda: QUERIES[q].fn(spark, SF_DIR))
        obs = Observation()
        odf = df.observe(obs, *_content_hash(df))
        if collect:
            rows, e_dt, ec = _timed(ctx, f"{q} execute", odf.collect)
        else:
            rows, e_dt, ec = _timed(
                ctx, f"{q} execute", lambda: odf.write.format("noop").mode("overwrite").save()
            )
        got = obs.get
        return df, rows, (int(got["rows"]), int(got["hash"] or 0)), c_dt, e_dt, cc, ec

    # warmup: the reference count + hash of every query, and its rows for
    # the DuckDB oracle diff, which runs after the timed passes
    ref = {}
    collected = {}

    def warm(q: str) -> None:
        release_session_blocks(spark)
        df, rows, h, *_ = run_query(q, collect=True)
        ref[q] = h
        collected[q] = _Collected(df.columns, rows)

    def oracle(q: str) -> None:
        if q not in ORACLES:
            ctx.fail(f"{q}: the registry has no DuckDB oracle for it")
            return
        ok, msg = compare(collected[q], ORACLES[q], SF_DIR)
        if not ok:
            ctx.fail(f"{q}: oracle mismatch: {msg}")

    def timed_query(q: str, p: int, on: bool) -> dict:
        blocks = len(persistent_rdd_ids(spark))
        r0 = time.perf_counter()
        release_session_blocks(spark)
        r_dt = time.perf_counter() - r0
        _, _, h, c_dt, e_dt, cc, ec = run_query(q, collect=False)
        if h != ref[q]:
            ctx.fail(f"{q} pass {p}: rows/hash {h} differ from warmup {ref[q]}")
        ctx.record(q, _sum_counts((cc, ec)))
        return dict(idx=t.op, q=q, p=p, traced=on, c=c_dt, e=e_dt, cc=cc, ec=ec,
                    blocks=blocks, release=r_dt)

    def warmup() -> None:
        """The reference pass."""
        for q in pass_order(ctx.seed, -1):
            ctx.attempt(f"{q} warmup", lambda: warm(q))
        release_session_blocks(spark, gc=True)
        ctx.settle()

    _setup_step(ctx, "warmup_s", warmup)

    # Whole seeded-order passes: a pass that starts before the deadline
    # runs to its end, and a run makes at least MIN_PASSES, so every query
    # is timed the same number of times. Each pass starts once the JIT has
    # compiled what the previous one ran. In a traced run the even passes
    # are traced and the odd ones are not.
    samples: list[dict] = []
    deadline = ctx.deadline()
    p = 0
    while p < MIN_PASSES or time.perf_counter() < deadline:
        if p:
            ctx.settle()
        on = ctx.tracing(len(samples), p)
        for q in pass_order(ctx.seed, p):
            if q not in ref:
                continue  # its warmup failed: nothing to check a timed run against
            t.op = len(samples)  # spans are attributed per query execution
            x = ctx.attempt(f"{q} pass {p}", lambda: timed_query(q, p, on))
            if x is not None:
                samples.append(x)
        p += 1

    o0 = time.perf_counter()
    for q in sorted(collected):
        ctx.attempt(f"{q} oracle", lambda: oracle(q))
    oracle_s = time.perf_counter() - o0

    lat = [x["c"] + x["e"] for x in samples]
    by_q: dict[str, list[dict]] = defaultdict(list)
    for x in samples:
        by_q[x["q"]].append(x)
    p90 = pct(lat, 0.9)
    report = [
        ("query_p50_s", median(lat), "s"),
        ("query_p90_s", p90, "s"),
        ("query_passes", p, "count"),
        ("query_samples", len(lat), "count"),
        ("query_samples_above_p90", sum(x > p90 for x in lat), "count"),
        ("roster_size", len(ROSTER), "count"),
        ("oracle_compare_s", oracle_s, "s"),
        ("codegen_compiles", sum(x["cc"].codegen + x["ec"].codegen for x in samples), "count"),
    ]
    # The end-to-end op is a whole pass: the median of single queries
    # falls between the roster's fast and slow queries and jumps between
    # them from run to run. Its CPU time sums each query at its cheapest
    # pass: the first timed passes still run code the JIT has not compiled
    # yet, and a burst of load from the host's other tenants inflates only
    # the queries it overlaps.
    passes: dict[int, list[dict]] = defaultdict(list)
    for x in samples:
        passes[x["p"]].append(x)
    whole = [xs for xs in passes.values() if len(xs) == len(ROSTER)]
    res = Result([sum(x["c"] + x["e"] for x in xs) for xs in whole],
                 sum(min(x["cc"].cpu_s + x["ec"].cpu_s for x in xs if x["p"] < MIN_PASSES)
                     for xs in by_q.values()),
                 len(lat), sum(lat), report,
                 overhead=[(x["q"], x["traced"], x["c"] + x["e"]) for x in samples])
    if not ctx.trace:
        return res

    # per-layer figures are per pass: each query's mean over its traced
    # samples, summed over the roster (or over one module's queries)
    traced = {q: [x for x in by_q[q] if x["traced"]] for q in ROSTER}
    lost = sorted(q for q, xs in traced.items() if not xs)
    if lost:
        why = f"no traced sample of {', '.join(lost)}"
        res.missing.update(dict.fromkeys(QUERY_LAYERS, why))
        return res

    def per_pass(fn, qs=ROSTER) -> float:
        return sum(statistics.fmean(fn(x) for x in traced[q]) for q in qs)

    own = t.self_by_op()
    _, calls = t.totals()
    layers = res.layers
    layers["plans.construct_s"] = per_pass(lambda x: x["c"])
    layers["plans.execute_s"] = per_pass(lambda x: x["e"])
    for mod in sorted(set(modules.values())):
        qs = [q for q in ROSTER if modules[q] == mod]
        layers[f"plans.{mod}.construct_s"] = per_pass(lambda x: x["c"], qs)
        layers[f"plans.{mod}.execute_s"] = per_pass(lambda x: x["e"], qs)
    for q in NAMED_QUERIES:
        layers[f"plans.q.{q}.construct_s"] = median([x["c"] for x in traced[q]])
        layers[f"plans.q.{q}.execute_s"] = median([x["e"] for x in traced[q]])
    busy = per_pass(lambda x: x["c"] + x["e"])
    executor = per_pass(lambda x: x["cc"].executor_s + x["ec"].executor_s)
    layers.update({
        "plans.jobs_construct": per_pass(lambda x: x["cc"].jobs),
        "plans.jobs_execute": per_pass(lambda x: x["ec"].jobs),
        "plans.stages": per_pass(lambda x: x["cc"].stages + x["ec"].stages),
        "plans.executor_s": executor,
        "plans.shuffle_write_b": per_pass(lambda x: x["cc"].shuffle_write_b + x["ec"].shuffle_write_b),
        "plans.spill_b": per_pass(lambda x: x["cc"].spill_b + x["ec"].spill_b),
        "plans.cpu_util": executor / (busy * ctx.cores),
        "plans.exchanges": per_pass(lambda x: x["ec"].exchanges),
        "plans.broadcasts": per_pass(lambda x: x["ec"].broadcasts),
        "plans.joins": per_pass(lambda x: x["ec"].joins),
        "operators.cache.blocks_left": per_pass(lambda x: x["blocks"]),
        "operators.cache.release_s": per_pass(lambda x: x["release"]),
    })
    for mod, name in OPERATOR_SPANS:
        span = f"{mod}.{name}"
        if calls.get(span):
            layers[f"{span}_s"] = per_pass(lambda x: own.get((x["idx"], span), 0.0))
        else:
            res.missing[f"{span}_s"] = "no roster query called it"
    return res


QUERY_LAYERS = (
    "plans.construct_s", "plans.execute_s", "plans.jobs_construct", "plans.jobs_execute",
    "plans.stages", "plans.executor_s", "plans.shuffle_write_b", "plans.spill_b",
    "plans.cpu_util", "plans.exchanges", "plans.broadcasts", "plans.joins",
    "operators.cache.blocks_left", "operators.cache.release_s",
    *(f"plans.q.{q}.{part}_s" for q in NAMED_QUERIES for part in ("construct", "execute")),
    *(f"{mod}.{name}_s" for mod, name in OPERATOR_SPANS),
)


# ---------------------------------------------------------------------------
# ann_serve: build once, then serve searches with deletes and purges mixed in
# ---------------------------------------------------------------------------

# 5x the 2,000-row sf0.1 embeddings table; at 10x the index build alone took
# ~25 s of every run, more than the benchmark's time budget allows
N_CORPUS = 10_000
BATCH = 10
K = 5
SHORTLIST = 200
# One round of the serving schedule. Every search costs seconds of fixed
# per-call work, so a round this short is what fits the benchmark's time
# budget; the search reads through the delete's tombstones, and the purge
# rewrites the cells that hold them.
ROUND = ("delete", "search", "purge")
# Timed rounds a run makes however short ``--seconds`` is: op_cpu_s takes
# each op kind at its cheapest of these first rounds.
MIN_ROUNDS = 2


def _tombstone_state(idx: str) -> dict:
    """Tombstoned ids and files, and rows per cell, read from the index
    directory."""
    tomb = os.path.join(idx, "tombstones")
    files = glob.glob(os.path.join(tomb, "*.parquet"))
    ids = set(pq.read_table(tomb).column("candidate_id").to_pylist()) if files else set()
    cell_rows = {
        int(d.rsplit("=", 1)[1]): sum(
            pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(d, "*.parquet"))
        )
        for d in glob.glob(os.path.join(idx, "index", "cell=*"))
    }
    return {"tombstones": len(ids), "tombstone_files": len(files), "cell_rows": cell_rows}


def ann_serve(ctx: Ctx) -> Result:
    import pyarrow as pa
    from soccer_data_pipeline_spark import index_pipeline as ip
    from soccer_data_pipeline_spark.operators import similarity

    spark = ctx.spark
    root = os.path.join(ctx.work, "ann")
    corpus_path = os.path.join(root, "corpus.parquet")
    idx = os.path.join(root, "index")

    def make_corpus():
        os.makedirs(root, exist_ok=True)
        vecs, labels = gen.clustered_vectors(N_CORPUS, ctx.seed)
        pq.write_table(
            pa.table({
                "vec_id": np.arange(N_CORPUS, dtype=np.int64),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels.astype(np.int32)),
            }),
            corpus_path,
            row_group_size=2048,
        )

    _setup_step(ctx, "gen.inputs_s", make_corpus)
    corpus = spark.read.parquet(corpus_path)
    _setup_step(
        ctx, "index_pipeline.run_ann_index_build_s",
        lambda: _timed(ctx, "ann build", lambda: ip.run_ann_index_build(
            corpus, idx, n_centroids=16, m=16, n_codes=16, residual=True)),
    )

    t = ctx.tracer
    probed: list[list[int]] = []
    t.wrap(ip, "load_ann_quantizers", "index_pipeline.load_ann_quantizers")
    t.wrap(similarity, "probe_cell_ids", "operators.similarity.probe_cell_ids",
           on_result=lambda cells: probed.append(list(cells)))
    t.wrap(ip, "load_tombstones", "index_pipeline.load_tombstones")
    t.wrap(ip, "load_ann_index", "index_pipeline.load_ann_index")
    t.wrap(ip, "ivfpq_search", "operators.similarity.ivfpq_search_construct")
    t.wrap(ip, "delete_ids", "index_pipeline.delete_ids")
    t.wrap(ip, "purge_deleted", "index_pipeline.purge_deleted")

    deleted: set[int] = set()
    served: list[int] = []
    before_purge: list[dict] = []  # index state each traced purge started from

    def search(op: int, tag: str):
        qdf = spark.createDataFrame(
            gen.query_batch(ctx.seed, op, BATCH), "vec_id long, embedding array<float>"
        )

        def call():
            df = ip.ann_index_search(qdf, corpus, idx, k=K, shortlist=SHORTLIST)
            with t.span("ann.search_execute"):
                return df.select("query_id", "candidate_id").collect()

        rows, dt, c = _timed(ctx, tag, call)
        ids = [int(r[1]) for r in rows]
        if len(rows) != BATCH * K:
            ctx.fail(f"{tag}: {len(rows)} results, expected {BATCH * K}")
        if deleted & set(ids):
            ctx.fail(f"{tag}: served deleted ids {sorted(deleted & set(ids))[:5]}")
        served[:] = ids
        return qdf, rows, dt, c

    def delete(op: int, tag: str):
        ids = gen.delete_batch(ctx.seed, op, served, N_CORPUS)
        n, dt, c = _timed(ctx, tag, lambda: ip.delete_ids(spark, idx, ids))
        if n != len(ids):
            ctx.fail(f"{tag}: wrote {n} tombstones, expected {len(ids)}")
        deleted.update(ids)
        return None, None, dt, c

    def purge(op: int, tag: str):
        if t.enabled:
            before_purge.append(_tombstone_state(idx))
        _, dt, c = _timed(ctx, tag, lambda: ip.purge_deleted(spark, idx))
        return None, None, dt, c

    run_op = {"search": search, "delete": delete, "purge": purge}

    def warmup() -> float:
        """One round like the timed ones, so every op kind has run (and had
        its code generated and compiled) on the paths it takes in them; the
        search is checked for recall@5 against exact brute force over the
        vectors not deleted."""
        from pyspark.sql import functions as F

        delete(-1, "warmup delete")
        qdf, rows, _, _ = search(-1, "warmup search")
        live = corpus.filter(~F.col("vec_id").isin(sorted(deleted)))
        exact = similarity.brute_force_topk(qdf, live, k=K).select(
            "query_id", "candidate_id").collect()
        recall = len({tuple(r) for r in rows} & {tuple(r) for r in exact}) / (BATCH * K)
        if recall < 0.8:
            ctx.fail(f"warmup recall@{K} {recall:.3f} < 0.8")
        purge(-1, "warmup purge")
        ctx.settle()
        return recall

    recall = _setup_step(ctx, "warmup_s", lambda: ctx.attempt("ann warmup", warmup)) or 0.0

    # Whole rounds: a round that starts before the deadline runs to its
    # end, so every run times the same mix of ops, and a run makes at least
    # MIN_ROUNDS. Each round starts once the JIT has compiled what the
    # previous one ran. In a traced run the even rounds are traced and the
    # odd ones are not.
    samples = []  # (kind, traced, seconds, counts)
    rounds = []  # seconds of each whole round
    cpu = {kind: [] for kind in ROUND}  # CPU seconds of each op of the first rounds
    deadline = ctx.deadline()
    i = r = 0
    while r < MIN_ROUNDS or time.perf_counter() < deadline:
        if r:
            ctx.settle()
        done = []
        for kind in ROUND:
            on = ctx.tracing(i, r)
            tag = f"{kind} {i}"
            got = ctx.attempt(tag, lambda: run_op[kind](i, tag))
            if got is not None:
                ctx.record(f"{i}:{kind}", got[3])
                samples.append((kind, on, got[2], got[3]))
                done.append(got)
                if r < MIN_ROUNDS:
                    cpu[kind].append(got[3].cpu_s)
            i += 1
        if len(done) == len(ROUND):
            rounds.append(sum(g[2] for g in done))
        r += 1
    t.enabled = False

    def purged() -> None:
        """The purge left no deleted id in the index files."""
        kept = set(pq.read_table(os.path.join(idx, "index"), columns=["candidate_id"])
                   .column("candidate_id").to_pylist())
        if kept & deleted:
            ctx.fail(f"purge left deleted ids {sorted(kept & deleted)[:5]} in the index")

    ctx.attempt("index after purge", purged)

    lat = {kind: [dt for k, _, dt, _ in samples if k == kind] for kind in ROUND}
    report = [
        ("search_p50_s", median(lat["search"]), "s"),
        ("search_p90_s", pct(lat["search"], 0.9), "s"),
        ("delete_p50_s", median(lat["delete"]), "s"),
        ("purge_p50_s", median(lat["purge"]), "s"),
        ("rounds", r, "count"),
        ("searches", len(lat["search"]), "count"),
        ("recall_at_5", recall, "fraction"),
        ("codegen_compiles", sum(c.codegen for _, _, _, c in samples), "count"),
    ]
    # The end-to-end op is a whole round, so the write-side ops count in it.
    # Its CPU time sums each op kind at its cheapest round, as query_mix
    # does with the queries of a pass.
    cheapest = {kind: min(xs, default=0.0) for kind, xs in cpu.items()}
    report += [(f"{kind}_cpu_s", cheapest[kind], "s") for kind in ROUND]
    res = Result(rounds, sum(cheapest.values()),
                 BATCH * len(lat["search"]), sum(dt for _, _, dt, _ in samples),
                 report, overhead=[(kind, on, dt) for kind, on, dt, _ in samples])
    if not ctx.trace:
        return res

    dur, calls = t.totals()
    for name in (
        "index_pipeline.load_ann_quantizers",
        "operators.similarity.probe_cell_ids",
        "index_pipeline.load_tombstones",
        "index_pipeline.load_ann_index",
        "operators.similarity.ivfpq_search_construct",
        "ann.search_execute",
        "index_pipeline.delete_ids",
        "index_pipeline.purge_deleted",
    ):
        if calls.get(name):
            res.layers[f"{name}_s"] = dur[name] / calls[name]
        else:
            res.missing[f"{name}_s"] = "no traced call"
    traced = [(dt, c) for kind, on, dt, c in samples if on and kind == "search"]
    purges = [c for kind, on, _, c in samples if on and kind == "purge"]
    if not (traced and purges and before_purge):
        why = "no traced search and purge completed"
        res.missing.update(dict.fromkeys(ANN_LAYERS, why))
        return res
    total = _sum_counts(c for _, c in traced)
    busy = sum(dt for dt, _ in traced)
    state = before_purge[0]
    res.layers.update({
        "ann.search_jobs": total.jobs / len(traced),
        "ann.search_stages": total.stages / len(traced),
        "ann.search_executor_s": total.executor_s / len(traced),
        "ann.search_cpu_util": total.executor_s / (busy * ctx.cores),
        "ann.cells_probed": median([len(c) for c in probed]),
        "ann.rows_scanned_per_result": median(
            [sum(state["cell_rows"].get(c, 0) for c in cells) for cells in probed]
        ) / (BATCH * K),
        "ann.tombstones": state["tombstones"],
        "ann.tombstone_files": state["tombstone_files"],
        "ann.purge_bytes_rewritten": median([c.output_b for c in purges]),
        "ann.recall_at_5": recall,
    })
    return res


ANN_LAYERS = (
    "ann.search_jobs", "ann.search_stages", "ann.search_executor_s", "ann.search_cpu_util",
    "ann.cells_probed", "ann.rows_scanned_per_result", "ann.tombstones",
    "ann.tombstone_files", "ann.purge_bytes_rewritten", "ann.recall_at_5",
)


WORKLOADS = {"etl_batch": etl_batch, "query_mix": query_mix, "ann_serve": ann_serve}
