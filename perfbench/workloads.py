"""The benchmark's workloads: each op is one public call into the engine
plus materialising its result the way a user would (``toPandas`` and a
chart), checked against answers computed outside Spark.

``crimes_dashboard`` runs the reference menu's ten views from a raw CSV
through the Parquet memo; ``registry_headline`` runs a pinned subset of
the named-query registry over generated star-schema tables.
"""

from __future__ import annotations

import contextlib
import functools
import hashlib
import math
import os
import shutil
import sys
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

VIEWS = [
    "critical_hours",
    "counts_by_primary_type",
    "dtype_census",
    "district_counts",
    "district_centroids",
    "season_pivot",
    "arrest_percentage",
    "common_crime_locations",
    "violent_area_counts",
    "moving_average",
]
# district_centroids, arrest_percentage and dtype_census bypass the memo
# (app.CrimesAnalytics only routes the other seven through cached()).
MEMO_VIEWS = [
    v for v in VIEWS if v not in ("district_centroids", "arrest_percentage", "dtype_census")
]
# Repeat rounds per pass, each requesting every memoised view once. One
# round takes about 1 s; a single round's time spread 12% (quartile
# distance over median) across runs, so hit_round_s is the median round.
REPEAT_ROUNDS = 3

SEASONS = ["Winter", "Spring", "Summer", "Autumn"]
# cleaned schema's dtype census: ID; the six string columns; Arrest,
# Domestic, District, Community Area, year (the raw Year column is
# replaced case-insensitively) and the four other date parts; lat/lon
CLEAN_DTYPES = {"bigint": 1, "double": 2, "int": 9, "string": 6}

# chart per view: (kind, x, y columns)
CHARTS = {
    "critical_hours": ("line", "hour", ["max_cnt"]),
    "counts_by_primary_type": ("bar", "Primary Type", "Count"),
    "dtype_census": ("bar", "dtype", "n_columns"),
    "district_counts": ("bar", "District", "cnt"),
    "district_centroids": ("bar", "District", "cnt"),
    "season_pivot": ("line", "year", SEASONS),
    "arrest_percentage": ("bar", "pct", "pct"),
    "common_crime_locations": ("bar", "Location Description", "cnt"),
    "violent_area_counts": ("bar", "Community Area", "cnt"),
    "moving_average": ("line", "month", ["Crimes_count", "moving_avg"]),
}


class NullTracer:
    """Untraced runs: no spans, no job groups, no wrapped calls."""

    traced = False

    def span(self, name: str, subgroup: bool = False):
        return contextlib.nullcontext()

    def begin_op(self, pass_id: str, op: str) -> None:
        pass

    def end_op(self, pass_id: str, op: str) -> None:
        pass


@dataclass
class OpResult:
    op: str
    seconds: float
    value: object  # the materialised pandas frame, or the exception raised
    repeat: bool = False


@dataclass
class PassResult:
    seconds: float
    ops: list[OpResult] = field(default_factory=list)
    repeat_rounds: list[float] = field(default_factory=list)


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result frame (columns and rows)."""
    rows = sorted(map(repr, pdf.astype(str).itertuples(index=False, name=None)))
    return hashlib.sha1("\n".join([repr(list(pdf.columns)), *rows]).encode()).hexdigest()


def render(pdf, op: str, charts_dir: str, tracer) -> None:
    from big_data_chicago_crimes_spark.render import render_bar, render_line

    kind, x, y = CHARTS[op]
    path = os.path.join(charts_dir, f"{op}.svg")
    with tracer.span("render"):
        if kind == "line":
            render_line(pdf, x, y, path, op)
        else:
            render_bar(pdf, x, y, path, op)


def _timed(op: str, fn: Callable, tracer, pass_id: str, repeat: bool = False) -> OpResult:
    tracer.begin_op(pass_id, op)
    t0 = time.perf_counter()
    try:
        value = fn()
    except Exception as exc:  # counted as a failed op, never fatal to the run
        traceback.print_exc(file=sys.stderr)
        value = exc
    seconds = time.perf_counter() - t0
    tracer.end_op(pass_id, op)
    return OpResult(op, seconds, value, repeat)


def _close(a, b, tol=1e-6) -> bool:
    return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=tol)


class Dashboard:
    """One pass = a first round over the views (compute, memoise, read
    back, render) then a repeat round that re-requests memoised views."""

    name = "crimes_dashboard"
    ops = VIEWS
    memo_ops = MEMO_VIEWS

    def __init__(self, spark, csv_path: str, expected: dict, work_dir: str, tracer=None):
        self.spark = spark
        self.csv_path = csv_path
        self.expected = expected
        self.work_dir = work_dir
        self.tracer = tracer or NullTracer()

    def analytics(self, memo_dir: str):
        from big_data_chicago_crimes_spark.app import CrimesAnalytics
        from big_data_chicago_crimes_spark.schemas import CRIMES_RAW_SCHEMA
        from big_data_chicago_crimes_spark.sources.readers import read_csv

        raw = read_csv(self.spark, self.csv_path, CRIMES_RAW_SCHEMA)
        return CrimesAnalytics.from_raw(raw, cache_dir=memo_dir)

    def run_pass(self, pass_id: str, order: list[str]) -> PassResult:
        memo_dir = os.path.join(self.work_dir, "memo", pass_id)
        charts_dir = os.path.join(self.work_dir, "charts", pass_id)
        os.makedirs(charts_dir, exist_ok=True)
        result = PassResult(0.0)
        t0 = time.perf_counter()
        analytics = self.analytics(memo_dir)

        def materialise(op):
            def fn():
                pdf = getattr(analytics, op)().toPandas()
                render(pdf, op, charts_dir, self.tracer)
                return pdf

            return fn

        for op in order:
            result.ops.append(_timed(op, materialise(op), self.tracer, pass_id))
        for i in range(REPEAT_ROUNDS):
            t_round = time.perf_counter()
            for op in [op for op in order if op in self.memo_ops]:
                result.ops.append(
                    _timed(op, materialise(op), self.tracer, f"{pass_id}.r{i}", repeat=True)
                )
            result.repeat_rounds.append(time.perf_counter() - t_round)
        result.seconds = time.perf_counter() - t0
        return result

    def warm_pass(self, order: list[str]) -> PassResult:
        return self.run_pass("warm", order)

    def final_check(self):
        """Checks made after the timed passes; the views need none."""
        return None

    def discard_pass_outputs(self, pass_id: str) -> None:
        shutil.rmtree(os.path.join(self.work_dir, "memo", pass_id), ignore_errors=True)
        shutil.rmtree(os.path.join(self.work_dir, "charts", pass_id), ignore_errors=True)

    def check_pass(self, result: PassResult) -> list[str]:
        """Names of the ops whose output is wrong (or that raised). A
        repeat request must hash equal to the same pass's first request."""
        failed = []
        first_hash: dict[str, str] = {}
        for r in result.ops:
            if isinstance(r.value, Exception):
                failed.append(r.op)
                continue
            h = result_hash(r.value)
            if r.repeat:
                if first_hash.get(r.op) != h:
                    failed.append(r.op)
                continue
            first_hash[r.op] = h
            try:
                ok = self.check(r.op, r.value)
            except (KeyError, ValueError, TypeError, IndexError):
                ok = False
            if not ok:
                failed.append(r.op)
        return failed

    def check(self, op: str, pdf) -> bool:
        e = self.expected
        if op == "counts_by_primary_type":
            counts = list(pdf["Count"])
            return counts == sorted(counts, reverse=True) and dict(
                zip(pdf["Primary Type"], map(int, counts))
            ) == e["counts_by_primary_type"]
        if op == "district_counts":
            return list(pdf["District"]) == sorted(pdf["District"]) and {
                str(d): int(n) for d, n in zip(pdf["District"], pdf["cnt"])
            } == e["district_counts"]
        if op == "critical_hours":
            return {str(h): int(n) for h, n in zip(pdf["hour"], pdf["max_cnt"])} == e[
                "critical_hours"
            ]
        if op == "season_pivot":
            got = {
                str(r["year"]): [int(r[s]) for s in SEASONS] for _, r in pdf.iterrows()
            }
            return got == e["season_pivot"] and list(pdf["year"]) == sorted(pdf["year"])
        if op == "arrest_percentage":
            return len(pdf) == 1 and _close(float(pdf["pct"][0]), e["arrest_pct"])
        if op == "dtype_census":
            return dict(zip(pdf["dtype"], map(int, pdf["n_columns"]))) == CLEAN_DTYPES
        if op == "common_crime_locations":
            top = sorted(e["location_counts"].items(), key=lambda kv: (-kv[1], kv[0]))[:10]
            got = [(k, int(n)) for k, n in zip(pdf["Location Description"], pdf["cnt"])]
            return got == top
        if op == "violent_area_counts":
            top = sorted(
                ((int(k), n) for k, n in e["violent_area_counts"].items()),
                key=lambda kv: (-kv[1], kv[0]),
            )[:10]
            return [(int(a), int(n)) for a, n in zip(pdf["Community Area"], pdf["cnt"])] == top
        if op == "moving_average":
            series = sorted(
                (tuple(map(int, k.split("-"))), n) for k, n in e["monthly_counts"].items()
            )
            if len(pdf) != len(series):
                return False
            for i, ((ym, n), r) in enumerate(zip(series, pdf.itertuples(index=False))):
                window = [c for _, c in series[max(0, i - 2) : i + 1]]
                if (int(r.year), int(r.month)) != ym or int(r.Crimes_count) != n:
                    return False
                if not _close(float(r.moving_avg), sum(window) / len(window)):
                    return False
            return True
        if op == "district_centroids":
            cells = e["district_type_cells"]
            if len(pdf) != len(cells):
                return False
            for r in pdf.itertuples(index=False):
                n, lat, lon = cells[f"{r[0]}|{r[1]}"]
                if int(r.cnt) != n or not _close(r.avg_lat, lat, 1e-9) or not _close(
                    r.avg_lon, lon, 1e-9
                ):
                    return False
            return True
        raise KeyError(op)


# Pinned subset of the registry, so later edits to bench.py's HEADLINE
# list cannot silently change this workload: the cheapest HEADLINE query
# of each queries/* module HEADLINE draws from, except that similarity
# is represented by its ROADMAP target, plus the cheapest of the ml
# module's queries (HEADLINE has none), so operators.ml runs here. Warm
# seconds per query over sf 0.01 tables on 4 cores in parentheses. Left
# out so that a run (JVM start, warm pass, two timed passes) stays near
# a minute: the curation module
# (docs_bigram_perplexity 2.0), the asof module (orders_by_price_band
# 0.8) and eight of the nine ROADMAP targets (docs_bpe_merges 4.3 and
# docs_domain_quota 4.4 cold; events_join_size_cms 2.0,
# docs_shared_span_pairs 1.9, docs_exact_substring_spans 1.8,
# embedding_batch_topk 1.9, docs_jaccard_pairs 1.6,
# docs_span_removal_cut 1.5 warm). geo and multimodal have no HEADLINE
# query.
REGISTRY_QUERIES = [
    "events_count_by_type",  # reference (0.38)
    "events_csv_roundtrip",  # etl (0.69)
    "orders_lake_partitioned_scan",  # layout (0.42)
    "all_account_balances",  # join (0.35)
    "orders_monthly_window_surface",  # window (0.36)
    "orders_running_total",  # olap (0.30)
    "docs_fingerprint_census",  # text (0.33)
    "docs_intra_dedup",  # dedup (0.20)
    "embedding_ann_lsh_topk_lake",  # similarity, ROADMAP target (1.48)
    "docs_sampling_census",  # sampling (0.42)
    "ml_kmeans_customer_clusters",  # ml (1.65)
]
REGISTRY_TARGETS = ["embedding_ann_lsh_topk_lake"]
# Served from an artifact the first request materialises under the lake
# (``sources.sinks.cached``): the repeat round re-requests them.
LAKE_QUERIES = ["events_csv_roundtrip", "orders_lake_partitioned_scan", "embedding_ann_lsh_topk_lake"]
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def normalised(pdf):
    """Columns sorted by name, floats rounded to 6 places, timestamps as
    text, rows sorted: how the registry's oracles are compared."""
    import pandas as pd

    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(6)
        elif pd.api.types.is_datetime64_any_dtype(out[c]):
            out[c] = out[c].astype("datetime64[us]").astype(str)
    return out.sort_values(by=list(out.columns), ignore_index=True)


def _same_cell(x, y) -> bool:
    def null(v):
        return v is None or (isinstance(v, float) and math.isnan(v))

    if null(x) or null(y):
        return null(x) and null(y)
    if isinstance(x, float) and isinstance(y, float):
        return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6)
    return str(x) == str(y)


class Registry:
    """One pass = every pinned query once (build, execute to a noop sink,
    release scratch caches, as bench.py times them), then a repeat round
    that re-requests the lake-served ones. Outputs are checked outside the
    timed passes: the warm pass and a final repeat of the lake-served
    queries are collected and compared with their DuckDB oracles."""

    name = "registry_headline"
    ops = REGISTRY_QUERIES
    memo_ops = LAKE_QUERIES

    def __init__(self, spark, tables_dir: str, work_dir: str, tracer=None):
        from big_data_chicago_crimes_spark.plans.registry import all_queries

        self.spark = spark
        self.tables_dir = tables_dir
        self.work_dir = work_dir
        self.tracer = tracer or NullTracer()
        self.queries = all_queries()

    def request(self, op: str, collect: bool):
        from big_data_chicago_crimes_spark.session import release_scratch_caches

        t = self.tracer
        with t.span("plans.registry.build", subgroup=True):
            df = self.queries[op].build(self.spark, self.tables_dir)
        with t.span("plans.registry.plan"):
            if t.traced:
                df._jdf.queryExecution().executedPlan()
        with t.span("plans.registry.exec"):
            if collect:
                value = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                value = None
        release_scratch_caches()
        return value

    def run_pass(self, pass_id: str, order: list[str], collect: bool = False) -> PassResult:
        result = PassResult(0.0)
        t0 = time.perf_counter()
        for op in order:
            fn = functools.partial(self.request, op, collect)
            result.ops.append(_timed(op, fn, self.tracer, pass_id))
        t_round = time.perf_counter()
        for op in [op for op in order if op in self.memo_ops]:
            fn = functools.partial(self.request, op, collect)
            result.ops.append(_timed(op, fn, self.tracer, f"{pass_id}.r0", repeat=True))
        result.repeat_rounds.append(time.perf_counter() - t_round)
        result.seconds = time.perf_counter() - t0
        return result

    def warm_pass(self, order: list[str]) -> PassResult:
        """Collects every result, so the warm pass is checked too."""
        return self.run_pass("warm", order, collect=True)

    def discard_pass_outputs(self, pass_id: str) -> None:
        pass

    def final_check(self) -> PassResult:
        """After the timed passes the lake-served queries read artifacts
        the warm pass wrote: collect them once more for the oracle check."""
        result = PassResult(0.0)
        for op in self.memo_ops:
            fn = functools.partial(self.request, op, True)
            result.ops.append(_timed(op, fn, self.tracer, "final"))
        return result

    def check_pass(self, result: PassResult) -> list[str]:
        """Timed passes write to a noop sink: an op fails there only by
        raising. Collected passes are compared with the oracles."""
        failed = []
        for r in result.ops:
            if isinstance(r.value, Exception):
                failed.append(r.op)
            elif r.value is not None and not self.check(r.op, r.value):
                failed.append(r.op)
        return failed

    def oracle(self, op: str):
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables_dir}/{t}.parquet'")
            return con.execute(self.queries[op].oracle).df()
        finally:
            con.close()

    def check(self, op: str, pdf) -> bool:
        want = self.oracle(op)
        if sorted(pdf.columns) != sorted(want.columns) or len(pdf) != len(want):
            return False
        a, b = normalised(pdf), normalised(want)
        return all(
            _same_cell(x, y) for c in a.columns for x, y in zip(a[c].tolist(), b[c].tolist())
        )


WORKLOADS = {w.name: w for w in (Dashboard, Registry)}
