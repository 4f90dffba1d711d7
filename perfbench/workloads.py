"""The benchmark's workloads.

Each workload generates its inputs from the seed (``generate``), binds
to a session and its data (``bind``: no engine work), does its one-off
set-up (``prepare``: fits, index builds, the warm-up operation),
computes the expected outputs outside any timed interval (``expect``),
and then runs operations (``op``), each checked by ``check``.

``calls`` holds the benchmark's own call-and-collect units an operation
is made of; ``patches`` lists those and the engine functions a traced
run wraps in spans; ``spans`` lists the span names a traced run must
produce.
"""

from __future__ import annotations

import math
import os
import random
import time
from contextlib import contextmanager
from dataclasses import dataclass

import duckdb
import numpy as np

from perfbench.inputs import (
    MixShape,
    TickShape,
    WideShape,
    write_mix_tables,
    write_ticks,
    write_wide_tables,
)
from perfbench.trace import traced


@dataclass
class Outcome:
    ok: bool
    detail: str = ""


@contextmanager
def phase(phases: dict, name: str):
    """Time one set-up phase into ``phases`` (kept in the run record)."""
    t0 = time.perf_counter()
    yield
    phases[name] = time.perf_counter() - t0


def assert_nothing_cached(spark) -> None:
    """Drop every cached frame, so the next query starts from the files
    on disk."""
    spark.catalog.clearCache()
    n = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    if n:
        raise RuntimeError(f"{n} RDDs still persisted after clearCache()")


def _duck(data_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def canon(rows, cols) -> list[tuple]:
    """Order-insensitive canonical form: columns sorted by name, floats
    as ``%.9g``, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("%.9g" % v)
            elif hasattr(v, "tolist"):
                vals.append(str(v.tolist()))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def rows_close(rows, cols, exp_rows, exp_cols) -> bool:
    """Order-insensitive row match where floats may differ by one unit in
    the last place the registry rounds to (``1e-6 + 1e-7·|x|``): Spark and
    DuckDB round a float sum that lands on an exact decimal midpoint
    differently (README, defect 4)."""

    def norm(rs, cs):
        order = sorted(range(len(cs)), key=lambda i: cs[i])
        out = [[r[i] for i in order] for r in rs]
        return sorted(out, key=lambda r: ["%.4e" % v if isinstance(v, float) else str(v) for v in r])

    a, b = norm(rows, cols), norm(exp_rows, exp_cols)
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not (math.isnan(x) and math.isnan(y)) and not abs(x - y) <= 1e-6 + 1e-7 * abs(y):
                    return False
            elif str(x) != str(y):
                return False
    return len(a) == len(b)


def _close(a, b, tol: float = 2e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= tol * max(1.0, abs(b))
    return a == b


# --- spread_batch ------------------------------------------------------------


class SpreadBatch:
    """``e1_flagship`` plus ``e2_training_matrix`` over a long-layout
    tick table."""

    name = "spread_batch"
    clients = 1
    spans = (
        "sources.load_table",
        "plans.e1_pipeline.e1_flagship",
        "plans.e1_pipeline.daily_bars",
        "operators.cleaning.ffill_bfill_long",
        "plans.e1_pipeline.spreads",
        "plans.e1_pipeline.future_spreads",
        "plans.queries_timeseries.e2_training_matrix",
    )

    def __init__(self, scale: str):
        self.shape = (
            TickShape(instruments=160, days=250, ticks_per_day=40)
            if scale == "full"
            else TickShape(instruments=12, days=40, ticks_per_day=4)
        )
        self.rows_per_op = self.shape.rows

    def generate(self, out_dir: str, seed: int) -> None:
        write_ticks(out_dir, seed, self.shape)

    def bind(self, spark, data_dir: str, seed: int) -> None:
        from commodity_price_forecasting_spark.plans import e1_pipeline, queries_timeseries

        self.spark, self.data_dir = spark, data_dir
        self.calls = {
            "e1": lambda: e1_pipeline.e1_flagship(spark, data_dir).collect(),
            "e2": lambda: queries_timeseries.e2_training_matrix(spark, data_dir).toPandas(),
        }

    def prepare(self) -> None:
        # Three warm-up operations: the JIT is still speeding operations
        # up for several after the first (3.7, 3.2, 2.6, 2.7 ... 2.2 s).
        for _ in range(3):
            self.op(0)

    def expect(self) -> None:
        from commodity_price_forecasting_spark.plans.e1_pipeline import E1_ORACLE
        from commodity_price_forecasting_spark.plans.registry import load_all

        con = _duck(self.data_dir, ["events"])
        self.e1_expected = con.execute(E1_ORACLE).fetchall()
        e2_sql = load_all()["e2_training_matrix"].oracle
        e2 = con.execute(e2_sql).fetch_df()
        self.e2_cols = list(e2.columns)
        self.e2_expected = e2.sort_values(["instrument", "day"]).reset_index(drop=True)
        con.close()

    def op(self, i: int):
        # e1_flagship leaves its daily bars persisted; e2 builds the same
        # plan and must not read them
        ranked = self.calls["e1"]()
        assert_nothing_cached(self.spark)
        return ranked, self.calls["e2"]()

    def check(self, i: int, result) -> Outcome:
        ranked, e2 = result
        got = [(r["pair"], r["lag"], r["variance"], r["n"]) for r in ranked]
        exp = [tuple(r) for r in self.e1_expected]
        if len(got) != len(exp) or not got:
            return Outcome(False, f"e1 rows {len(got)} != {len(exp)}")
        for g, e in zip(sorted(got), sorted(exp)):
            if g[0] != e[0] or g[1] != e[1] or g[3] != e[3] or not _close(g[2], e[2]):
                return Outcome(False, f"e1 row {g} != {e}")
        exp2 = self.e2_expected
        if len(e2) != len(exp2) or len(e2) == 0:
            return Outcome(False, f"e2 rows {len(e2)} != {len(exp2)}")
        e2 = e2[self.e2_cols].sort_values(["instrument", "day"]).reset_index(drop=True)
        if not (e2["instrument"].to_numpy() == exp2["instrument"].to_numpy()).all():
            return Outcome(False, "e2 instrument keys differ")
        if [str(d) for d in e2["day"]] != [str(d)[:10] for d in exp2["day"]]:
            return Outcome(False, "e2 day keys differ")
        for c in self.e2_cols[2:]:
            a = e2[c].to_numpy(dtype=float)
            b = exp2[c].to_numpy(dtype=float)
            if not np.allclose(a, b, rtol=0, atol=2e-6, equal_nan=True):
                return Outcome(False, f"e2 column {c} differs")
        return Outcome(True)

    def patches(self, tracer):
        from commodity_price_forecasting_spark.plans import e1_pipeline

        return [
            (self.calls, "e1", traced(tracer, "plans.e1_pipeline.e1_flagship", self.calls["e1"])),
            (self.calls, "e2", traced(tracer, "plans.queries_timeseries.e2_training_matrix", self.calls["e2"])),
            (e1_pipeline, "daily_bars", traced(tracer, "plans.e1_pipeline.daily_bars", e1_pipeline.daily_bars, "cache")),
            (e1_pipeline, "ffill_bfill_long", traced(tracer, "operators.cleaning.ffill_bfill_long", e1_pipeline.ffill_bfill_long, "cache")),
            (e1_pipeline, "spreads", traced(tracer, "plans.e1_pipeline.spreads", e1_pipeline.spreads, "cache")),
            (e1_pipeline, "future_spreads", traced(tracer, "plans.e1_pipeline.future_spreads", e1_pipeline.future_spreads, "cache")),
        ]


# --- signal_serving ------------------------------------------------------------

SIGNAL_THRESHOLD = 0.6
MIN_CONFIDENCE = 0.6


class SignalServing:
    """Set-up runs the offline reference pipeline on wide tables, writes
    its df_transformed-shaped output as CSV, loads it through the API and
    fits one ensemble per served target. One operation is one
    ``api.trade_suggestion`` request."""

    name = "signal_serving"
    clients = 2
    spans = (
        "sources.load_table",
        "plans.reference_pipeline.run_e1",
        "operators.cleaning.drop_any_null_rows",
        "operators.cleaning.sparse_columns",
        "operators.cleaning.ffill_bfill_wide",
        "plans.reference_pipeline.check_invariants",
        "api.load_data",
        "ml.ensemble.run_ensemble",
        "ml.ensemble.fit.linear",
        "ml.ensemble.fit.ridge",
        "ml.ensemble.fit.random_forest",
        "functions.stats.regression_metrics",
        "api.trade_suggestion",
        "ml.serving.predict_signal",
    )

    def __init__(self, scale: str):
        self.shape = (
            WideShape(days=120, markets=60, targets=48)
            if scale == "full"
            else WideShape(days=60, markets=30, targets=24)
        )
        self.n_targets = 2
        self.top_k = 10 if scale == "full" else 4
        # rows_per_s is completed requests per second of the closed loop
        self.rows_per_op = None

    def generate(self, out_dir: str, seed: int) -> None:
        write_wide_tables(out_dir, seed, self.shape)

    def bind(self, spark, data_dir: str, seed: int) -> None:
        self.spark, self.data_dir, self.seed = spark, data_dir, seed
        self.calls = {"request": self._request}

    def _request(self, target: str, inputs: dict):
        from commodity_price_forecasting_spark import api

        return api.trade_suggestion(self.spark, self.ens[target], self.features, target, inputs=inputs).collect()

    def prepare(self) -> None:
        import pandas as pd

        from commodity_price_forecasting_spark import api
        from commodity_price_forecasting_spark.plans import reference_pipeline
        from commodity_price_forecasting_spark.sources.readers import load_table

        spark, data_dir = self.spark, self.data_dir
        self.phases: dict[str, float] = {}
        with phase(self.phases, "run_e1"):
            tables = {t: load_table(spark, data_dir, t) for t in ("train", "train_labels", "target_pairs")}
            res = reference_pipeline.run_e1(
                tables["train"], tables["train_labels"], tables["target_pairs"], top_k=self.top_k
            )
            merged = res.merged.orderBy("date_id").toPandas()
        inv = res.invariants
        labels = pd.read_parquet(os.path.join(data_dir, "train_labels.parquet"))
        n_clean = int(labels.dropna().shape[0])
        if not (inv["zero_nulls"] and inv["zero_duplicates"] and inv["time_unique"]):
            raise RuntimeError(f"reference pipeline invariants failed: {inv}")
        if not n_clean - 4 <= inv["n_rows"] <= n_clean - 1:
            raise RuntimeError(f"merged rows {inv['n_rows']} outside [{n_clean - 4}, {n_clean - 1}]")
        self.csv = os.path.join(data_dir, "df_transformed.csv")
        merged.to_csv(self.csv, index=False)

        with phase(self.phases, "load_data"):
            df, self.features, targets = api.load_data(spark, self.csv)
        self.df = df.cache()
        self.targets = targets[: self.n_targets]
        self.ens = {}
        self.coef = {}
        for t in self.targets:
            with phase(self.phases, f"run_ensemble[{t}]"):
                ens = api.run_ensemble(self.df, self.features, t)
            w = sum(ens.weights.values())
            if abs(w - 1.0) > 1e-9 or min(ens.weights.values()) <= 0:
                raise RuntimeError(f"ensemble weights for {t} do not sum to 1: {ens.weights}")
            self.ens[t] = ens
            self.coef[t] = {
                n: (np.array(ens.fitted[n].stages[-1].coefficients.toArray()), ens.fitted[n].stages[-1].intercept)
                for n in ("linear", "ridge")
            }
        latest = merged.iloc[-1]
        base = np.array([float(latest[c]) for c in self.features])
        rng = np.random.default_rng([self.seed, 4])
        n_req = 4096
        self.requests = [
            (self.targets[int(rng.integers(0, len(self.targets)))], base * (1.0 + rng.normal(0.0, 0.02, len(base))))
            for _ in range(n_req)
        ]
        with phase(self.phases, "warm_up"):
            self.op(0)

    def expect(self) -> None:
        pass

    def op(self, i: int):
        target, x = self.requests[i % len(self.requests)]
        return self.calls["request"](target, dict(zip(self.features, (float(v) for v in x))))

    def check(self, i: int, rows) -> Outcome:
        target, x = self.requests[i % len(self.requests)]
        if len(rows) != 1:
            return Outcome(False, f"{len(rows)} rows")
        r = rows[0].asDict()
        ens = self.ens[target]
        for name, (coef, icpt) in self.coef[target].items():
            if not _close(r[f"pred_{name}"], float(coef @ x + icpt), 1e-9):
                return Outcome(False, f"pred_{name} {r[f'pred_{name}']} != {coef @ x + icpt}")
        pred = sum(ens.weights[n] * r[f"pred_{n}"] for n in ens.weights)
        r2 = ens.avg_r2
        if not (_close(r["prediction"], pred, 1e-9) and _close(r["avg_r2"], r2, 1e-12)):
            return Outcome(False, "prediction != sum of weighted model predictions")
        if abs(pred) < SIGNAL_THRESHOLD or r2 < MIN_CONFIDENCE:
            signal = "WAIT"
        else:
            signal = "BUY_A_SELL_B" if pred > 0 else "SELL_A_BUY_B"
        conf = "High" if r2 >= 0.7 else "Medium" if r2 >= 0.4 else "Low"
        strength = round(min(abs(pred) / SIGNAL_THRESHOLD, 1.0), 6)
        legs = target.split(" - ")
        want = (target, legs[0].strip(), legs[1].strip(), signal, conf)
        have = (r["target"], r["leg_a"], r["leg_b"], r["signal"], r["confidence"])
        if want != have or not _close(r["strength"], strength, 1e-9):
            return Outcome(False, f"signal {have} {r['strength']} != {want} {strength}")
        return Outcome(True)

    def patches(self, tracer):
        from pyspark.ml import Pipeline

        from commodity_price_forecasting_spark import api
        from commodity_price_forecasting_spark.ml import ensemble
        from commodity_price_forecasting_spark.plans import reference_pipeline as rp

        names: dict[int, str] = {}
        default_models = ensemble.default_models

        def named_models(*a, **k):
            models = default_models(*a, **k)
            names.update({id(est): n for n, est in models.items()})
            return models

        class TracedPipeline(Pipeline):
            def fit(self, dataset, params=None):
                est = self.getStages()[-1]
                with tracer.span(f"ml.ensemble.fit.{names.get(id(est), type(est).__name__)}"):
                    return super().fit(dataset, params)

        return [
            (rp, "run_e1", traced(tracer, "plans.reference_pipeline.run_e1", rp.run_e1)),
            (rp, "drop_any_null_rows", traced(tracer, "operators.cleaning.drop_any_null_rows", rp.drop_any_null_rows, "cache")),
            (rp, "sparse_columns", traced(tracer, "operators.cleaning.sparse_columns", rp.sparse_columns)),
            (rp, "ffill_bfill_wide", traced(tracer, "operators.cleaning.ffill_bfill_wide", rp.ffill_bfill_wide, "cache")),
            (rp, "check_invariants", traced(tracer, "plans.reference_pipeline.check_invariants", rp.check_invariants)),
            (api, "load_data", traced(tracer, "api.load_data", api.load_data)),
            (api, "_run_ensemble", traced(tracer, "ml.ensemble.run_ensemble", api._run_ensemble)),
            (ensemble, "default_models", named_models),
            (ensemble, "Pipeline", TracedPipeline),
            (ensemble, "regression_metrics", traced(tracer, "functions.stats.regression_metrics", ensemble.regression_metrics, "cache")),
            (self.calls, "request", traced(tracer, "api.trade_suggestion", self.calls["request"])),
            (api, "predict_signal", traced(tracer, "ml.serving.predict_signal", api.predict_signal)),
        ]


# --- operator_mix ---------------------------------------------------------------

#: query -> the module it exercises (its span name prefix)
MIX_QUERIES = {
    "dedup_minhash_lsh": "operators.dedup",
    "sim_ivfpq_probe_only": "operators.similarity",
    "text_bm25_search": "operators.textops",
    "mm_media_inventory": "operators.multimodal",
    "st_tumbling_daily": "streaming.events_stream",
    "ts_asof_join": "operators.timeseries",
    "q3_shipping_priority": "plans.queries_relational",
}
MIX_TABLES = ("customer", "orders", "lineitem", "events", "documents", "embeddings")


class OperatorMix:
    """One pass over seven registry queries in a seed-set order."""

    name = "operator_mix"
    clients = 1
    spans = ("sources.load_table",) + tuple(f"{m}.{q}" for q, m in MIX_QUERIES.items())

    def __init__(self, scale: str):
        self.shape = (
            MixShape(customers=1000, orders=6000, lines_per_order=4, events=6000,
                     users=100, documents=250, vectors=400)
            if scale == "full"
            else MixShape(customers=200, orders=1000, lines_per_order=2, events=2000,
                          users=40, documents=120, vectors=200)
        )
        s = self.shape
        self.rows_per_op = (
            s.customers + s.orders * (1 + s.lines_per_order) + s.events + s.documents + s.vectors
        )

    def generate(self, out_dir: str, seed: int) -> None:
        write_mix_tables(out_dir, seed, self.shape)

    def bind(self, spark, data_dir: str, seed: int) -> None:
        from commodity_price_forecasting_spark.plans.registry import load_all

        self.data_dir = data_dir
        self.specs = load_all()
        self.order = list(MIX_QUERIES)
        random.Random(seed).shuffle(self.order)
        self.calls = {q: self._runner(spark, self.specs[q].fn) for q in self.order}

    def _runner(self, spark, fn):
        def run():
            df = fn(spark, self.data_dir)
            return df.columns, df.collect()

        return run

    def prepare(self) -> None:
        self.op(0)

    def expect(self) -> None:
        con = _duck(self.data_dir, MIX_TABLES)
        self.expected = {}
        for q in self.order:
            rel = con.execute(self.specs[q].oracle)
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            self.expected[q] = (cols, rows, canon(rows, cols))
        con.close()

    def op(self, i: int):
        return {q: self.calls[q]() for q in self.order}

    def check(self, i: int, result) -> Outcome:
        inexact = []
        for q, (cols, rows) in result.items():
            exp_cols, exp_rows, exp_canon = self.expected[q]
            if sorted(cols) != sorted(exp_cols):
                return Outcome(False, f"{q}: columns {sorted(cols)} != {sorted(exp_cols)}")
            if not exp_rows:
                return Outcome(False, f"{q}: oracle returned no rows")
            if len(rows) != len(exp_rows):
                return Outcome(False, f"{q}: {len(rows)} rows != {len(exp_rows)}")
            if canon([tuple(r) for r in rows], cols) != exp_canon:
                if not rows_close([tuple(r) for r in rows], cols, exp_rows, exp_cols):
                    return Outcome(False, f"{q}: values differ from oracle")
                inexact.append(q)
        return Outcome(True, f"matched within one rounding unit, not exactly: {inexact}" if inexact else "")

    def patches(self, tracer):
        return [
            (self.calls, q, traced(tracer, f"{MIX_QUERIES[q]}.{q}", self.calls[q]))
            for q in self.order
        ]


WORKLOADS = {w.name: w for w in (SpreadBatch, SignalServing, OperatorMix)}
