"""The benchmark's workloads and their reference checks.

Each workload runs in passes built from the layer functions in
``layers.py``; a pass times only the package's public calls.  Input
generation, reference checks and, in traced passes, the layers the
workload does not use run outside the timed window.  A pass returns a
``PassResult`` whose ``failures`` name every call whose output did not
match its reference; each counts as a failed operation.

- ``lifecycle``: ``gordo build`` (``workflow.load_config`` then
  ``builder.ModelBuilder.build`` per machine into a fresh registry) and
  then ``gordo score`` (``client.predict_date_range`` written to a
  parquet sink and counted back), on freshly generated input every pass.
- ``stream_monitor``: ``run_streaming_cusum`` (pandas state) and then
  ``run_streaming_tumbling_agg(max_files_per_trigger=1)`` (JVM state with
  a watermark), three file micro-batches each, on fresh input every pass.
- ``query_mix``: the registry queries of ``layers.QUERY_MIX``, once per
  pass in a seed-shuffled order, over one fixed input, each checked
  against its DuckDB oracle.
"""

from __future__ import annotations

import glob
import itertools
import os
import statistics
import time
from dataclasses import dataclass, field
from fractions import Fraction

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import datagen
import layers

# Sizes: one pass takes seconds on local[4].
LIFECYCLE_ROWS, LIFECYCLE_USERS = 8_000, 60
STREAM_ROWS, STREAM_USERS = 8_000, 40
QUERY_MIX_ROWS = 20_000
MIN_MODEL_BUCKETS = 8  # ml.islands training gate: hourly buckets per machine
RESOLUTION_MINUTES = {"30T": 30, "1H": 60, "2H": 120}


@dataclass
class PassResult:
    pass_s: float
    ops: list[float]  # latencies of the workload's unit operation
    steps: dict[str, float]  # named sub-steps of the pass (seconds)
    attempted: int
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)


class Context:
    """What every workload shares: the session, the run directory, the
    seed, the tracer, the streaming listener and a DuckDB factory."""

    def __init__(self, spark, run_dir: str, seed: int, nproc: int, tracer, listener):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.nproc = nproc
        self.tracer = tracer
        self.listener = listener
        self.input_names: list[str] = []

    def new_input(self, tag: str, n_rows: int, n_users: int | None = None) -> str:
        """A fresh input directory with a unique basename: the package's
        scratch caches key on it, so every input is cold."""
        i = len(self.input_names)
        name = f"e2e-{os.getpid()}-{tag}{i}"
        sub_seed = int(np.random.SeedSequence([self.seed, i]).generate_state(1)[0])
        path = os.path.join(self.run_dir, "inputs", name)
        datagen.write_events(path, n_rows, sub_seed, n_users)
        self.input_names.append(name)
        return path

    def duck(self, sf_dir: str) -> duckdb.DuckDBPyConnection:
        """DuckDB with ``events`` viewing ``sf_dir`` (threads ≤ nproc)."""
        con = duckdb.connect()
        con.execute(f"SET threads TO {self.nproc}")
        con.execute("SET memory_limit = '1GB'")
        con.execute(f"SET temp_directory = '{self.run_dir}/duckdb_tmp'")
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
        )
        return con


class Lifecycle:
    name = "lifecycle"

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.yaml = layers.project_yaml()

    def setup(self) -> None:
        self.run_pass(warmup=True)

    def run_pass(self, warmup: bool = False, other_layers: bool = False) -> PassResult:
        from gordo_components_spark.workflow import load_config

        ctx = self.ctx
        d = ctx.new_input("lc", LIFECYCLE_ROWS, LIFECYCLE_USERS)
        t0 = time.perf_counter()
        with ctx.tracer.span("workflow.load_config"):
            machines = load_config(self.yaml)
        metas, build_s, registry, built = layers.builder(
            ctx, d, machines, os.path.join(d, "registry")
        )
        t1 = time.perf_counter()
        sink = os.path.join(d, "scored")
        rows_back, score_s, scored = layers.client(ctx, d, sink)
        res = PassResult(
            pass_s=t1 - t0 + score_s,
            ops=build_s,
            steps={"build_s": t1 - t0, "score_s": score_s},
            attempted=len(machines) + 1,
        )
        if warmup:
            return res
        res.failures += self._check_builds(d, machines, metas, registry)
        res.failures += self._check_scores(d, sink, rows_back)
        if ctx.tracer.enabled:
            res.layers = {**built, **scored}
            if other_layers:
                res.layers.update(layers.other_layers(ctx, d, {"builder", "client"}))
        return res

    # -- references ------------------------------------------------------

    def _check_builds(self, d, machines, metas, registry) -> list[str]:
        """Each machine's training rows must equal DuckDB's count of
        aligned (every tag present) buckets that pass the row filter,
        and the registry must hold the model under its key."""
        failures = []
        con = self.ctx.duck(d)
        for m, meta in zip(machines, metas):
            want = con.execute(_aligned_count_sql(m.dataset)).fetchone()[0]
            got = meta["dataset"]["n_samples"]
            problems = [f"n_samples {got} != reference {want}"] if got != want else []
            if registry.check_cache(m.as_config()) != meta["model_key"]:
                problems.append("registry has no model under its key")
            failures += _failed(f"build {m.name}", problems)
        con.close()
        return failures

    def _check_scores(self, d, sink, rows_back) -> list[str]:
        """Scored keys = in-range hourly buckets of machines that pass
        the training gate; is_anomaly = total_anomaly > total_threshold;
        the sink read back holds the rows the score step counted."""
        con = self.ctx.duck(d)
        want = con.execute(
            f"""
            WITH ev AS (
              SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS h,
                     CAST(ts AS TIMESTAMP) AS t
              FROM events
            ), gated AS (
              SELECT user_id FROM ev GROUP BY user_id
              HAVING COUNT(DISTINCT h) >= {MIN_MODEL_BUCKETS}
            )
            SELECT CAST(user_id AS VARCHAR) AS machine, h
            FROM ev
            WHERE t >= TIMESTAMP '{_sql_ts(layers.SCORE_RANGE[0])}'
              AND t < TIMESTAMP '{_sql_ts(layers.SCORE_RANGE[1])}'
              AND user_id IN (SELECT user_id FROM gated)
            GROUP BY 1, 2
            """
        ).fetch_df()
        got = con.execute(
            f"""
            SELECT machine, epoch_us(bucket) // 3600000000 AS h,
                   total_anomaly, total_threshold, is_anomaly
            FROM read_parquet('{sink}/*.parquet')
            """
        ).fetch_df()
        con.close()
        problems = []
        if len(got) != rows_back:
            problems.append(f"sink holds {len(got)} rows, read-back counted {rows_back}")
        got_keys = set(zip(got["machine"], got["h"]))
        want_keys = set(zip(want["machine"], want["h"]))
        if len(got_keys) != len(got):
            problems.append("duplicate (machine, bucket) rows in the sink")
        if got_keys != want_keys:
            problems.append(
                f"keys differ from reference ({len(got_keys - want_keys)} extra, "
                f"{len(want_keys - got_keys)} missing of {len(want_keys)})"
            )
        flag = got["total_anomaly"] > got["total_threshold"]
        if not (got["is_anomaly"].astype(bool) == flag).all():
            problems.append("is_anomaly != (total_anomaly > total_threshold)")
        return _failed("score", problems)


def _failed(op: str, problems: list[str]) -> list[str]:
    """One failure entry per failed operation."""
    return [f"{op}: {'; '.join(problems)}"] if problems else []


def _sql_ts(iso: str) -> str:
    return iso.replace("T", " ").replace("Z", "")


def _aligned_count_sql(ds: dict) -> str:
    """DuckDB count of a machine's training rows: mean per (bucket, tag)
    rounded like the package's resample, inner alignment over the tags,
    then the row filter with its buffer (a row survives only if every
    row within ``buffer`` positions also passes)."""
    tags = sorted(ds["tags"])
    width_us = RESOLUTION_MINUTES[ds["resolution"]] * 60 * 1_000_000
    pivot = ", ".join(f"MAX(v) FILTER (WHERE tag = '{t}') AS \"{t}\"" for t in tags)
    present = " AND ".join(f'"{t}" IS NOT NULL' for t in tags)
    sql = f"""
        WITH b AS (
          SELECT epoch_us(CAST(ts AS TIMESTAMP)) // {width_us} AS b, event_type AS tag,
                 round(avg(value), 9) AS v
          FROM events
          WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '{_sql_ts(ds['train_start_date'])}'
            AND CAST(ts AS TIMESTAMP) < TIMESTAMP '{_sql_ts(ds['train_end_date'])}'
            AND event_type IN ({", ".join(f"'{t}'" for t in tags)})
          GROUP BY 1, 2
        ), w AS (
          SELECT b, {pivot} FROM b GROUP BY b
        ), a AS (
          SELECT * FROM w WHERE {present}
        )
    """
    if not ds.get("row_filter"):
        return sql + "SELECT count(*) FROM a"
    pred = ds["row_filter"].replace("`", '"')
    k = ds.get("row_filter_buffer_size", 0)
    return sql + f"""
        , f AS (
          SELECT MIN(CASE WHEN {pred} THEN 1 ELSE 0 END) OVER (
                   ORDER BY b ROWS BETWEEN {k} PRECEDING AND {k} FOLLOWING) AS keep
          FROM a
        )
        SELECT count(*) FROM f WHERE keep = 1
    """


class StreamMonitor:
    name = "stream_monitor"

    def __init__(self, ctx: Context):
        self.ctx = ctx

    def setup(self) -> None:
        self.run_pass(warmup=True)

    def run_pass(self, warmup: bool = False, other_layers: bool = False) -> PassResult:
        ctx = self.ctx
        d = ctx.new_input("sm", STREAM_ROWS, STREAM_USERS)
        cusum, tumbling, (cusum_s, tumbling_s), batches, streamed = layers.streaming(ctx, d)
        res = PassResult(
            pass_s=cusum_s + tumbling_s,
            ops=[  # monitor batch latency: the CUSUM query's data batches
                b["batch_s"]
                for b in batches
                if b["query"].startswith("stream_cusum_") and b["input_rows"]
            ],
            steps={"drain_s": cusum_s + tumbling_s, "cusum_s": cusum_s, "tumbling_s": tumbling_s},
            attempted=2,
        )
        if warmup:
            return res
        res.failures += self._check_cusum(d, cusum)
        res.failures += self._check_tumbling(d, tumbling)
        if ctx.tracer.enabled:
            res.layers = dict(streamed)
            if other_layers:
                res.layers.update(layers.other_layers(ctx, d, {"streaming"}))
        return res

    def _check_cusum(self, d, cusum: pd.DataFrame) -> list[str]:
        """Per-key ``n_seen`` = the key's input rows; ``cusum`` ≥ 0, and
        null exactly for keys with no rows in the baseline window."""
        from gordo_components_spark.operators.model_sql import _DRIFT_SPLIT_TS

        con = self.ctx.duck(d)
        want = con.execute(
            f"""
            SELECT user_id, event_type, COUNT(*) AS n,
                   COUNT(*) FILTER (WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '{_DRIFT_SPLIT_TS}')
                     AS n_base
            FROM events GROUP BY 1, 2
            """
        ).fetch_df()
        con.close()
        got = cusum.merge(want, on=["user_id", "event_type"], how="outer", indicator=True)
        if not (got["_merge"] == "both").all() or len(got) != len(cusum):
            return _failed("cusum", ["keys differ from the input's (user_id, event_type) keys"])
        problems = []
        if not (got["n_seen"] == got["n"]).all():
            problems.append(f"n_seen != input rows on {(got['n_seen'] != got['n']).sum()} keys")
        has_base = got["n_base"] > 0
        if not (got["cusum"].isna() == ~has_base).all():
            problems.append("null cusum does not match keys without a baseline")
        if (got.loc[has_base, "cusum"] < 0).any():
            problems.append("negative statistic")
        return _failed("cusum", problems)

    def _check_tumbling(self, d, tumbling: pd.DataFrame) -> list[str]:
        """Finalized windows must equal the batch aggregate of the rows the
        stream accepted (the stream-batch parity rule of
        tests/test_streaming.py).  Which rows were accepted depends on the
        order in which the three replay files arrived, so the reference
        is rebuilt for every arrival order and one must match exactly."""
        replay = sorted(
            glob.glob(f"/tmp/gordo_spark_stream/{os.path.basename(d)}/events_replay/*.parquet")
        )
        files = [
            pq.read_table(f, columns=["ts", "event_type", "value"]).to_pandas() for f in replay
        ]
        if len(files) != 3:
            return [f"tumbling: expected 3 replay files, found {len(files)}"]
        got = _canon_windows(tumbling)
        for order in itertools.permutations(files):
            if _watermark_reference(order) == got:
                return []
        return ["tumbling: finalized windows match no arrival order of the replay files"]


_WINDOW_US = 10 * 60 * 1_000_000
_WATERMARK_US = 60 * 60 * 1_000_000


def _canon_windows(df: pd.DataFrame) -> dict:
    start = df["window_start"].to_numpy().astype("datetime64[us]").astype(np.int64)
    return {
        (t, int(s)): (int(n), float(a))
        for t, s, n, a in zip(df["event_type"], start, df["n"], df["avg_value"])
    }


def _watermark_reference(batches) -> dict:
    """Append-mode tumbling aggregate under an event-time watermark, as
    Spark runs it: the watermark after batch k is the largest event time
    seen in batches 0..k minus the delay.  Batch k drops as late the rows
    whose window end is at or below the watermark after batch k-2 and
    emits the windows whose end is at or below the watermark after batch
    k-1; a final no-data batch emits those at or below the last
    watermark.  Means are exact (integer cents) and rounded to 9
    decimals, like the query's ``round(avg(value), 9)``."""
    tops: list[int] = []
    parts = []
    for k, b in enumerate(batches):
        ts = b["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        part = pd.DataFrame(
            {
                "t": b["event_type"].to_numpy(),
                "s": ts - ts % _WINDOW_US,
                "c": np.round(b["value"].to_numpy() * 100).astype(np.int64),
            }
        )
        parts.append(part[part["s"] + _WINDOW_US > tops[k - 2]] if k >= 2 else part)
        top = int(ts.max()) - _WATERMARK_US
        tops.append(max(tops[-1], top) if tops else top)
    agg = pd.concat(parts).groupby(["t", "s"])["c"].agg(["count", "sum"]).reset_index()
    agg = agg[agg["s"] + _WINDOW_US <= tops[-1]]
    return {
        (t, int(s)): (int(n), float(round(Fraction(int(c), 100 * int(n)), 9)))
        for t, s, n, c in zip(agg["t"], agg["s"], agg["count"], agg["sum"])
    }


class QueryMix:
    name = "query_mix"
    WARMUP_PASSES, WARMUP_SETTLE = 3, 0.10

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.specs = layers.query_specs()
        self.order_rng = np.random.default_rng(ctx.seed)
        self.d = None
        self.oracle: dict = {}
        self.warmup_s: list[float] = []

    def setup(self) -> None:
        from oracle_check import canon_rows

        self.d = self.ctx.new_input("qm", QUERY_MIX_ROWS)
        con = self.ctx.duck(self.d)
        for spec in self.specs:
            want = con.execute(spec.oracle).fetch_df()
            self.oracle[spec.name] = (sorted(want.columns), canon_rows(want))
        con.close()
        # warm up until a pass's total settles within WARMUP_SETTLE
        for _ in range(self.WARMUP_PASSES):
            self.warmup_s.append(self.run_pass(warmup=True).pass_s)
            if len(self.warmup_s) > 1 and (
                abs(self.warmup_s[-1] - self.warmup_s[-2]) <= self.WARMUP_SETTLE * self.warmup_s[-2]
            ):
                break

    def run_pass(self, warmup: bool = False, other_layers: bool = False) -> PassResult:
        """Oracle comparison by ``tools/oracle_check.py``'s rules: same
        column names, same row count, equal canonical rows."""
        from oracle_check import canon_rows

        ctx = self.ctx
        specs = [self.specs[k] for k in self.order_rng.permutation(len(self.specs))]
        outputs, secs, measured = layers.operators(ctx, self.d, specs)
        res = PassResult(pass_s=sum(secs), ops=secs, steps={}, attempted=len(secs))
        if warmup:
            return res
        for name, got in outputs.items():
            cols, rows = self.oracle[name]
            if sorted(got.columns) != cols:
                res.failures.append(f"{name}: columns {sorted(got.columns)} != oracle {cols}")
            elif len(got) != len(rows):
                res.failures.append(f"{name}: {len(got)} rows != oracle {len(rows)}")
            else:
                diff = [(x, y) for x, y in zip(canon_rows(got), rows) if x != y]
                if diff:
                    spark_row, oracle_row = (dict(zip(cols, r)) for r in diff[0])
                    res.failures.append(
                        f"{name}: {len(diff)} rows differ, first spark={spark_row} "
                        f"oracle={oracle_row}"
                    )
        if ctx.tracer.enabled:
            res.layers = dict(measured)
            if other_layers:
                res.layers.update(layers.other_layers(ctx, self.d, {"operators"}))
        return res


WORKLOADS = {w.name: w for w in (Lifecycle, StreamMonitor, QueryMix)}


def median(xs) -> float:
    return float(statistics.median(xs))
