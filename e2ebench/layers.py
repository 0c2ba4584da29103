"""One function per layer of the package, timed from outside.

Each function runs one layer's public calls on an input directory, each
call inside a tracer span, and returns the call outputs, the seconds the
calls took and — only while tracing — the layer's metrics (span times
plus the Spark stage metrics of the span's job group).  A workload pass
is built from these functions.  A traced pass then runs the layers its
workload does not use on the same input, outside the timed window, so
every per-layer metric is measured on every workload.
"""

from __future__ import annotations

import os
import time

#: score range of ``gordo score`` and the train window of every machine
SCORE_RANGE = ("2024-01-15T00:00:00Z", "2024-01-22T00:00:00Z")
TRAIN_RANGE = ("2024-01-01T00:00:00Z", "2024-01-15T00:00:00Z")

#: gordo project config: different tag sets and resolutions, one machine
#: with a buffered row filter
MACHINES = {
    "compressor-a": {"tags": ["click", "view"], "resolution": "30T"},
    "pump-b": {
        "tags": ["error", "purchase", "signup"],
        "resolution": "1H",
        "row_filter": "`error` > 20.0037",
        "row_filter_buffer_size": 1,
    },
    "turbine-c": {"tags": ["click", "error", "purchase", "signup", "view"], "resolution": "2H"},
}

#: the registry queries tagged ``bench`` whose DuckDB oracle reads only
#: ``events``; pinned, so that a registry change cannot silently change
#: what is measured
QUERY_MIX = (
    "agg_countmin_estimate",
    "agg_resample_mean",
    "agg_seasonal_profile",
    "agg_time_weighted_avg",
    "flagship_anomaly",
    "join_align_inner",
    "join_interval_overlap",
    "ml_drift_ks",
    "pipe_manifest_upsert",
    "stream_tumbling_agg",
    "window_cusum_alerts",
    "window_rolling_avg",
)

#: every per-layer metric and its unit
METRICS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_rows": "count",
    "dataset.get_data_s": "s",
    "dataset.rows_in": "count",
    "dataset.rows_aligned": "count",
    "builder.build_s": "s",
    "builder.registry_bytes": "bytes",
    "ml.features_s": "s",
    "ml.train_s": "s",
    "ml.score_s": "s",
    "ml.models_ok": "count",
    "ml.models_attempted": "count",
    "ml.island_run_s": "s",
    "ml.island_cpu_s": "s",
    "client.score_write_s": "s",
    "client.rows_written": "count",
    "client.sink_files": "count",
    "client.sink_bytes": "bytes",
    "streaming.cusum_s": "s",
    "streaming.tumbling_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.input_rows": "count",
    **{f"operators.{q}_s": "s" for q in QUERY_MIX},
    "operators.tasks": "count",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "trace.pass_s": "s",
}


def project_yaml() -> str:
    import yaml

    machines = [
        {
            "name": name,
            "dataset": {**ds, "train_start_date": TRAIN_RANGE[0], "train_end_date": TRAIN_RANGE[1]},
        }
        for name, ds in MACHINES.items()
    ]
    return yaml.safe_dump({"machines": machines}, sort_keys=True)


def _secs(span) -> float:
    return span["end"] - span["start"]


def dir_stats(path: str) -> tuple[int, int]:
    """(number of data files, total bytes) under ``path``."""
    n = size = 0
    for root, _, files in os.walk(path):
        for f in files:
            size += os.path.getsize(os.path.join(root, f))
            n += not f.startswith((".", "_"))
    return n, size


def sources(ctx, d: str) -> dict:
    """``load_table`` of the input into the noop sink."""
    from gordo_components_spark.sources.tables import load_table

    with ctx.tracer.span("sources.scan") as s:
        load_table(ctx.spark, d, "events").write.format("noop").mode("overwrite").save()
    if s is None:
        return {}
    t = ctx.tracer.stage_totals(s)
    return {
        "sources.scan_s": _secs(s),
        "sources.input_bytes": t["inputBytes"],
        "sources.input_rows": t["inputRecords"],
    }


def dataset(ctx, d: str, machines) -> dict:
    """``TimeSeriesDataset.get_data`` plus the X collect, per machine."""
    from gordo_components_spark.dataset import TimeSeriesDataset

    out = {"dataset.get_data_s": 0.0, "dataset.rows_in": 0, "dataset.rows_aligned": 0}
    for m in machines:
        ds = m.dataset
        with ctx.tracer.span("dataset.get_data") as s:
            X, _ = TimeSeriesDataset(
                train_start_date=ds["train_start_date"],
                train_end_date=ds["train_end_date"],
                tag_list=ds["tags"],
                resolution=ds["resolution"],
                row_filter=ds.get("row_filter"),
                row_filter_buffer_size=ds.get("row_filter_buffer_size", 0),
                aggregation_methods=ds.get("aggregation_methods", "mean"),
            ).get_data(ctx.spark, d)
            n = len(X.collect())
        if s is not None:
            out["dataset.get_data_s"] += _secs(s)
            out["dataset.rows_in"] += ctx.tracer.stage_totals(s)["inputRecords"]
            out["dataset.rows_aligned"] += n
    return out if ctx.tracer.enabled else {}


def ml(ctx, d: str) -> dict:
    """The fleet islands one by one: features, train, score."""
    from gordo_components_spark.ml import islands

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("ml.features") as fs:
        islands.machine_features(spark, d).write.format("noop").mode("overwrite").save()
    feats = islands.machine_features(spark, d)
    with tr.span("ml.train") as ts:
        rows = islands.train_models(feats).collect()
    models = {r["machine"]: r["model_pkl_b64"] for r in rows if r["status"] == "ok"}
    with tr.span("ml.score") as ss:
        islands.score_models(feats, models).write.format("noop").mode("overwrite").save()
    if fs is None:
        return {}
    island = [ctx.tracer.stage_totals(ts), ctx.tracer.stage_totals(ss)]
    return {
        "ml.features_s": _secs(fs),
        "ml.train_s": _secs(ts),
        "ml.score_s": _secs(ss),
        "ml.models_ok": len(models),
        "ml.models_attempted": len(rows),
        "ml.island_run_s": sum(t["executorRunTime"] for t in island) / 1e3,
        "ml.island_cpu_s": sum(t["executorCpuTime"] for t in island) / 1e9,
    }


def builder(ctx, d: str, machines, registry_dir: str):
    """``ModelBuilder.build`` per machine into a fresh registry.

    Returns (metadata per machine, seconds per build, registry, metrics)."""
    from gordo_components_spark.builder import ModelBuilder
    from gordo_components_spark.plans.model_registry import ModelRegistry

    registry = ModelRegistry(registry_dir)
    metas, secs, spans = [], [], []
    for m in machines:
        t0 = time.perf_counter()
        with ctx.tracer.span("builder.build") as s:
            _, meta = ModelBuilder(m.as_config(), registry=registry).build(ctx.spark, d)
        secs.append(time.perf_counter() - t0)
        metas.append(meta)
        spans.append(s)
    metrics = {}
    if ctx.tracer.enabled:
        metrics = {
            "builder.build_s": sum(_secs(s) for s in spans),
            "builder.registry_bytes": dir_stats(registry_dir)[1],
        }
    return metas, secs, registry, metrics


def client(ctx, d: str, sink: str):
    """``gordo score``: ``predict_date_range`` written to a parquet sink and
    counted back, the steps of ``__main__.cmd_score``.

    Returns (rows read back, seconds, metrics)."""
    from gordo_components_spark.client import predict_date_range

    spark = ctx.spark
    t0 = time.perf_counter()
    with ctx.tracer.span("client.score_write") as s:
        predict_date_range(spark, d, *SCORE_RANGE).write.mode("overwrite").parquet(sink)
        rows = spark.read.parquet(sink).count()
    secs = time.perf_counter() - t0
    if s is None:
        return rows, secs, {}
    n_files, n_bytes = dir_stats(sink)
    return rows, secs, {
        "client.score_write_s": _secs(s),
        "client.rows_written": rows,
        "client.sink_files": n_files,
        "client.sink_bytes": n_bytes,
    }


def streaming(ctx, d: str):
    """``run_streaming_cusum`` then ``run_streaming_tumbling_agg`` with one
    replay file per micro-batch, each result collected.

    Returns (cusum rows, tumbling rows, seconds of each run, the runs'
    micro-batch progress, metrics)."""
    from gordo_components_spark.streaming.micro_batch import (
        run_streaming_cusum,
        run_streaming_tumbling_agg,
    )

    spark, tr, lis = ctx.spark, ctx.tracer, ctx.listener
    first, done = len(lis.batches), lis.terminated
    t0 = time.perf_counter()
    with tr.span("streaming.cusum"):
        cusum = run_streaming_cusum(spark, d).toPandas()
    t1 = time.perf_counter()
    with tr.span("streaming.tumbling"):
        tumbling = run_streaming_tumbling_agg(spark, d, max_files_per_trigger=1).toPandas()
    t2 = time.perf_counter()
    lis.wait_terminated(done + 2)
    batches = lis.batches[first:]
    metrics = {}
    if tr.enabled:
        last = {b["query"]: b for b in batches}  # each query's final state size
        metrics = {
            "streaming.cusum_s": t1 - t0,
            "streaming.tumbling_s": t2 - t1,
            **{
                name: sum(b["duration_ms"].get(key, 0) for b in batches)
                for name, key in (
                    ("streaming.add_batch_ms", "addBatch"),
                    ("streaming.wal_commit_ms", "walCommit"),
                    ("streaming.commit_offsets_ms", "commitOffsets"),
                    ("streaming.planning_ms", "queryPlanning"),
                )
            },
            "streaming.state_rows": sum(b["state_rows"] for b in last.values()),
            "streaming.state_bytes": sum(b["state_bytes"] for b in last.values()),
            "streaming.input_rows": sum(b["input_rows"] for b in batches),
        }
    return cusum, tumbling, (t1 - t0, t2 - t1), batches, metrics


def operators(ctx, d: str, specs):
    """Each registry query in ``specs``, in that order, collected.

    Returns ({name: rows}, seconds per query, metrics)."""
    outputs, secs, spans = {}, [], {}
    for spec in specs:
        t0 = time.perf_counter()
        with ctx.tracer.span(f"operators.{spec.name}") as s:
            outputs[spec.name] = spec.fn(ctx.spark, d).toPandas()
        secs.append(time.perf_counter() - t0)
        spans[spec.name] = s
    if not ctx.tracer.enabled:
        return outputs, secs, {}
    totals = [ctx.tracer.stage_totals(s) for s in spans.values()]
    return outputs, secs, {
        **{f"operators.{n}_s": _secs(s) for n, s in spans.items()},
        "operators.tasks": sum(t["numTasks"] for t in totals),
        "operators.shuffle_bytes": sum(
            t["shuffleReadBytes"] + t["shuffleWriteBytes"] for t in totals
        ),
        "operators.spill_bytes": sum(
            t["memoryBytesSpilled"] + t["diskBytesSpilled"] for t in totals
        ),
    }


def query_specs() -> list:
    from gordo_components_spark.registry import load_all

    registry = load_all()
    return [registry[name] for name in QUERY_MIX]


def other_layers(ctx, d: str, own: set[str]) -> dict:
    """Run every layer not in ``own`` on input ``d`` and return its metrics."""
    from gordo_components_spark.workflow import load_config

    machines = load_config(project_yaml())
    metrics = {**sources(ctx, d), **dataset(ctx, d, machines), **ml(ctx, d)}
    if "builder" not in own:
        metrics.update(builder(ctx, d, machines, os.path.join(d, "probe_registry"))[3])
    if "client" not in own:
        metrics.update(client(ctx, d, os.path.join(d, "probe_scored"))[2])
    if "streaming" not in own:
        metrics.update(streaming(ctx, d)[4])
    if "operators" not in own:
        metrics.update(operators(ctx, d, query_specs())[2])
    return metrics
