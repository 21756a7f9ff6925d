"""The traced run: the link job composed from each layer's public
functions, one span per layer call, timed from the benchmark's side.

Each span sets a Spark job group named after its layer, so the event log
attributes jobs, executor CPU and shuffle bytes to the layer; JVM counters
(GC, codegen) are read at the span boundaries. Layers materialise their
output at the span end (cache + count, or the parquet write), which the
untraced call does not do: that extra work is the tracing overhead the
run prints.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

from probes import delta, read_event_log
from stats import self_time, weight_checksum

BATCH_LAYERS = ("linkage", "cleaning", "blocking", "scoring", "second_pass", "clustering")


class Tracer:
    def __init__(self, session):
        self.session = session
        self.spans: dict[str, dict] = {}

    @contextmanager
    def span(self, name: str):
        sc = self.session.spark.sparkContext
        sc.setJobGroup(name, name)
        before = self.session.jvm.snapshot()
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            after = self.session.jvm.snapshot()
            sc._jsc.clearJobGroup()
            self.spans[name] = {"start": start, "end": end, **delta(before, after)}


def _link_cleaned(tracer: Tracer, cl, cr, side, pred_path: str) -> dict:
    """blocking -> scoring -> second_pass, as linkage.link_cleaned composes
    them, ending in the slim parquet write of the batch flow."""
    from uk_address_matcher_spark.blocking import block
    from uk_address_matcher_spark.scoring import attach_display_columns, score_pairs
    from uk_address_matcher_spark.second_pass import (
        PRUNE_MATCH_WEIGHT_THRESHOLD,
        PRUNE_TOP_N,
        improve_predictions_using_distinguishing_tokens,
    )

    with tracer.span("blocking"):
        pairs = block(cl, cr).cache()
        n_pairs = pairs.count()
    with tracer.span("scoring"):
        pred = score_pairs(
            pairs,
            cl,
            cr,
            side.numeric_tf,
            threshold_match_weight=-50.0,
            retain_matching_columns=False,
            attach_display=False,
            prune_top_n=(PRUNE_MATCH_WEIGHT_THRESHOLD, PRUNE_TOP_N),
        )
        pred = attach_display_columns(pred, cl, cr, retain_matching_columns=False).cache()
        n_candidates = pred.count()
    with tracer.span("second_pass"):
        improved = improve_predictions_using_distinguishing_tokens(pred, assume_pruned=True)
        improved.select("unique_id_l", "unique_id_r", "match_weight").write.mode(
            "overwrite"
        ).parquet(pred_path)
    return {"pairs": n_pairs, "candidates": n_candidates}


def _side_tables(tracer: Tracer, spark, canon):
    from uk_address_matcher_spark.corpus import domain_token_frequencies
    from uk_address_matcher_spark.linkage import build_side_tables

    with tracer.span("linkage"):
        return build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))


def _cluster(tracer: Tracer, spark, pred_path: str, threshold: float) -> dict:
    from pyspark.sql import functions as F

    from uk_address_matcher_spark.clustering import cluster_predictions

    with tracer.span("clustering"):
        slim = spark.read.parquet(pred_path)
        n_pred = slim.count()
        clusters = cluster_predictions(slim, threshold_match_weight=threshold).cache()
        n_rows = clusters.count()
    sizes = clusters.groupBy("cluster_id").count().agg(
        F.count("*").alias("n"), F.max("count").alias("biggest")
    ).first()
    clusters.unpersist()
    return {"predictions": n_pred, "cluster_rows": n_rows,
            "clusters": sizes["n"], "max_cluster": sizes["biggest"] or 0}


def traced_batch_call(tracer: Tracer, spark, canon, messy, pred_path: str,
                      threshold: float) -> dict:
    """link_addresses + slim write + clearCache + cluster_predictions."""
    from pyspark.sql import functions as F

    from uk_address_matcher_spark.cleaning import clean_addresses

    side = _side_tables(tracer, spark, canon)
    with tracer.span("cleaning"):
        tagged = canon.withColumn("__side", F.lit("c")).unionByName(
            messy.withColumn("__side", F.lit("m")), allowMissingColumns=True
        )
        cleaned = clean_addresses(tagged, side.rel_tok_freq, side.common_end_tokens).cache()
        cleaned.count()
    cl = cleaned.filter(F.col("__side") == "c").drop("__side")
    cr = cleaned.filter(F.col("__side") == "m").drop("__side")
    counts = _link_cleaned(tracer, cl, cr, side, pred_path)
    spark.catalog.clearCache()
    return {**counts, **_cluster(tracer, spark, pred_path, threshold)}


def traced_stream_batch(tracer: Tracer, spark, canon, batch, pred_path: str,
                        threshold: float) -> dict:
    """One micro-batch as streaming.stream_link_addresses runs it (the
    canonical side cleaned once, outside the spans, as at query start),
    then its predictions clustered."""
    from uk_address_matcher_spark.cleaning import clean_addresses

    side = _side_tables(tracer, spark, canon)
    cl = clean_addresses(canon, side.rel_tok_freq, side.common_end_tokens).cache()
    cl.count()
    with tracer.span("cleaning"):
        cr = clean_addresses(batch, side.rel_tok_freq, side.common_end_tokens).cache()
        cr.count()
    counts = _link_cleaned(tracer, cl, cr, side, pred_path)
    spark.catalog.clearCache()
    return {**counts, **_cluster(tracer, spark, pred_path, threshold)}


def layer_metrics(tracer: Tracer, events: dict) -> dict:
    """Per batch layer: self time, jobs, codegen, executor CPU, shuffle,
    driver idle time and GC, from the spans and the event log."""
    jobs = events["jobs"]
    intervals = [(j["start"], j["end"] or j["start"]) for j in jobs.values()]
    out = {}
    for name in BATCH_LAYERS:
        s = tracer.spans[name]
        span = (s["start"], s["end"])
        task = events["tasks"].get(name, {"exec_cpu_s": 0.0, "shuffle_mb": 0.0})
        out.update(
            {
                # layer spans have no child spans: self time is the span
                f"{name}.self_s": (s["end"] - s["start"], "s"),
                f"{name}.jobs": (sum(1 for j in jobs.values() if j["group"] == name), "count"),
                f"{name}.compiles": (s["compiles"], "count"),
                f"{name}.codegen_ms": (s["codegen_ms"], "ms"),
                f"{name}.exec_cpu_s": (task["exec_cpu_s"], "s"),
                f"{name}.shuffle_mb": (task["shuffle_mb"], "MB"),
                f"{name}.driver_idle_s": (self_time(span, intervals), "s"),
                f"{name}.gc_s": (s["gc_s"], "s"),
            }
        )
    return out


def streaming_metrics(stream: dict, events: dict, warmup: int) -> dict:
    """Medians over the settled micro-batches of the query's own progress
    durations, and the jobs the query ran per micro-batch."""
    progress = stream["progress"][warmup:] or stream["progress"]

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in progress) / 1e3

    lo, hi = stream["window"]
    n_jobs = sum(
        1
        for j in events["jobs"].values()
        if j["group"] == stream["run_id"] or (j["group"] is None and lo <= j["start"] <= hi)
    )
    return {
        "streaming.add_batch_s": (med("addBatch"), "s"),
        "streaming.query_planning_s": (med("queryPlanning"), "s"),
        "streaming.wal_commit_s": (med("walCommit"), "s"),
        "streaming.jobs_per_batch": (n_jobs / max(1, len(stream["progress"])), "count"),
        "streaming.persisted_rdds": (stream["persisted_rdds"], "count"),
    }


def count_metrics(counts: dict, n_messy: int, jit_ms: float, persisted: int) -> dict:
    return {
        "jvm.jit_ms": (jit_ms, "ms"),
        "blocking.pairs": (counts["pairs"], "count"),
        "blocking.pairs_per_messy": (counts["pairs"] / n_messy, "ratio"),
        "scoring.candidates": (counts["candidates"], "count"),
        "scoring.keep_ratio": (counts["candidates"] / max(1, counts["pairs"]), "ratio"),
        "second_pass.rows": (counts["predictions"], "count"),
        "clustering.clusters": (counts["clusters"], "count"),
        "clustering.max_cluster": (counts["max_cluster"], "count"),
        "session.persisted_rdds": (persisted, "count"),
    }


def traced_call(tracer: Tracer, fn):
    """Run the composed call; its wall, JIT time and the layer coverage."""
    jvm = tracer.session.jvm
    j0 = jvm.snapshot()["jit_ms"]
    start = time.time()
    counts = fn()
    end = time.time()
    jit_ms = jvm.snapshot()["jit_ms"] - j0
    spans = [(s["start"], s["end"]) for s in tracer.spans.values()]
    covered = (end - start) - self_time((start, end), spans)
    return counts, end - start, jit_ms, covered / (end - start)


def parity(expected: tuple, counts: dict, rows: list[tuple], problems: list) -> tuple:
    """The traced composition must reproduce the untraced outputs."""
    got = (counts["predictions"], counts["cluster_rows"], weight_checksum(rows))
    want_n, want_cl, want_sum = expected
    if got[0] != want_n or got[2] != want_sum or (want_cl is not None and got[1] != want_cl):
        problems.append(f"traced outputs {got} != untraced outputs {expected}")
    return got


def finish(tracer: Tracer, event_dir: str, extra) -> dict:
    """Per-layer metrics, computed once the event log has been flushed."""
    events = read_event_log(event_dir)
    return {**layer_metrics(tracer, events), **extra(events)}
