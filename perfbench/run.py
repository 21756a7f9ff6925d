"""Benchmark of the uk_address_matcher_spark link job.

    python3 perfbench/run.py --workload junk_link --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. Each run is one fresh process with one
fresh driver JVM on ``local[nproc]``, a closed loop from a single client.
The last stdout line is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the run record (sizes, sample counts, output identity and provenance).
``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones. Workloads, metrics and the layer map are described in README.md
next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from stats import percentile, supported_percentile, weight_checksum  # noqa: E402

NPROC = os.cpu_count() or 1
MASTER = f"local[{NPROC}]"
# small enough to share the machine; large enough that no cache is evicted
DRIVER_MEMORY = "3g"
SETUP_REPS = 2
CLUSTER_THRESHOLD = 5.0

# junk_link: grid canonical + seeded messy sample, both sides passed
# through corpus.skew_postcodes so ~70% of all rows share one postcode
JUNK = {"n_canonical": 1000, "n_messy": 1000, "n_hot": 1, "hot_share": 0.7}
# stream_link: static grid canonical; every micro-batch is the same
# seeded sample of messy rows delivered as its own parquet file
STREAM = {"n_canonical": 1000, "batch_rows": 200}
# nominal settled wall of one unit; --seconds / this = settled units
JUNK_CALL_S = 20.0
STREAM_BATCH_S = 7.0
# micro-batches of the streaming-layer slice in junk_link's traced run
STREAM_TRACE_BATCHES = 2

# outputs of the default seed, pinned: (n_predictions, n_cluster_rows,
# weight checksum). For stream_link they are per micro-batch.
DEFAULT_SEED = 1
PINNED = {
    "junk_link": (4760, 1817, "89e31c7de89496ca"),
    "stream_link": (922, 396, "2bcfff6304f8fd97"),
}


def _configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


class Session:
    """One SparkSession on a fresh JVM, and its probes."""

    def __init__(self, work: str, trace: bool):
        from probes import Jvm
        from uk_address_matcher_spark import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        self.event_dir = None
        if trace:
            self.event_dir = os.path.join(work, "events")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=MASTER,
            shuffle_partitions=max(2 * NPROC, 8),
            extra_conf=conf,
        )
        self.start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = Jvm(self.spark)

    def persisted_rdds(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def peak_rss_mb(self) -> float:
        from probes import vm_hwm_mb

        return vm_hwm_mb(self.jvm.pid) + vm_hwm_mb("self")

    def close(self) -> None:
        """Stop Spark, then the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def timed(session: Session, fn, provenance: list):
    """Run ``fn`` and append its wall, JVM CPU, host steal and loadavg."""
    from probes import host_snapshot, process_cpu_s

    h0, c0 = host_snapshot(), process_cpu_s(session.jvm.pid)
    t0 = time.perf_counter()
    out = fn()
    wall = time.perf_counter() - t0
    h1, c1 = host_snapshot(), process_cpu_s(session.jvm.pid)
    provenance.append(
        {
            "wall_s": round(wall, 4),
            "jvm_cpu_s": round(c1 - c0, 3),
            "steal_s": round(h1["steal_s"] - h0["steal_s"], 3),
            "loadavg": [h0["loadavg"], h1["loadavg"]],
        }
    )
    return wall, out


def median_setup(build, reps: int = SETUP_REPS):
    """Build inputs ``reps`` times; the median wall and the last inputs."""
    walls, out = [], None
    for _ in range(reps):
        if out is not None:
            for frame in out.get("frames", ()):
                frame.unpersist()
        t0 = time.perf_counter()
        out = build()
        walls.append(time.perf_counter() - t0)
    out["setup_reps_s"] = walls
    return statistics.median(walls), out


def read_slim(path: str) -> list[tuple]:
    """(unique_id_l, unique_id_r, match_weight) rows of a parquet output."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["unique_id_l", "unique_id_r", "match_weight"])
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


# --- inputs -----------------------------------------------------------------


def junk_skew(df):
    from uk_address_matcher_spark.corpus import skew_postcodes

    return skew_postcodes(df, n_hot=JUNK["n_hot"], hot_share=JUNK["hot_share"])


def junk_inputs(spark, seed: int) -> dict:
    from uk_address_matcher_spark.corpus import (
        grid_canonical_flat,
        messy_from_canonical,
    )
    from uk_address_matcher_spark.sources import sample_addresses

    grid = grid_canonical_flat(spark, JUNK["n_canonical"])
    pool, pool_labels = messy_from_canonical(grid, dup_factor=2)
    messy = junk_skew(sample_addresses(pool, JUNK["n_messy"], seed))
    labels = pool_labels.join(messy.select("unique_id"), "unique_id")
    p = spark.sparkContext.defaultParallelism
    frames = [f.repartition(p).cache() for f in (junk_skew(grid), messy, labels)]
    for f in frames:
        f.count()
    canon, messy, labels = frames
    return {"canon": canon, "messy": messy, "labels": labels, "frames": frames}


def stream_inputs(spark, seed: int, in_dir: str, n_files: int, n_canonical: int,
                  batch_rows: int, skew=None) -> dict:
    """Canonical frame and ``n_files`` copies of one seeded messy batch
    written as parquet into ``in_dir``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from uk_address_matcher_spark.corpus import grid_canonical_flat, messy_from_canonical
    from uk_address_matcher_spark.sources import sample_addresses

    grid = grid_canonical_flat(spark, n_canonical)
    pool, pool_labels = messy_from_canonical(grid, dup_factor=2)
    canon = grid if skew is None else skew(grid)
    batch = sample_addresses(pool, batch_rows, seed)
    if skew is not None:
        batch = skew(batch)
    rows = batch.collect()
    labels = spark.createDataFrame(
        pool_labels.join(batch.select("unique_id"), "unique_id").collect(),
        "unique_id string, correct_unique_id string",
    )
    canon = canon.repartition(spark.sparkContext.defaultParallelism).cache()
    canon.count()
    shutil.rmtree(in_dir, ignore_errors=True)
    os.makedirs(in_dir)
    table = pa.table(
        {
            "unique_id": [r["unique_id"] for r in rows],
            "address_concat": [r["address_concat"] for r in rows],
            "postcode": [r["postcode"] for r in rows],
        }
    )
    first = os.path.join(in_dir, "part-00000.parquet")
    pq.write_table(table, first)
    for i in range(1, n_files):
        shutil.copyfile(first, os.path.join(in_dir, f"part-{i:05d}.parquet"))
    # the file source orders files by modification time: make it the index
    base = time.time() - n_files
    for i in range(n_files):
        path = os.path.join(in_dir, f"part-{i:05d}.parquet")
        os.utime(path, (base + i, base + i))
    return {"canon": canon, "labels": labels, "n_rows": len(rows), "frames": [canon]}


def side_tables(spark, canon):
    from uk_address_matcher_spark.corpus import domain_token_frequencies
    from uk_address_matcher_spark.linkage import build_side_tables

    return build_side_tables(spark, canon, rel_tok_freq=domain_token_frequencies(spark))


# --- units of work ----------------------------------------------------------


def link_and_cluster(spark, canon, messy, pred_path: str) -> tuple[int, int]:
    """The batch flow: side tables, two-pass link, slim predictions to
    parquet, cache release, clustering."""
    from uk_address_matcher_spark.clustering import cluster_predictions
    from uk_address_matcher_spark.linkage import link_addresses

    improved = link_addresses(canon, messy, side_tables(spark, canon))
    improved.select("unique_id_l", "unique_id_r", "match_weight").write.mode(
        "overwrite"
    ).parquet(pred_path)
    spark.catalog.clearCache()
    slim = spark.read.parquet(pred_path)
    n_pred = slim.count()
    n_clustered = cluster_predictions(slim, threshold_match_weight=CLUSTER_THRESHOLD).count()
    return n_pred, n_clustered


def run_stream(session: Session, inputs: dict, in_dir: str, out_dir: str,
               ck_dir: str, timeout_s: float = 150.0) -> dict:
    """Start stream_link_addresses over ``in_dir`` and drain it."""
    from uk_address_matcher_spark.streaming import (
        read_address_stream,
        stream_link_addresses,
    )

    spark = session.spark
    t0 = time.perf_counter()
    started = time.time()
    stream = read_address_stream(spark, in_dir, max_files_per_trigger=1)
    query = stream_link_addresses(stream, inputs["canon"], inputs["side"], out_dir, ck_dir)
    start_s = time.perf_counter() - t0
    host: list[dict] = []
    _, finished = timed(session, lambda: query.awaitTermination(timeout_s), host)
    if not finished:
        query.stop()
    error = query.exception()
    progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
    batches = sorted(int(d.split("=", 1)[1]) for d in os.listdir(out_dir)
                     if d.startswith("batch_id=")) if os.path.isdir(out_dir) else []
    return {
        "start_s": start_s,
        "window": (started, time.time()),
        "run_id": str(query.runId),
        "ok": finished and error is None,
        "error": None if error is None else str(error)[:500],
        "progress": progress,
        "walls": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
        "outputs": [os.path.join(out_dir, f"batch_id={b}") for b in batches],
        "persisted_rdds": session.persisted_rdds(),
        "host": host,
    }


# --- gates ------------------------------------------------------------------


def output_gate(workload: str, seed: int, outputs: list[tuple], problems: list[str]) -> None:
    """Every unit of a run gives the same (n_predictions, n_cluster_rows,
    checksum); the default seed's value is pinned."""
    distinct = sorted(set(outputs), key=str)
    if len(distinct) != 1:
        problems.append(f"outputs differ across units: {distinct}")
    pinned = PINNED.get(workload)
    if seed == DEFAULT_SEED and pinned is not None:
        for got in distinct:
            if got[0] != pinned[0] or got[2] != pinned[2] or (
                got[1] is not None and got[1] != pinned[1]
            ):
                problems.append(f"default-seed output {got} != pinned {pinned}")


def pairwise_f1(spark, labels, pred_path: str) -> float:
    from uk_address_matcher_spark.evaluate import pairwise_f1 as f1

    return f1(labels, spark.read.parquet(pred_path))["f1"]


# --- workloads --------------------------------------------------------------


def end_to_end(setup_s: float, walls: list[float], settled: list[float], n_messy: int,
               f1: float, session: Session) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        "cold_wall_s": (walls[0], "s"),
        "messy_per_s": (n_messy / statistics.median(settled), "1/s"),
        "batch_p50_s": (percentile(settled, 50), "s"),
        "batch_p75_s": (percentile(settled, 75), "s"),
        "pairwise_f1": (f1, "ratio"),
        "peak_rss_mb": (session.peak_rss_mb(), "MB"),
    }


def junk_link(args, work: str, session: Session, problems: list[str], record: dict):
    """Closed loop of link+cluster calls on the postcode-skewed corpus:
    one cold call, then ``--seconds / JUNK_CALL_S`` settled calls."""
    spark = session.spark
    setup_data_s, inputs = median_setup(lambda: junk_inputs(spark, args.seed))
    setup_s = session.start_s + setup_data_s
    n_messy = inputs["messy"].count()
    pred_path = os.path.join(work, "pred.parquet")
    n_calls = 1 + max(1, round(args.seconds / JUNK_CALL_S))
    walls, outputs, persisted, provenance = [], [], [], []
    for _ in range(n_calls):
        # clearCache in the call drops the inputs too; re-pin them untimed
        inputs["canon"].cache().count()
        inputs["messy"].cache().count()
        try:
            wall, (n_pred, n_cl) = timed(
                session,
                lambda: link_and_cluster(spark, inputs["canon"], inputs["messy"], pred_path),
                provenance,
            )
        except Exception as exc:  # a failed call counts against the run
            problems.append(f"call failed: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        walls.append(wall)
        persisted.append(session.persisted_rdds())
        outputs.append((n_pred, n_cl, weight_checksum(read_slim(pred_path))))
    failed = n_calls - len(walls)
    if len(walls) < 2:
        raise RuntimeError(f"junk_link: only {len(walls)} of {n_calls} calls succeeded")
    output_gate("junk_link", args.seed, outputs, problems)
    f1 = pairwise_f1(spark, inputs["labels"].cache(), pred_path)
    settled = walls[1:]
    record.update(
        {
            "n_messy": n_messy,
            "calls": len(walls),
            "settled_samples": len(settled),
            "supported_percentile": supported_percentile(len(settled)),
            "outputs": outputs[:1],
            "pairwise_f1": f1,
            "persisted_rdds_after_each_call": persisted,
            "provenance": {"session_start_s": session.start_s,
                           "setup_reps_s": inputs["setup_reps_s"], "calls": provenance},
        }
    )
    if not args.trace:
        return end_to_end(setup_s, walls, settled, n_messy, f1, session), n_calls, failed

    import layers

    tracer = layers.Tracer(session)
    inputs["canon"].cache().count()
    inputs["messy"].cache().count()
    trace_path = os.path.join(work, "traced.parquet")
    counts, total, jit_ms, coverage = layers.traced_call(
        tracer,
        lambda: layers.traced_batch_call(
            tracer, spark, inputs["canon"], inputs["messy"], trace_path, CLUSTER_THRESHOLD
        ),
    )
    layers.parity(outputs[0], counts, read_slim(trace_path), problems)
    persisted_after = session.persisted_rdds()
    # the streaming layer on this corpus: STREAM_TRACE_BATCHES micro-batches
    stream_in = os.path.join(work, "in")
    s_inputs = stream_inputs(spark, args.seed, stream_in, STREAM_TRACE_BATCHES,
                             JUNK["n_canonical"], STREAM["batch_rows"], skew=junk_skew)
    s_inputs["side"] = side_tables(spark, s_inputs["canon"])
    stream = run_stream(session, s_inputs, stream_in, os.path.join(work, "out"),
                        os.path.join(work, "ck"))
    if not stream["ok"]:
        problems.append(f"traced stream failed: {stream['error']}")
    overhead = total - statistics.median(settled)
    record["trace"] = {"traced_total_s": total, "warm_wall_s": statistics.median(settled),
                       "overhead_s": overhead, "self_coverage": coverage}

    def extra(events):
        return {
            **layers.count_metrics(counts, n_messy, jit_ms, persisted_after),
            **layers.streaming_metrics(stream, events, warmup=1),
            "trace.overhead_s": (overhead, "s"),
            "trace.self_coverage": (coverage, "ratio"),
        }

    return (lambda: layers.finish(tracer, session.event_dir, extra)), n_calls, failed


def stream_link(args, work: str, session: Session, problems: list[str], record: dict):
    """stream_link_addresses over pre-written micro-batch files: one cold
    micro-batch, then ``--seconds / STREAM_BATCH_S`` settled ones."""
    spark = session.spark
    in_dir = os.path.join(work, "in")
    n_files = 1 + max(2, round(args.seconds / STREAM_BATCH_S))
    setup_data_s, inputs = median_setup(
        lambda: stream_inputs(spark, args.seed, in_dir, n_files,
                              STREAM["n_canonical"], STREAM["batch_rows"])
    )
    t0 = time.perf_counter()
    inputs["side"] = side_tables(spark, inputs["canon"])
    side_s = time.perf_counter() - t0
    stream = run_stream(session, inputs, in_dir, os.path.join(work, "out"),
                        os.path.join(work, "ck"))
    setup_s = session.start_s + setup_data_s + side_s + stream["start_s"]
    if not stream["ok"]:
        problems.append(f"stream failed: {stream['error']}")
    walls = stream["walls"]
    failed = n_files - len(walls)
    if failed:
        problems.append(f"{failed} of {n_files} micro-batches did not complete")
    if len(walls) < 2:
        raise RuntimeError(f"stream_link: only {len(walls)} of {n_files} micro-batches ran")
    outputs = []
    for path in stream["outputs"]:
        rows = read_slim(path)
        outputs.append((len(rows), None, weight_checksum(rows)))
    output_gate("stream_link", args.seed, outputs, problems)
    f1 = pairwise_f1(spark, inputs["labels"], stream["outputs"][0])
    settled = walls[1:]
    record.update(
        {
            "batch_rows": inputs["n_rows"],
            "batches": len(walls),
            "settled_samples": len(settled),
            "supported_percentile": supported_percentile(len(settled)),
            "outputs": outputs[:1],
            "pairwise_f1": f1,
            "persisted_rdds_after_query": stream["persisted_rdds"],
            "provenance": {"session_start_s": session.start_s,
                           "setup_reps_s": inputs["setup_reps_s"], "side_tables_s": side_s,
                           "query_start_s": stream["start_s"], "batch_walls_s": walls,
                           "query": stream["host"]},
        }
    )
    if not args.trace:
        metrics = end_to_end(setup_s, walls, settled, inputs["n_rows"], f1, session)
        return metrics, n_files, failed

    import layers

    tracer = layers.Tracer(session)
    batch = spark.read.parquet(os.path.join(in_dir, "part-00000.parquet")).cache()
    batch.count()
    trace_path = os.path.join(work, "traced.parquet")
    counts, total, jit_ms, coverage = layers.traced_call(
        tracer,
        lambda: layers.traced_stream_batch(
            tracer, spark, inputs["canon"], batch, trace_path, CLUSTER_THRESHOLD
        ),
    )
    got = layers.parity(outputs[0], counts, read_slim(trace_path), problems)
    output_gate("stream_link", args.seed, [got], problems)
    record["outputs"] = [got]
    per_batch = sum(
        tracer.spans[n]["end"] - tracer.spans[n]["start"]
        for n in ("cleaning", "blocking", "scoring", "second_pass")
    )
    overhead = per_batch - statistics.median(settled)
    record["trace"] = {"traced_batch_layers_s": per_batch,
                       "settled_batch_p50_s": statistics.median(settled),
                       "overhead_s": overhead, "self_coverage": coverage,
                       "traced_total_s": total}
    persisted_after = session.persisted_rdds()

    def extra(events):
        return {
            **layers.count_metrics(counts, inputs["n_rows"], jit_ms, persisted_after),
            **layers.streaming_metrics(stream, events, warmup=1),
            "trace.overhead_s": (overhead, "s"),
            "trace.self_coverage": (coverage, "ratio"),
        }

    return (lambda: layers.finish(tracer, session.event_dir, extra)), n_files, failed


def run_workload(args, work: str) -> tuple[dict, dict]:
    problems: list[str] = []
    record: dict = {"workload": args.workload, "seed": args.seed}
    session = Session(work, bool(args.trace))
    try:
        metrics, attempted, failed = WORKLOADS[args.workload](
            args, work, session, problems, record
        )
    finally:
        session.close()
    if callable(metrics):  # traced: read the event log flushed by close()
        metrics = metrics()
    record["provenance"] = {**record.get("provenance", {}), "nproc": NPROC, "master": MASTER}
    for p in problems:
        print(f"perfbench: {p}", file=sys.stderr)
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


WORKLOADS = {"junk_link": junk_link, "stream_link": stream_link}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import uk_address_matcher_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _configure_env(work)
    try:
        result, record = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps(result))
    # a traced composition that does not reproduce the untraced outputs
    # must not pass for a measurement of them
    return 0 if result["correct"] or not args.trace else 1


if __name__ == "__main__":
    sys.exit(main())
