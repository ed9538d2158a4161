#!/usr/bin/env python3
"""Benchmark of the RAG ingestion engine: ingest, curate and index.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 12 --trace 0

One process runs one workload: it pins its environment, starts a
``local[nproc]`` Spark session, generates the seeded fixtures and runs
one untimed warm-up cycle (all of that is ``setup_s``). It then runs
at least three whole cycles of the workload's timed phases in a closed
loop (concurrency 1), and more while another fits in ``--seconds``. It
checks every output against the fixtures' ground truth, prints a table
of every metric with its unit and sample count, and prints one JSON
object as its last line. ``--trace 1`` turns on Spark's event log, runs the
per-layer measurements and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB = "embedding_to_vectordatabase_spark"


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem() -> str:
    """A quarter of physical memory, between 1 and 8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1, min(8, kb // (4 << 20)))}g"


def pin_env(scratch: str, trace: bool) -> int:
    """Pin everything the library reads from the environment, before
    the JVM starts: cores, driver memory, the workers' import path, the
    scratch and temp space, console progress and the event log."""
    cores = _cores()
    py_path = os.environ.get("PYTHONPATH", "")
    conf = ["spark.ui.showConsoleProgress=false"]
    if trace:
        events = os.path.join(scratch, "events")
        os.makedirs(events, exist_ok=True)
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{events}",
            "spark.eventLog.compress=false",
        ]
    # temp files of Python, the JVM and the workers stay in the scratch
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ.update(
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=_driver_mem(),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, py_path) if p),
        SPARK_LOCAL_DIRS=os.path.join(scratch, "local"),
        SPARK_WAREHOUSE_DIR=os.path.join(scratch, "warehouse"),
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {c}" for c in conf
        ) + " pyspark-shell",
    )
    return cores


# --------------------------------------------------------------- workloads


@dataclass
class Workload:
    why: str
    phases: tuple  # timed phases of one cycle, in order
    traced_only: tuple  # phases that run in traced runs only


# Each workload runs one layer family; see README.md for what did not
# fit in the time budget.
WORKLOADS = {
    "ingest": Workload(
        why="text path: scan, registry join, chunk, embed, parquet sink, "
        "then clean + minhash near-dedup; no vector search runs",
        phases=("ingest", "curate"),
        traced_only=("stream",),
    ),
    "index": Workload(
        why="vector path: IVF-SQ8 build, upsert, top-k search; no text "
        "layer runs",
        phases=("index",),
        traced_only=("semdedup",),
    ),
}

# metric -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "cycle_s": ("s", "lower"),
}
MIN_CYCLES = 3  # an untraced run reports the median of at least these
# per-chain results inside a cycle, printed by every run and reported
# as per-layer metrics by traced runs
CHAIN_METRICS = {
    "ingest_docs_per_s": ("docs/s", "higher"),
    "stream_docs_per_s": ("docs/s", "higher"),
    "curate_docs_per_s": ("docs/s", "higher"),
    "semdedup_vecs_per_s": ("vecs/s", "higher"),
    "index_build_s": ("s", "lower"),
    "upsert_vecs_per_s": ("vecs/s", "higher"),
    "search_qps": ("queries/s", "higher"),
    "compact_s": ("s", "lower"),
    "recall_at_10": ("ratio", "higher"),
}


# per-layer metric -> (unit, better), reported by traced runs; a layer
# the workload does not run reports 0
PER_LAYER = {
    **CHAIN_METRICS,
    "trace.cycle_s": ("s", "lower"),
    "ingest.scan_join_s": ("s", "lower"),
    "ingest.chunk_s": ("s", "lower"),
    "ingest.embed_s": ("s", "lower"),
    "ingest.write_s": ("s", "lower"),
    "ingest.executor_cpu_s": ("s", "lower"),
    "ingest.shuffle_write_bytes": ("bytes", "lower"),
    "ingest.chunks_per_doc": ("count", "lower"),
    "ingest.files_written": ("count", "lower"),
    "ingest.bytes_per_chunk": ("bytes", "lower"),
    "ingest.unmatched_rows": ("count", "lower"),
    "stream.batches": ("count", "lower"),
    "stream.first_batch_s": ("s", "lower"),
    "stream.batch_p50_s": ("s", "lower"),
    "stream.jobs_per_batch": ("count", "lower"),
    "stream.gate_s": ("s", "lower"),
    "stream.gate_dropped": ("count", "higher"),
    "curate.clean_s": ("s", "lower"),
    "curate.clean_rows_out": ("count", "lower"),
    "curate.signatures_s": ("s", "lower"),
    "curate.pairs_s": ("s", "lower"),
    "curate.pairs_out": ("count", "lower"),
    "curate.pair_precision": ("ratio", "higher"),
    "curate.antijoin_s": ("s", "lower"),
    "curate.task_skew": ("ratio", "lower"),
    "curate.shuffle_write_bytes": ("bytes", "lower"),
    "curate.neardup_recall": ("ratio", "higher"),
    "curate.false_removal_rate": ("ratio", "lower"),
    "semdedup.executor_cpu_s": ("s", "lower"),
    "semdedup.shuffle_write_bytes": ("bytes", "lower"),
    "semdedup.max_task_s": ("s", "lower"),
    "semdedup.task_skew": ("ratio", "lower"),
    "semdedup.dropped": ("count", "higher"),
    "semdedup.planted_recall": ("ratio", "higher"),
    "semdedup.largest_cluster_rows": ("count", "lower"),
    "index.build_files": ("count", "lower"),
    "index.code_bytes_per_vec": ("bytes", "lower"),
    "index.upsert_files_added": ("count", "lower"),
    "index.upsert_jobs": ("count", "lower"),
    "index.code_files_before_compact": ("count", "lower"),
    "index.code_files_after_compact": ("count", "lower"),
    "index.search_floor_s": ("s", "lower"),
    "index.search_score_s": ("s", "lower"),
    "index.search_refine_s": ("s", "lower"),
    "index.search_jobs_per_call": ("count", "lower"),
    "index.search_input_bytes": ("bytes", "lower"),
    "index.search_s_fragmented": ("s", "lower"),
    "index.search_s_compacted": ("s", "lower"),
}


def setup(b, f, phases) -> None:
    """Run the set-up step of every phase that has one."""
    from perfbench import pipeline as pl

    for name in phases:
        step = getattr(pl, f"setup_{name}", None)
        if step is not None:
            step(b, f)


def cycle(b, f, phases) -> float:
    """One pass over the workload's timed phases; returns the wall
    seconds spent inside the library's public calls."""
    from perfbench import pipeline as pl

    first = len(b.ledger)
    for name in phases:
        getattr(pl, f"phase_{name}")(b, f)
    return sum(dt for _, dt in b.ledger[first:])


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    gw = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, LIB, "__init__.py")):
        print(f"perfbench: the {LIB} package is not next to perfbench/; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    scratch = os.path.join(
        ROOT, ".perfbench_scratch", f"{args.workload}-{os.getpid()}"
    )
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    cores = pin_env(scratch, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        return _run(args, scratch, cores)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        parent = os.path.dirname(scratch)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, scratch: str, cores: int) -> int:
    import threading

    from perfbench import pipeline as pl

    wl = WORKLOADS[args.workload]
    session: dict = {}

    def start_spark() -> None:
        from embedding_to_vectordatabase_spark.session import get_spark

        try:
            session["spark"] = get_spark(app_name=f"perfbench-{args.workload}")
        except Exception as e:  # noqa: BLE001 - re-raised below
            session["error"] = e

    # the JVM starts while the fixtures are generated
    jvm = threading.Thread(target=start_spark)
    jvm.start()
    phases = wl.phases + (wl.traced_only if args.trace else ())
    b = pl.Bench(None, os.path.join(scratch, "run"), args.seed, cores)
    t_fix = time.perf_counter()
    f = pl.Fixtures(b, phases)
    t_fix = time.perf_counter() - t_fix
    jvm.join()
    t_ready = time.perf_counter() - T_START
    if "error" in session:
        raise session["error"]
    spark = b.spark = session["spark"]
    spark.sparkContext.setLogLevel("FATAL")
    try:
        setup(b, f, phases)
        # warm-up: one untimed cycle on the same fixtures and set-up
        # stores, so JIT, codegen and Python worker start land in
        # setup_s. A cycle on tiny inputs is not enough: the first
        # full-size cycle after one still ran 30-50% slower than the
        # next. The stream is left out: the ingest phase warms its
        # per-batch plan
        warm = pl.Bench(spark, os.path.join(scratch, "warm"), args.seed,
                        cores, group_prefix="warmup.",
                        curate_hashes=b.curate_hashes, gate=b.gate,
                        index_built=b.index_built)
        t_warm = cycle(warm, f, [p for p in phases if p != "stream"])
        b.sample("setup_s", time.perf_counter() - T_START)
        print(f"# setup: fixtures {t_fix:.1f} s, Spark ready at "
              f"{t_ready:.1f} s, warm-up cycle {t_warm:.1f} s")

        t0 = time.perf_counter()
        if args.trace:
            traced(b, f, phases)
        else:
            # at least MIN_CYCLES whole cycles, then more while another
            # one still fits in --seconds
            while len(b.samples.get("cycle_s", [])) < MIN_CYCLES or (
                time.perf_counter() - t0 + b.samples["cycle_s"][-1]
                <= args.seconds
            ):
                b.sample("cycle_s", cycle(b, f, phases))
        measured_s = time.perf_counter() - t0
        for name in phases:
            check = getattr(pl, f"check_{name}", None)
            if check is not None:
                check(b, f)
    finally:
        stop_spark(spark)
    if args.trace:
        fold_event_log(b, scratch)
    return report(args, b, f, measured_s, cores)


def traced(b, f, phases) -> None:
    """One pass in which each phase with per-layer measurements runs
    them around its timed call."""
    from perfbench import pipeline as pl

    first = len(b.ledger)
    for name in phases:
        getattr(pl, f"trace_{name}", getattr(pl, f"phase_{name}"))(b, f)
    b.layer["trace.cycle_s"] = sum(dt for _, dt in b.ledger[first:])


def fold_event_log(b, scratch) -> None:
    """Per-layer metrics that come from the Spark event log, folded by
    the job group each timed call ran under."""
    from perfbench.eventlog import STREAM_PREFIX, GroupStats, read_groups

    g = read_groups(os.path.join(scratch, "events"))

    def get(name: str) -> GroupStats:
        return g.get(name) or GroupStats()

    ing, cur, sd = get("ingest"), get("curate"), get("semdedup")
    b.layer["ingest.executor_cpu_s"] = ing.executor_cpu_s
    b.layer["ingest.shuffle_write_bytes"] = ing.shuffle_write_bytes
    stream_jobs = sum(get(STREAM_PREFIX + q).jobs for q in b.stream_ids)
    batches = b.layer.get("stream.batches", 0)
    b.layer["stream.jobs_per_batch"] = stream_jobs / batches if batches else 0.0
    b.layer["curate.task_skew"] = cur.task_skew
    b.layer["curate.shuffle_write_bytes"] = cur.shuffle_write_bytes
    b.layer["semdedup.executor_cpu_s"] = sd.executor_cpu_s
    b.layer["semdedup.shuffle_write_bytes"] = sd.shuffle_write_bytes
    b.layer["semdedup.max_task_s"] = sd.max_task_s
    b.layer["semdedup.task_skew"] = sd.task_skew
    # one upsert call; two searches, on the fragmented and the
    # compacted store
    se = get("index.search")
    b.layer["index.upsert_jobs"] = get("index.upsert").jobs
    b.layer["index.search_jobs_per_call"] = se.jobs / 2
    b.layer["index.search_input_bytes"] = se.input_bytes / 2


def report(args, b, f, measured_s, cores) -> int:
    """Print the metric table, the checks and the call ledger, then the
    one-line JSON result."""
    med = {k: statistics.median(v) for k, v in b.samples.items()}
    attempted = max(b.attempted, 1)
    print(f"# perfbench workload={args.workload} seed={args.seed} "
          f"trace={args.trace} cores={cores} measured_s={measured_s:.1f} "
          f"fixtures_sha256={f.digest[:16]}")
    if b.curate_hashes:
        print(f"# curate survivors (count, xor, sum) = {b.curate_hashes[-1]}")
    print(f"# {'metric':<28}{'median':>14}  {'unit':<10}{'samples':>8}")
    for name, (unit, _) in {**END_TO_END, **CHAIN_METRICS}.items():
        if name in med:
            print(f"  {name:<28}{med[name]:>14.4f}  {unit:<10}"
                  f"{len(b.samples[name]):>8}")
    print(f"  {'error_rate':<28}{b.failed / attempted:>14.4f}  "
          f"{'ratio':<10}{attempted:>8}")
    for name, ok in sorted(b.checks.items()):
        print(f"# check {name}: {'ok' if ok else 'FAILED'}")
    for group, dt in b.ledger:
        print(f"# call {group:<36}{dt:>9.3f} s")
    if args.trace:
        layer = {**{k: v for k, v in med.items() if k in CHAIN_METRICS},
                 **b.layer}
        for name, (unit, _) in PER_LAYER.items():
            print(f"  {name:<40}{layer.get(name, 0.0):>16.4f}  {unit}")
        # a layer the workload does not run reports 0
        metrics = {
            k: {"value": float(layer.get(k, 0.0)), "unit": unit}
            for k, (unit, _) in PER_LAYER.items()
        }
    else:
        metrics = {
            k: {"value": float(med[k]), "unit": unit}
            for k, (unit, _) in END_TO_END.items()
        }
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
