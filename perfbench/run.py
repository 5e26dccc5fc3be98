"""Layer-attributed benchmark of the engine, driven from outside through
its public entry points only.

    python3 perfbench/run.py --workload cold_pipeline --seed 1 --seconds 26 --trace 0

One closed loop: one client, one process, ``local[<cores>]``. A run
generates its inputs from the seed, sets up (session start, registry
load, one warm-up pass whose outputs are checked), then runs the timed
passes: ``--seconds`` over the measured time of one pass, in whole
passes, at least three. Untraced (``--trace 0``) it prints the end-to-end
metrics; traced (``--trace 1``) it alternates untraced and traced passes
(at least five), prints the per-layer metrics and the tracing overhead, and writes every span
and counter to ``.perfbench_work/trace-<workload>-s<seed>.json``. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "simplemapreduceframework_spark"
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import verify  # noqa: E402
from spans import Tracer, self_times  # noqa: E402
from stats import tail_percentile  # noqa: E402
from workloads import WORKLOADS, Runner, cold_queries, total_counters  # noqa: E402

# Input sizes (perfbench/README.md lists what each workload reads).
TABLE_SF = 0.01  # star schema for cold_pipeline
CORPUS_TOKENS = 1_000_000  # Zipf corpus for wordcount / docfreq (~3.4 MB)
CSV_SF = 0.025  # 150,000 lineitem rows exported for grouped_avg (~2.6 MB)

# Measured wall time of one timed pass on 4 cores: the run times
# round(--seconds / this) whole passes, at least three, so pass_s is a
# median of three or more. Sizing the window in passes, not clock time,
# gives every run the same work.
SECONDS_PER_PASS = {"cold_pipeline": 7.0, "mapreduce_jobs": 5.0}
MIN_PASSES = 3

MIB = 1024 * 1024


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# -- process resources ---------------------------------------------------

def vm_hwm_mib(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for {pid}")


def cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between:
    the host contention that makes one run slower than the next."""
    return (end[0] - start[0]) / max(1, end[1] - start[1])


def reset_hwm() -> None:
    """Restart this process's peak-RSS count, so input generation and the
    oracles do not count as the engine's memory."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def isolate_scratch(tmp: str) -> None:
    """Point every temp-file user (Python, the driver JVM, Spark's block
    manager) into the run's own directory."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # -XX:-UsePerfData: HotSpot would otherwise keep its perf-counter
    # file under /tmp whatever java.io.tmpdir says, in the driver JVM and
    # in the short-lived launcher JVM that spark-submit starts first.
    base = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")
    os.environ["SPARK_GRAFT_DRIVER_JAVA_OPTS"] = (
        f"{base} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} -XX:-UsePerfData".strip()


def stop_spark(spark) -> None:
    """Stop the application and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- inputs and expected outputs -----------------------------------------

def make_inputs(workload: str, seed: int, work: str):
    """Generate the run's inputs; returns (inputs, expected-output maker)."""
    if workload == "cold_pipeline":
        tables = os.path.join(work, "tables")
        size = datagen.write_tables(seed, TABLE_SF, tables)
        return {"tables": tables, "bytes": size}, (
            lambda: verify.oracle_digests(tables, cold_queries())
        )
    corpus = datagen.zipf_corpus(seed, CORPUS_TOKENS)
    corpus_path = os.path.join(work, "corpus.txt")
    csv_path = os.path.join(work, "lineitem.csv")
    lineitem = datagen.lineitem_table(seed, CSV_SF)
    size = 2 * datagen.write_corpus(corpus, corpus_path)
    size += datagen.write_lineitem_csv(lineitem, csv_path)

    def expected():
        return {
            "wordcount": verify.wordcount_expected(corpus.words, corpus.tokens),
            "docfreq": verify.docfreq_expected(
                corpus.words, corpus.tokens, corpus.line_of
            ),
            "grouped_avg": verify.grouped_avg_expected(
                lineitem.column("l_partkey").to_numpy(),
                lineitem.column("l_quantity").to_numpy().astype("int64"),
            ),
        }

    inputs = {
        "corpus": corpus_path,
        "csv": csv_path,
        "jobs": os.path.join(HERE, "jobs"),
        "bytes": size,
    }
    return inputs, expected


def check_pass(p, expected) -> list[tuple[str, str]]:
    """(operation, problem) for every failed or wrong operation of a pass."""
    bad = []
    for op in p.ops:
        if op.error is not None:
            bad.append((op.name, op.error))
        elif isinstance(op.output, tuple):  # collected registry rows
            rows, cols = op.output
            why = verify.mismatch(expected[op.name], rows, cols)
            if why:
                bad.append((op.name, why))
        elif isinstance(op.output, list):  # compat (key, value) pairs
            why = verify.pairs_mismatch(expected[op.name], op.output)
            if why:
                bad.append((op.name, why))
    return bad


# -- metrics -------------------------------------------------------------

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.reset_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "streaming.drain_s": "s",
    "plans.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.input_mb": "MiB",
    "spark.shuffle_read_mb": "MiB",
    "spark.shuffle_write_mb": "MiB",
    "spark.spill_mb": "MiB",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.core_util": "ratio",
    "sources.scan_tasks": "count",
    "session_memo.entries": "count",
    "session_memo.held_mb": "MiB",
    "compat.job_s": "s",
    "compat.map_tasks": "count",
    "compat.shuffle_write_mb": "MiB",
    "compat.input_mb_per_s": "MB/s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "trace.counter_read_s": "s",
}

# span name -> per-layer metric holding the per-pass sum of its durations
SPAN_METRICS = {
    "session.reset": "session.reset_s",
    "operators.construct": "operators.construct_s",
    "streaming.drain": "streaming.drain_s",
    "plans.plan": "plans.plan_s",
    "spark.exec": "spark.exec_s",
    "compat.job": "spark.exec_s",  # also summed into compat.job_s below
    "trace.counters": "trace.counter_read_s",
}


def layer_metrics(workload, tracer, timed, memo, start_s, cores):
    """Per-pass sums over the traced passes, reported as their median."""
    traced = [p for p in timed if p.traced]
    per_pass = {i: dict.fromkeys(PER_LAYER_UNITS, 0.0) for i in range(len(traced))}
    index = {p.pass_no: i for i, p in enumerate(traced)}
    selfs = self_times(tracer.spans)
    for s in tracer.spans:
        i = index[int(s.op.split("/")[1])]
        if s.name in SPAN_METRICS:
            per_pass[i][SPAN_METRICS[s.name]] += s.seconds
        if s.name in ("pass", "op"):
            per_pass[i]["trace.unattributed_s"] += selfs[s.id]
        if s.name == "compat.job":
            per_pass[i]["compat.job_s"] += s.seconds
    for i, p in enumerate(traced):
        m = per_pass[i]
        allc = total_counters(p)
        m["operators.construct_jobs"] = total_counters(p, phases=("construct",))["jobs"]
        m["spark.jobs"] = allc["jobs"]
        m["spark.stages"] = allc["stages"]
        m["spark.tasks"] = allc["tasks"]
        m["spark.failed_tasks"] = allc["failed_tasks"]
        m["spark.input_mb"] = allc["input_bytes"] / MIB
        m["spark.shuffle_read_mb"] = allc["shuffle_read_bytes"] / MIB
        m["spark.shuffle_write_mb"] = allc["shuffle_write_bytes"] / MIB
        m["spark.spill_mb"] = allc["spill_bytes"] / MIB
        m["spark.executor_run_s"] = allc["executor_run_ms"] / 1e3
        m["spark.executor_cpu_s"] = allc["executor_cpu_ns"] / 1e9
        m["spark.core_util"] = m["spark.executor_run_s"] / (p.seconds * cores)
        m["sources.scan_tasks"] = allc["scan_tasks"]
        if workload == "mapreduce_jobs":  # every operation is a compat job
            m["compat.map_tasks"] = allc["scan_tasks"]
            m["compat.shuffle_write_mb"] = m["spark.shuffle_write_mb"]
            m["compat.input_mb_per_s"] = allc["input_bytes"] / 1e6 / m["compat.job_s"]
    out = {k: median([m[k] for m in per_pass.values()]) for k in PER_LAYER_UNITS}
    out["session.start_s"] = start_s
    out["session_memo.entries"], out["session_memo.held_mb"] = memo
    # Each traced pass against the mean of its untraced neighbours, which
    # cancels a linear drift of pass times across the window.
    secs = {p.pass_no: p.seconds for p in timed}
    out["trace.overhead_s"] = median(
        [secs[n] - (secs[n - 1] + secs[n + 1]) / 2 for n in index]
    )
    return out


def memo_state(spark) -> tuple[int, float]:
    """Entries in this session's memo, and MiB the application holds in
    persisted RDDs (memory + disk)."""
    from simplemapreduceframework_spark.session_memo import session_memo

    held = sum(
        i.memSize() + i.diskSize()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )
    return len(session_memo(spark)), held / MIB


# -- the run -------------------------------------------------------------

def run(args, work: str) -> tuple[dict, list[str]]:
    isolate_scratch(os.path.join(work, "tmp"))
    inputs, make_expected = make_inputs(args.workload, args.seed, work)

    t0 = time.perf_counter()
    from simplemapreduceframework_spark import get_spark, registry

    registry.load_all()
    import_s = time.perf_counter() - t0
    expected = make_expected()
    reset_hwm()

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "tmp"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    registry.load_all()
    start_s = time.perf_counter() - t0
    try:
        return measure(args, spark, inputs, expected, import_s + start_s, start_s)
    finally:
        stop_spark(spark)


def measure(args, spark, inputs, expected, session_s, start_s):
    traced_run = bool(args.trace)
    tracer = Tracer()
    runner = Runner(args.workload, spark, inputs, args.seed, tracer)
    # Warm-up: one pass with outputs collected and checked. For
    # cold_pipeline it is itself a cold pass, so the checked outputs come
    # from the path the timed passes take.
    warm = runner.run_pass(0, collect=True)
    setup_s = session_s + warm.seconds
    passes = [warm]

    # A traced run alternates untraced and traced passes and ends on an
    # untraced one, so every traced pass has an untraced pass on each side;
    # it has at least two traced passes, so the overhead is not read off
    # a single pair of neighbours.
    n_passes = max(MIN_PASSES, round(args.seconds / SECONDS_PER_PASS[args.workload]))
    if traced_run:
        n_passes = max(5, n_passes | 1)
    timed, memo = [], (0, 0.0)
    steal_start = cpu_steal()
    for pass_no in range(1, n_passes + 1):
        with_trace = traced_run and pass_no % 2 == 0
        timed.append(runner.run_pass(pass_no, traced=with_trace))
        if with_trace:
            memo = memo_state(runner.spark)
    passes += timed
    steal = steal_share(steal_start, cpu_steal())

    peak_rss = vm_hwm_mib("self") + vm_hwm_mib(spark.sparkContext._gateway.proc.pid)
    failures = [f for p in passes for f in check_pass(p, expected)]
    # Only operations whose outcome was checked count as attempted: ones
    # that raised, and ones whose collected output was compared. Timed
    # registry operations write to the noop sink, so on cold_pipeline only
    # the warm-up pass's outputs are compared.
    attempted = sum(
        op.error is not None or op.output is not None
        for p in passes for op in p.ops
    )
    untraced = [p for p in timed if not p.traced]
    lat = [op.seconds for p in untraced for op in p.ops]
    lines = [
        f"workload {args.workload} seed {args.seed}: {len(timed)} timed passes "
        f"({len(timed) - len(untraced)} traced), {len(lat)} untraced operations, "
        f"input {inputs['bytes'] / 1e6:.1f} MB",
        f"fail_frac {len(failures) / attempted:.4f} ({len(failures)} of {attempted} "
        "checked operations)",
    ]
    lines += [f"FAILED {name}: {why}" for name, why in failures]
    lines.append(f"peak RSS (driver Python + JVM VmHWM) {peak_rss:.0f} MiB")
    lines.append("pass seconds (W = warm-up, T = traced): " + " ".join(
        f"{p.pass_no}{'W' if p.pass_no == 0 else 'T' if p.traced else ''}={p.seconds:.3f}"
        for p in passes
    ))
    lines.append(f"CPU time stolen by the host during the timed passes: {steal:.1%}")
    if traced_run:
        cores = spark.sparkContext.defaultParallelism
        metrics = layer_metrics(
            args.workload, tracer, timed, memo, start_s, cores
        )
        units = PER_LAYER_UNITS
        path = os.path.join(
            ROOT, ".perfbench_work", f"trace-{args.workload}-s{args.seed}.json"
        )
        tracer.write(path, [
            {"pass": p.pass_no, "op": n, **c}
            for p in timed for n, c in p.counters.items()
        ])
        lines.append(f"spans and counters written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median([p.seconds for p in untraced]),
        }
        units = {"setup_s": "s", "pass_s": "s"}
        p90 = tail_percentile(lat, 90)
        lines.append(
            f"operation latency: p50 {median(lat):.4f} s"
            + (f", p90 {p90:.4f} s" if p90 is not None else "")
            + f" of {len(lat)} samples"
        )
        by_op: dict[str, list[float]] = {}
        for p in untraced:
            for op in p.ops:
                by_op.setdefault(op.name, []).append(op.seconds)
        lines.append("per operation (median s): " + " ".join(
            f"{n}={median(v):.3f}" for n, v in sorted(by_op.items())
        ))
    lines += [f"{k} {v:.6g} {units[k]}" for k, v in metrics.items()]
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return result, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found beside perfbench/; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        result, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
