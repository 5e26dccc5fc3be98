"""The workloads: what one pass runs, and how one operation is timed.

An operation is one registry query (construct the DataFrame, execute it
to the ``noop`` sink, or collect it when its output is to be checked) or
one compat job (a fresh ``LocalClient`` per submission, so its result
cache always misses). Untraced operations run exactly that; traced ones
add spans, a job group per phase, a forced physical plan and a read of
the status store afterwards.
"""

from __future__ import annotations

import random
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from spans import Tracer, add_counters, drain_listener_bus, group_counters

# From-scratch data-prep batch: families in a seed-permuted order, a
# fixed order inside each. Each family's first consumer pays its build:
# the streaming state store and checkpoints, the persisted shingle
# index, PageRank's construction-time jobs and persisted degree frames.
COLD_FAMILIES = {
    "streaming": ["streaming_dedup_live"],
    "shingle": ["dedup_ngram_jaccard"],
    "graph": ["graph_pagerank"],
}

# The paper's own workload: reference-style jobs through LocalClient.
# (name, functions file under perfbench/jobs, input, data_type)
COMPAT_JOBS = [
    ("wordcount", "wordcount_functions.py", "corpus", "text"),
    ("docfreq", "docfreq_functions.py", "corpus", "text"),
    ("grouped_avg", "grouped_avg_functions.py", "csv", "table"),
]

WORKLOADS = ("cold_pipeline", "mapreduce_jobs")


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """Operation names of one pass. For cold_pipeline the seed permutes
    the families and each pass rotates that order by one, so any
    ``len(COLD_FAMILIES)`` consecutive passes put every family in every
    position once, and how often a family runs first after the reset (and
    pays a shared first-use cost) hardly depends on the seed."""
    if workload == "cold_pipeline":
        families = list(COLD_FAMILIES)
        random.Random(f"{workload}:{seed}").shuffle(families)
        k = pass_no % len(families)
        families = families[k:] + families[:k]
        return [q for f in families for q in COLD_FAMILIES[f]]
    return [name for name, *_ in COMPAT_JOBS]


def cold_queries() -> list[str]:
    return [q for qs in COLD_FAMILIES.values() for q in qs]


@dataclass
class OpResult:
    name: str
    seconds: float
    output: object = None  # rows or pairs, when collected
    error: str | None = None


@dataclass
class PassResult:
    pass_no: int
    seconds: float
    ops: list[OpResult]
    traced: bool
    counters: dict[str, dict[str, int]] = field(default_factory=dict)


class Runner:
    """Runs passes of one workload against one Spark application."""

    def __init__(self, workload, spark, inputs, seed, tracer: Tracer | None):
        self.workload = workload
        self.spark = spark
        self.inputs = inputs  # {"tables": dir} or {"corpus": path, "csv": path, "jobs": dir}
        self.seed = seed
        self.tracer = tracer

    # -- one operation --------------------------------------------------
    def _registry_op(self, name: str, collect: bool, traced: bool, op_id: str):
        from simplemapreduceframework_spark import registry

        fn = registry.QUERIES[name]
        data = self.inputs["tables"]
        if not traced:
            df = fn(self.spark, data)
            if collect:
                return [r.asDict() for r in df.collect()], df.columns
            df.write.format("noop").mode("overwrite").save()
            return None
        sc, span = self.spark.sparkContext, self.tracer.span
        sc.setJobGroup(f"{op_id}#construct", name)
        layer = "streaming.drain" if name.endswith("_live") else "operators.construct"
        with span(layer, op_id):
            df = fn(self.spark, data)
        sc.setJobGroup(f"{op_id}#exec", name)
        with span("plans.plan", op_id):
            df._jdf.queryExecution().executedPlan()
        with span("spark.exec", op_id):
            if collect:
                return [r.asDict() for r in df.collect()], df.columns
            df.write.format("noop").mode("overwrite").save()
        return None

    def _compat_op(self, name: str, traced: bool, op_id: str):
        from simplemapreduceframework_spark.compat import LocalClient

        _, functions, source, data_type = next(j for j in COMPAT_JOBS if j[0] == name)
        client = LocalClient(
            self.spark,
            self.inputs[source],
            f"{self.inputs['jobs']}/{functions}",
            data_type=data_type,
        )
        if not traced:
            return client.execute()
        self.spark.sparkContext.setJobGroup(f"{op_id}#exec", name)
        with self.tracer.span("compat.job", op_id):
            return client.execute()

    def run_op(self, name: str, pass_no: int, collect: bool, traced: bool) -> OpResult:
        op_id = f"{self.workload}/{pass_no}/{name}"
        t0 = time.perf_counter()
        try:
            with self._span("op", op_id, traced):
                out = self._dispatch(name, collect, traced, op_id)
        except Exception as e:  # an operation failure is counted, never fatal
            return OpResult(name, time.perf_counter() - t0, error=f"{type(e).__name__}: {e}")
        finally:
            if traced:  # later untraced passes must not inherit the group
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return OpResult(name, time.perf_counter() - t0, output=out)

    def _dispatch(self, name, collect, traced, op_id):
        if self.workload == "mapreduce_jobs":
            return self._compat_op(name, traced, op_id)
        return self._registry_op(name, collect, traced, op_id)

    # -- one pass -------------------------------------------------------
    def run_pass(self, pass_no: int, collect: bool = False, traced: bool = False) -> PassResult:
        names = pass_order(self.workload, self.seed, pass_no)
        pass_id = f"{self.workload}/{pass_no}"
        t0 = time.perf_counter()
        with self._span("pass", pass_id, traced):
            if self.workload == "cold_pipeline":
                with self._span("session.reset", pass_id, traced):
                    self._reset()
            ops = [self.run_op(n, pass_no, collect, traced) for n in names]
        result = PassResult(pass_no, time.perf_counter() - t0, ops, traced)
        if traced:
            with self.tracer.span("trace.counters", pass_id):
                sc = self.spark.sparkContext
                drain_listener_bus(sc)
                for n in names:
                    op_id = f"{pass_id}/{n}"
                    result.counters[n] = {
                        phase: group_counters(sc, f"{op_id}#{phase}")
                        for phase in ("construct", "exec")
                    }
        return result

    def _reset(self) -> None:
        """cold_pipeline starts every pass from an empty session: a new
        session drops ``session_memo`` and the session-keyed scan cache,
        and ``clearCache`` drops the frames that CacheManager shares
        across sessions of the application."""
        self.spark.catalog.clearCache()
        self.spark = self.spark.newSession()

    def _span(self, name: str, op_id: str, traced: bool):
        return self.tracer.span(name, op_id) if traced else nullcontext()


def total_counters(p: PassResult, phases=("construct", "exec")) -> dict[str, int]:
    """A traced pass's status-store counters summed over its operations."""
    out: dict[str, int] = {}
    for by_phase in p.counters.values():
        for phase in phases:
            out = add_counters(out, by_phase[phase])
    return out
