"""MapReduce compatibility layer: run reference-style
mapper/combiner/reducer jobs on Spark's RDD API.

This is the engine's only imperative surface, mirroring the reference's
user contract exactly (SURVEY.md section 4 lowering):

- ``mapper(key, value) -> list[(k, v)]``   (reference count_functions.py:1-6;
  value is a chunk of input text, key an opaque source id)
- ``combiner(key, values) -> (key, value)`` run once per key per map
  task on *fully grouped* map output (reference tasktracker.py:140-141,
  209-226)
- ``reducer(key, values) -> (key, value)`` with the *complete* value
  iterable for its key (reference tasktracker.py:228-271)

Two execution modes:

- ``faithful``: per-partition group + combiner (mapPartitions) emits
  one value list per key per map task — the grouped values, or the
  combiner's ``[value]`` under the key it returns — and combineByKey
  concatenates those lists across map tasks (spilling on the reduce
  side), then reducer over the full list — byte-for-byte reference
  semantics for arbitrary (even non-associative) user functions.
- ``fast``: the shuffle merges combined values pairwise through the
  reducer (reduceByKey — map-side combine + constant-memory merge).
  Valid when the reducer is associative/mergeable (true of every shipped
  reference example); the property test asserts mode agreement.

Functions arrive as Python callables or as a ``functions.py`` file that
is dynamically imported — the reference ships the file to workers and
imports it per job (tasktracker.py:86-109); Spark serializes the
closures natively, so the import happens once, driver-side.
"""

from __future__ import annotations

import hashlib
import importlib.util
import sys
from collections.abc import Callable, Iterable, Iterator
from pathlib import Path
from typing import Any

from pyspark import RDD
from pyspark.sql import DataFrame, SparkSession

Pair = tuple[Any, Any]
_NO_KEY = object()  # sentinel distinct from any user key
Mapper = Callable[[Any, str], list[Pair]]
Combiner = Callable[[Any, Iterable[Any]], Pair]
Reducer = Callable[[Any, Iterable[Any]], Pair]


def load_functions(path: str | Path) -> tuple[Mapper, Reducer | None, Combiner | None]:
    """Dynamically import mapper/reducer/combiner from a user .py file
    (the reference's functions-file contract, client.py:16-23; import
    mechanics mirror tasktracker.py:86-109 without the file-shipping
    dance — Spark pickles the closures to executors itself)."""
    path = Path(path)
    mod_name = f"_smrf_job_{hashlib.sha1(str(path).encode()).hexdigest()[:12]}"
    spec = importlib.util.spec_from_file_location(mod_name, path)
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot import functions file: {path}")
    module = importlib.util.module_from_spec(spec)
    sys.modules[mod_name] = module
    spec.loader.exec_module(module)
    # Executors don't have this synthetic module on their import path;
    # force cloudpickle to serialize the functions by value (this is the
    # Spark-native replacement for the reference shipping the .py file
    # to every worker, tasktracker.py:86-109 / worker.py:34-39).
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(module)
    except (ImportError, AttributeError):
        import cloudpickle  # type: ignore[no-redef]

        cloudpickle.register_pickle_by_value(module)
    mapper = getattr(module, "mapper", None)
    if mapper is None:
        raise ValueError(f"{path} must define mapper(key, value)")
    reducer = getattr(module, "reducer", None)
    combiner = getattr(module, "combiner", None)
    # Arity check at load time: a wrong signature otherwise surfaces as
    # an opaque TypeError deep in a Spark worker traceback. The contract
    # (reference count_functions.py:1-17): each function takes (key,
    # value(s)) and reducer/combiner return a (key, value) tuple.
    import inspect

    for name, fn in (("mapper", mapper), ("reducer", reducer), ("combiner", combiner)):
        if fn is None:
            continue
        try:
            params = inspect.signature(fn).parameters
        except (TypeError, ValueError):  # builtins/C callables: trust them
            continue
        required = [
            p
            for p in params.values()
            if p.default is inspect.Parameter.empty
            and p.kind
            in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        has_varargs = any(p.kind == p.VAR_POSITIONAL for p in params.values())
        if not has_varargs and len(required) != 2:
            raise ValueError(
                f"{path}: {name}() must take exactly (key, value"
                f"{'s' if name != 'mapper' else ''}) — got "
                f"{len(required)} required positional parameter(s)"
            )
    return mapper, reducer, combiner


class MapReduceJob:
    """One reference-style job: map -> (combine) -> shuffle -> reduce.

    The dataflow is the reference's O1-O9 pipeline (SURVEY.md section
    2.1) on Spark primitives: textFile/partitions replace slices/blocks,
    the hash shuffle replaces the sha1-per-key FS files
    (tasktracker.py:287-296), and collect() replaces result-file
    concatenation (jobtracker.py:384-390).
    """

    def __init__(
        self,
        spark: SparkSession,
        mapper: Mapper,
        reducer: Reducer | None = None,
        combiner: Combiner | None = None,
        mode: str = "faithful",
        num_partitions: int | None = None,
        sort_values: bool = False,
    ) -> None:
        if mode not in ("faithful", "fast"):
            raise ValueError(f"mode must be 'faithful' or 'fast', got {mode!r}")
        if mode == "fast" and reducer is None:
            raise ValueError("fast mode requires a reducer")
        if sort_values and mode != "faithful":
            raise ValueError("sort_values (secondary sort) requires faithful mode")
        self.spark = spark
        self.mapper = mapper
        self.reducer = reducer
        self.combiner = combiner
        self.mode = mode
        self.num_partitions = num_partitions
        self.sort_values = sort_values

    # -- dataflow stages ------------------------------------------------

    def _map_and_combine(self, lines: RDD, as_lists: bool = False) -> RDD:
        """Map + per-partition group + combiner: the reference's map
        task (O4 flatMap, O5 dict grouping, O6 combiner) as one
        mapPartitions pass — no shuffle yet. Emits (k, v) pairs, or
        with ``as_lists`` one (k, [v, ...]) per key of the map task."""
        mapper = self.mapper
        combiner = self.combiner

        def run_partition(part: Iterator[str]) -> Iterator[Pair]:
            groups: dict[Any, list[Any]] = {}
            for line in part:
                for k, v in mapper(None, line):
                    groups.setdefault(k, []).append(v)
            if combiner is not None:
                for k, vs in groups.items():
                    ck, cv = combiner(k, vs)
                    yield (ck, [cv]) if as_lists else (ck, cv)
            elif as_lists:
                yield from groups.items()
            else:
                for k, vs in groups.items():
                    for v in vs:
                        yield (k, v)

        return lines.mapPartitions(run_partition)

    def run_rdd(self, lines: RDD) -> RDD:
        """Execute on an RDD of input lines; returns RDD[(k, v)]."""
        reducer = self.reducer
        lists = (
            reducer is not None and self.mode == "faithful" and not self.sort_values
        )
        combined = self._map_and_combine(lines, as_lists=lists)
        if reducer is None:
            return combined
        parts = self.num_partitions or lines.getNumPartitions()
        if self.sort_values:
            return self._run_secondary_sort(combined, parts)
        if lists:
            # Exact reference semantics: reducer sees the complete value
            # list per key (one shuffle file per key there; one shuffle
            # partition group here).
            def extend(values: list[Any], more: list[Any]) -> list[Any]:
                values.extend(more)
                return values

            return combined.combineByKey(lambda vs: vs, extend, extend, parts).map(
                lambda kv: reducer(kv[0], kv[1])
            )
        # fast: pairwise merge through the reducer — map-side combine +
        # constant memory per key during the shuffle merge.
        return combined.reduceByKey(lambda a, b: reducer(None, [a, b])[1], parts)

    def _run_secondary_sort(self, combined: RDD, parts: int) -> RDD:
        """Secondary sort: the reducer receives its key's values in
        sorted order WITHOUT an in-memory per-key sort — the classic
        MapReduce pattern the reference's dict-grouping cannot offer
        (tasktracker.py:273-278 preserves first-seen order only).

        repartitionAndSortWithinPartitions shuffles on hash(key) and
        sorts each partition by the full (key, value) composite, so a
        streaming pass over the partition yields each key's values
        already ordered — spill-friendly at any values-per-key size.
        """
        reducer = self.reducer

        def reduce_sorted_runs(part: Iterator[tuple[Pair, None]]) -> Iterator[Pair]:
            current_key: Any = _NO_KEY
            values: list[Any] = []
            for (k, v), _ in part:
                if k != current_key:
                    if current_key is not _NO_KEY:
                        yield reducer(current_key, values)
                    current_key, values = k, [v]
                else:
                    values.append(v)
            if current_key is not _NO_KEY:
                yield reducer(current_key, values)

        keyed = combined.map(lambda kv: (kv, None))
        sorted_parts = keyed.repartitionAndSortWithinPartitions(
            numPartitions=parts, partitionFunc=lambda kv: hash(kv[0])
        )
        return sorted_parts.mapPartitions(reduce_sorted_runs)

    def run(self, lines: RDD | DataFrame | list[str]) -> list[Pair]:
        """Run and collect, returning list[(k, v)] like the reference
        client (client.py:439-441 pickle.loads of the result file)."""
        if isinstance(lines, DataFrame):
            lines = lines.rdd.map(lambda r: r[0])
        elif isinstance(lines, list):
            lines = self.spark.sparkContext.parallelize(lines)
        return self.run_rdd(lines).collect()


def read_pickled_records(spark: SparkSession, path: str) -> RDD:
    """Byte-mode record reader: the reference's second record-reader
    dispatch (tasktracker.py:48-51,111-117 selects ``record_reader_byte``
    when the phase input is pickled objects; data_handler.py:271-298
    unpickles one object per slice file).

    Reads each file as pickled data: sequential ``pickle.dump`` frames
    become one record each, and a single pickled list becomes one record
    per element. Parallelism is per-file — exactly the reference's
    slice-file model, so large byte-mode inputs should be many files
    (its slicer enforces that; Spark's is the file listing).
    """

    def unpack(kv: tuple[str, bytes]) -> list[Any]:
        import io
        import pickle

        objs: list[Any] = []
        buf = io.BytesIO(kv[1])
        while True:
            try:
                objs.append(pickle.load(buf))
            except EOFError:
                break
        if len(objs) == 1 and isinstance(objs[0], list):
            return objs[0]
        return objs

    return spark.sparkContext.binaryFiles(path).flatMap(unpack)


def _progress_poller(sc, callback: Callable[[list[dict]], None], stop, interval: float):
    """Poll the Spark status tracker and report per-stage task progress —
    the SparkListener-backed analogue of the reference's tqdm progress
    daemon polling the job status DB (client.py:291-304,
    progress_job_iterator.py:4-84)."""
    tracker = sc.statusTracker()
    while not stop.is_set():
        infos = []
        for sid in tracker.getActiveStageIds():
            si = tracker.getStageInfo(sid)
            if si is not None:
                infos.append(
                    {
                        "stage": sid,
                        "num_tasks": si.numTasks,
                        "completed": si.numCompletedTasks,
                        "active": si.numActiveTasks,
                        "failed": si.numFailedTasks,
                    }
                )
        if infos:
            callback(infos)
        stop.wait(interval)


class LocalClient:
    """API-parity facade for the reference ``Client`` (client.py:12-30):
    submit a (data file, functions file) job, get list[(k, v)] back.

    Implements the reference's job-dedup/result-cache (O11): the job id
    is a content hash of both files (client.py:57-69, worker.py:41-57),
    and a finished job's result is returned without re-execution
    (jobtracker.py:157-167). With ``cache_dir`` set, the cache persists
    across client instances and sessions (the reference keeps finished
    results in its FS keyed by job id, so a restarted client still
    short-circuits — jobtracker.py:157-167); otherwise it is in-memory
    per instance.

    ``execute(progress=cb)`` reports per-stage task counts from Spark's
    status tracker while the job runs — parity for the reference's
    client-side tqdm progress daemon (client.py:291-304).
    """

    def __init__(
        self,
        spark: SparkSession,
        data_path: str,
        functions_path: str,
        data_type: str = "text",
        mode: str = "faithful",
        cache_dir: str | Path | None = None,
    ) -> None:
        if data_type not in ("text", "table", "pickle"):
            raise ValueError("data_type must be 'text', 'table', or 'pickle'")
        for p, what in ((data_path, "data file"), (functions_path, "functions file")):
            if not Path(p).exists():
                raise FileNotFoundError(f"{what} not found: {p}")
        self.spark = spark
        self.data_path = str(data_path)
        self.functions_path = str(functions_path)
        self.data_type = data_type
        self.mode = mode
        self.cache_dir = Path(cache_dir) if cache_dir is not None else None
        self._result_cache: dict[str, list[Pair]] = {}

    def _job_id(self) -> str:
        h = hashlib.sha1()
        for p in (self.functions_path, self.data_path):
            h.update(Path(p).read_bytes())
        h.update(self.data_type.encode())
        h.update(self.mode.encode())
        return h.hexdigest()

    def _cache_load(self, job_id: str) -> list[Pair] | None:
        if job_id in self._result_cache:
            return self._result_cache[job_id]
        if self.cache_dir is not None:
            f = self.cache_dir / f"{job_id}.pkl"
            if f.exists():
                import pickle

                result = pickle.loads(f.read_bytes())
                self._result_cache[job_id] = result
                return result
        return None

    def _cache_store(self, job_id: str, result: list[Pair]) -> None:
        self._result_cache[job_id] = result
        if self.cache_dir is not None:
            import pickle

            self.cache_dir.mkdir(parents=True, exist_ok=True)
            (self.cache_dir / f"{job_id}.pkl").write_bytes(pickle.dumps(result))

    def execute(
        self, progress: Callable[[list[dict]], None] | None = None
    ) -> list[Pair]:
        job_id = self._job_id()
        cached = self._cache_load(job_id)
        if cached is not None:
            return cached
        mapper, reducer, combiner = load_functions(self.functions_path)
        # 'table' is the reference's CSV-with-header-stripped mode: still
        # line-oriented, the mapper indexes columns itself (README.md:30-33);
        # 'pickle' is the byte-mode record reader (tasktracker.py:111-117).
        if self.data_type == "pickle":
            records = read_pickled_records(self.spark, self.data_path)
        else:
            sc = self.spark.sparkContext
            records = sc.textFile(self.data_path, minPartitions=sc.defaultParallelism)
        job = MapReduceJob(
            self.spark, mapper, reducer, combiner, mode=self.mode
        )
        stop = poller = None
        if progress is not None:
            import threading

            stop = threading.Event()
            poller = threading.Thread(
                target=_progress_poller,
                args=(self.spark.sparkContext, progress, stop, 0.2),
                daemon=True,
            )
            poller.start()
        try:
            result = job.run_rdd(records).collect()
        finally:
            if stop is not None:
                stop.set()
                poller.join(timeout=2)
        self._cache_store(job_id, result)
        return result

    def remove_job(self) -> bool:
        """Discard this job's cached result — parity for the reference
        client's ``remove_job`` (client.py:370-387, REMOVEJOB protocol:
        the client asks the FS to delete the finished job's stored
        artifacts so the next submit recomputes). Returns True when a
        cached result existed, matching the reference's removed/absent
        distinction (client.py:375-382)."""
        job_id = self._job_id()
        removed = self._result_cache.pop(job_id, None) is not None
        if self.cache_dir is not None:
            f = self.cache_dir / f"{job_id}.pkl"
            if f.exists():
                f.unlink()
                removed = True
        return removed
