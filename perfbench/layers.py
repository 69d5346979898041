"""The traced run: per-layer metrics measured from outside the engine.

While a traced unit runs, the public functions of each layer module are
replaced by wrappers that open a span named ``<layer>.<function>`` around
the call. Lazy layers get a boundary: the wrapper caches and counts the
frames they return (for ``cleanse``, the frame ``enrich`` receives), so
each layer's work runs inside its own span instead of in whichever action
happens to come later. That materialization changes the plan: a traced
unit is not an untraced one, and the run reports the ratio of the two.

Layers (module → wrapped functions):

* ``sources``  — ``sources.readers.read_partitioned_json``; the tick files
  landed by stream_refresh;
* ``cleanse``  — the ``operators.cleanse`` filters (plan build only) and
  their materialized output;
* ``enrich``   — ``functions.enrich.enrich``;
* ``graph``    — ``plans.graph.twitter_graph`` / ``reddit_graph``;
* ``writers``  — ``sinks.writers.merge_upsert_manifested`` (+ ``_retrying``)
  and the workload's read-back of the committed tables;
* ``streams``  — ``streaming.streams.upsert_stream_manifested`` and
  ``run_to_completion`` (micro-batch durations from query progress);
* ``spark``    — jobs, stages, tasks, executor time, shuffle, spill and
  Catalyst phase times, summed over every span of the unit;
* ``py``       — Python time spent building lazy plans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time

import spans as sp_mod

from reddit_twitter_big_data_pipeline_spark.functions import enrich
from reddit_twitter_big_data_pipeline_spark.operators import cleanse
from reddit_twitter_big_data_pipeline_spark.plans import graph
from reddit_twitter_big_data_pipeline_spark.sinks import writers
from reddit_twitter_big_data_pipeline_spark.sources import readers
from reddit_twitter_big_data_pipeline_spark.streaming import streams
from pyspark.sql import functions as F

TRACED_UNITS = 2
BATCH_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit")
CLEANSE_FUNCS = ("scrub_empty", "scrub_sentinels", "filter_bots", "filter_length",
                 "filter_blocklist", "parse_mentions")

# Every per-layer metric and its unit, as BENCHMARK.json declares them.
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    UNITS = {m["name"]: m["unit"] for m in json.load(_f)["per_layer"]}


def _table_files(path: str) -> dict[str, int]:
    """{relative data file: size} under a local table directory (data
    files only: no manifests, checksums or markers)."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if d != "_manifest" and not d.startswith(".")]
        for fn in filenames:
            if not fn.startswith(("_", ".")):
                p = os.path.join(dirpath, fn)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


class Instrument:
    def __init__(self, tracer: sp_mod.Tracer, sampler):
        self.tracer = tracer
        self.sampler = sampler
        self.cached: list = []

    def _materialize(self, df):
        df = df.cache()
        self.cached.append(df)
        return df, df.count()

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()

    # --- wrappers -------------------------------------------------------

    def _read(self, orig):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.tracer.span("sources.read_partitioned_json") as s:
                t = time.perf_counter()
                df = orig(*a, **kw)
                s.attrs["build_s"] = time.perf_counter() - t
                files = len(df.inputFiles())
                t = time.perf_counter()
                df, rows = self._materialize(df)
                corrupt = df.filter(F.col("_corrupt_record").isNotNull()).count()
                s.attrs.update(exec_s=time.perf_counter() - t, rows_out=rows,
                               corrupt_rows=corrupt, files=files)
            return df
        return wrapper

    def _build_only(self, name, orig):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.tracer.span(name) as s:
                t = time.perf_counter()
                out = orig(*a, **kw)
                s.attrs["build_s"] = time.perf_counter() - t
            return out
        return wrapper

    def _enrich(self, orig):
        @functools.wraps(orig)
        def wrapper(df, *a, **kw):
            with self.tracer.span("cleanse.exec") as s:
                t = time.perf_counter()
                df, rows = self._materialize(df)
                s.attrs.update(exec_s=time.perf_counter() - t, rows_out=rows)
            with self.tracer.span("enrich.enrich") as s:
                t = time.perf_counter()
                out = orig(df, *a, **kw)
                s.attrs["build_s"] = time.perf_counter() - t
                py0 = self.sampler.python_cpu_s()
                t = time.perf_counter()
                out, rows = self._materialize(out)
                s.attrs.update(exec_s=time.perf_counter() - t, rows=rows,
                               python_cpu_s=self.sampler.python_cpu_s() - py0)
            return out
        return wrapper

    def _graph(self, name, orig):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.tracer.span(f"graph.{name}") as s:
                t = time.perf_counter()
                nodes, edges = orig(*a, **kw)
                s.attrs["build_s"] = time.perf_counter() - t
                t = time.perf_counter()
                nodes, n = self._materialize(nodes)
                edges, e = self._materialize(edges)
                s.attrs.update(exec_s=time.perf_counter() - t, nodes=n, edges=e)
            return nodes, edges
        return wrapper

    def _merge(self, orig):
        @functools.wraps(orig)
        def wrapper(spark, target_path, *a, **kw):
            with self.tracer.span("writers.merge_upsert_manifested") as s:
                before = _table_files(target_path)
                out = orig(spark, target_path, *a, **kw)
                new = {k: v for k, v in _table_files(target_path).items() if k not in before}
                s.attrs.update(files_written=len(new), bytes_written=sum(new.values()),
                               partitions_rewritten=len({os.path.dirname(k) for k in new}))
            return out
        return wrapper

    def _retrying(self, orig):
        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.tracer.span("writers.merge_upsert_manifested_retrying"):
                return orig(*a, **kw)
        return wrapper

    def _run_stream(self, orig):
        @functools.wraps(orig)
        def wrapper(query, *a, **kw):
            with self.tracer.span("streams.run_to_completion") as s:
                orig(query, *a, **kw)
                for p in query.recentProgress:
                    for k in BATCH_PHASES:
                        s.attrs[f"batch_ms.{k}"] = (s.attrs.get(f"batch_ms.{k}", 0)
                                                    + p.durationMs.get(k, 0))
                    s.attrs["rows_out"] = s.attrs.get("rows_out", 0) + p.numInputRows
        return wrapper

    def _land(self, orig):
        @functools.wraps(orig)
        def wrapper(i):
            with self.tracer.span("sources.land") as s:
                s.attrs["files"] = orig(i)
        return wrapper

    def _read_back(self, orig):
        @functools.wraps(orig)
        def wrapper(i):
            with self.tracer.span("writers.read_back"):
                return orig(i)
        return wrapper

    @contextlib.contextmanager
    def installed(self, workload):
        patches = [(readers, "read_partitioned_json", self._read(readers.read_partitioned_json)),
                   (enrich, "enrich", self._enrich(enrich.enrich)),
                   (writers, "merge_upsert_manifested",
                    self._merge(writers.merge_upsert_manifested)),
                   (writers, "merge_upsert_manifested_retrying",
                    self._retrying(writers.merge_upsert_manifested_retrying)),
                   (streams, "upsert_stream_manifested",
                    self._build_only("streams.upsert_stream_manifested",
                                     streams.upsert_stream_manifested)),
                   (streams, "run_to_completion", self._run_stream(streams.run_to_completion))]
        patches += [(cleanse, f, self._build_only(f"cleanse.{f}", getattr(cleanse, f)))
                    for f in CLEANSE_FUNCS]
        patches += [(graph, f, self._graph(f, getattr(graph, f)))
                    for f in ("twitter_graph", "reddit_graph")]
        for attr, wrap in (("land", self._land), ("read_back", self._read_back)):
            if hasattr(workload, attr):
                patches.append((workload, attr, wrap(getattr(workload, attr))))
        saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
        for mod, name, fn in patches:
            setattr(mod, name, fn)
        try:
            yield
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)
            for attr in ("land", "read_back"):  # drop the instance overrides
                workload.__dict__.pop(attr, None)


def unit_metrics(tracer: sp_mod.Tracer, unit: int) -> dict[str, float]:
    """Every per-layer metric of one traced unit except the ``trace.*``
    ones, which compare units."""
    spans = tracer.unit_spans(unit)
    m: dict[str, float] = {}

    def total(prefix: str, key: str) -> float:
        return sum(s.attrs.get(key, 0) for s in spans if s.name.startswith(prefix))

    m["sources.scan_s"] = total("sources.", "exec_s")
    m["sources.files"] = total("sources.", "files")
    m["sources.rows_out"] = total("sources.", "rows_out") + total("streams.run", "rows_out")
    m["sources.corrupt_rows"] = total("sources.", "corrupt_rows")
    cleansed = any(s.name == "cleanse.exec" for s in spans)
    m["cleanse.rows_in"] = total("sources.", "rows_out") if cleansed else 0
    m["cleanse.exec_s"] = total("cleanse.exec", "exec_s")
    m["cleanse.rows_out"] = total("cleanse.exec", "rows_out")
    m["enrich.exec_s"] = total("enrich.", "exec_s")
    m["enrich.rows"] = total("enrich.", "rows")
    m["enrich.python_cpu_s"] = total("enrich.", "python_cpu_s")
    m["graph.exec_s"] = total("graph.", "exec_s")
    m["graph.nodes"] = total("graph.", "nodes")
    m["graph.edges"] = total("graph.", "edges")
    m["graph.shuffle_mb"] = total("graph.", "shuffle_write_mb")
    merges = [s for s in spans if s.name == "writers.merge_upsert_manifested"]
    m["writers.commit_s"] = sum(s.duration for s in merges)
    m["writers.read_s"] = sum(s.duration for s in spans if s.name == "writers.read_back")
    for k in ("files_written", "bytes_written", "partitions_rewritten"):
        m[f"writers.{k}"] = sum(s.attrs.get(k, 0) for s in merges)
    idx = {id(s): i for i, s in enumerate(tracer.spans)}
    m["writers.retries"] = 0
    for s in spans:
        if s.name == "writers.merge_upsert_manifested_retrying":
            tries = sum(1 for c in merges if c.parent == idx[id(s)])
            m["writers.retries"] += max(0, tries - 1)
    m["streams.start_s"] = sum(s.duration for s in spans
                               if s.name == "streams.upsert_stream_manifested")
    for p in BATCH_PHASES:
        m[f"streams.batch_ms.{p}"] = total("streams.run", f"batch_ms.{p}")
    for c in sp_mod.SPARK_COUNTERS:
        m[f"spark.{c}"] = total("", c)
    m["py.build_s"] = total("", "build_s")
    return m


def traced_units(spark, workload, runner, first: int, args, log, out_dir: str):
    """Run one untraced baseline unit, then TRACED_UNITS traced ones; return
    the per-layer metrics (median per unit) and write the spans to
    ``out_dir``."""
    tracer = sp_mod.Tracer()
    counters = sp_mod.SparkCounters(spark, tracer)
    inst = Instrument(tracer, runner.sampler)
    baseline, _, _ = runner.run(first)
    per_unit, walls = [], []
    for k in range(TRACED_UNITS):
        i = first + 1 + k
        tracer.unit = i

        @contextlib.contextmanager
        def traced():
            with inst.installed(workload), tracer.span("unit.total"):
                yield

        wall, _, _ = runner.run(i, around=traced)
        counters.attribute(i)
        inst.release()
        walls.append(wall)
        per_unit.append(unit_metrics(tracer, i))
    metrics = {k: statistics.median(u[k] for u in per_unit) for k in per_unit[0]}
    metrics["trace.unit_s"] = statistics.median(walls)
    metrics["trace.overhead_ratio"] = metrics["trace.unit_s"] / baseline
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": tracer.to_json(),
                   "per_unit": per_unit}, f, indent=1)
    log(f"spans written to {path}")
    return {k: (metrics[k], unit) for k, unit in UNITS.items()}
