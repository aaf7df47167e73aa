"""Span tracing around the package's public functions, for the traced run.

``Tracer.install()`` replaces each listed public function (in its own
module and in every package module that imported it by name) with a
wrapper that records a span: name, layer, start, end, parent, run id.
Each span also sets a Spark job group in the calling thread, so jobs --
and, through them, stage counters from Spark's status store -- are
credited to the innermost span that submitted them, even from
``run_import``'s worker threads.

Spark is lazy: a function that returns a DataFrame has only built it.
The frame's own ``collect``/``count``/``toLocalIterator``/``localCheckpoint``
are wrapped too, so when the caller executes that frame, the work is
credited to the layer that built it (span ``<fn>.<action>``).  Work on
frames derived from it is credited to whichever span runs the action.

Nothing here is imported or installed in untraced runs.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

PKG = "bigdatamigratecloud_spark"
# layer -> (module, public functions; "Class.method" for methods)
TARGETS: dict[str, tuple[str, list[str]]] = {
    "xml_package": ("sources.xml_package", [
        "export_package_xml", "peek_package", "decompress_package",
        "read_package_table", "import_package_to_staging",
    ]),
    "staging": ("operators.staging", ["wide_to_staging", "pivot_from_staging"]),
    "validation": ("operators.validation", ["validate_staging", "split_quarantine"]),
    "upsert": ("operators.upsert", [
        "fk_violation_counts_fused", "create_missing_codes", "apply_to_target", "dedup_by_pk",
    ]),
    "pipeline": ("plans.pipeline", ["run_import", "apply_staged_table", "dependency_ranks"]),
    "acid_table": ("sources.acid_table", [
        f"AcidTable.{m}" for m in (
            "create", "merge", "point_lookup", "scan", "delete", "compact",
            "vacuum", "snapshot", "latest_version", "detail",
        )
    ]),
    "dedup": ("operators.dedup", [
        "minhash_neardup", "minhash_signatures", "minhash_lsh_candidates", "shingles_df",
    ]),
    "cluster": ("operators.cluster", ["dedup_clusters", "connected_components"]),
    "catalog": ("catalog", ["load_table", "register_views"]),
}
LAYERS = [*TARGETS, "queries"]
ACTIONS = ("collect", "count", "toLocalIterator", "localCheckpoint")


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    start: float
    label: str | None = None
    end: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self.plan_s = 0.0
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- spans

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def group(self, span: Span | None) -> str | None:
        return None if span is None else f"pb{self.run_id}-{span.id}"

    @contextmanager
    def span(self, name: str, layer: str, label: str | None = None):
        stack = self._stack()
        # a worker thread's first span hangs under the main thread's
        # innermost span: the single client is blocked in that call
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, layer, parent.id if parent else None, time.perf_counter(), label)
            self.spans.append(sp)
            if parent is not None:
                parent.children.append(sp.id)
        stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", self.group(sp))
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", self.group(parent))

    @contextmanager
    def untracked(self):
        """Bookkeeping jobs the tracer itself runs: kept out of every layer."""
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{self.run_id}-overhead")
        try:
            yield
        finally:
            stack = self._stack()
            self.sc.setLocalProperty("spark.jobGroup.id", self.group(stack[-1] if stack else None))

    def count(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] = self.counts.get(key, 0.0) + value

    # ------------------------------------------------------- wrapping

    def _after(self, name: str, layer: str, out) -> None:
        if isinstance(out, DataFrame):
            frames = [out]
        elif isinstance(out, tuple):
            frames = [o for o in out if isinstance(o, DataFrame)]
        else:
            return
        for df in frames:
            t0 = time.perf_counter()
            try:
                df._jdf.queryExecution().executedPlan()
            finally:
                self.plan_s += time.perf_counter() - t0
            for action in ACTIONS:
                setattr(df, action, self._wrap_action(df, action, name, layer))
        if name == "read_package_table" and frames:
            n = frames[0].rdd.getNumPartitions()
            with self._lock:
                key = "xml_package.read_tasks_max"
                self.counts[key] = max(self.counts.get(key, 0), n)

    def _wrap_action(self, df: DataFrame, action: str, name: str, layer: str):
        original = getattr(df, action)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(f"{name}.{action}", layer):
                out = original(*args, **kwargs)
            if name == "minhash_lsh_candidates" and action == "localCheckpoint":
                with self.untracked():
                    self.count("dedup.candidates", out.count())
            return out

        return traced

    def _wrap(self, fn, name: str, layer: str):
        label_of = _LABELS.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = label_of(args, kwargs) if label_of else None
            with self.span(name, layer, label):
                out = fn(*args, **kwargs)
                self._after(name, layer, out)
            return out

        return traced

    def _replace(self, owner, attr: str, new) -> None:
        # a class keeps its raw classmethod/function, not the bound form
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, new)

    def install(self, registry: dict | None = None, entries: tuple[str, ...] = ()) -> None:
        targets = {
            layer: (importlib.import_module(f"{PKG}.{mod}"), names)
            for layer, (mod, names) in TARGETS.items()
        }
        modules = [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]
        for layer, (mod, names) in targets.items():
            for qual in names:
                if "." in qual:
                    cls_name, meth = qual.split(".")
                    cls = getattr(mod, cls_name)
                    raw = cls.__dict__[meth]
                    if isinstance(raw, classmethod):
                        new = classmethod(self._wrap(raw.__func__, meth, layer))
                    else:
                        new = self._wrap(raw, meth, layer)
                    self._replace(cls, meth, new)
                    continue
                original = getattr(mod, qual)
                wrapped = self._wrap(original, qual, layer)
                for m in modules:
                    if getattr(m, qual, None) is original:
                        self._replace(m, qual, wrapped)
        for name in entries:
            self._replace_item(registry, name, self._wrap(registry[name], name, "queries"))

    def _replace_item(self, mapping: dict, key: str, new) -> None:
        self._patches.append((mapping, key, mapping[key]))
        mapping[key] = new

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = original
            else:
                setattr(owner, attr, original)

    # ------------------------------------------------------- counters

    def spark_counters(self) -> tuple[dict[int, dict], dict[str, float]]:
        """Per-span self counters from the status store, and run totals.

        A stage belongs to the lowest job that lists it (later jobs that
        reuse its shuffle output skip it), so no stage is counted twice."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm = self.sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        store = jsc.statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None)))
        prefix = f"pb{self.run_id}-"
        owner: dict[int, int] = {}
        for j in jobs:
            for s in j["stageIds"]:
                owner[s] = min(owner.get(s, j["jobId"]), j["jobId"])
        stage_metrics: dict[int, dict] = {}
        for s in stages:
            m = stage_metrics.setdefault(s["stageId"], _zero())
            if s["status"] in ("COMPLETE", "FAILED"):
                _add(m, s)
        per_span: dict[int, dict] = {}
        for j in jobs:
            group = j.get("jobGroup") or ""
            if not group.startswith(prefix) or group.endswith("-overhead"):
                continue
            acc = per_span.setdefault(int(group[len(prefix):]), _zero())
            acc["jobs"] += 1
            for s in j["stageIds"]:
                if owner.get(s) == j["jobId"] and s in stage_metrics:
                    for k, v in stage_metrics[s].items():
                        acc[k] += v
        totals = _zero()
        for acc in per_span.values():
            for k, v in acc.items():
                totals[k] += v
        return per_span, totals


def _zero() -> dict[str, float]:
    return dict.fromkeys(
        ("jobs", "stages", "task_run_s", "task_cpu_s", "shuffle_write_bytes",
         "spill_bytes", "output_bytes", "output_records"), 0.0
    )


def _add(m: dict, s: dict) -> None:
    m["stages"] += 1
    m["task_run_s"] += s["executorRunTime"] / 1e3
    m["task_cpu_s"] += s["executorCpuTime"] / 1e9
    m["shuffle_write_bytes"] += s["shuffleWriteBytes"]
    m["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
    m["output_bytes"] += s["outputBytes"]
    m["output_records"] += s["outputRecords"]


# span label extractors: which table an apply_staged_table call handles
_LABELS = {
    "apply_staged_table": lambda a, k: k.get("table_name", a[3] if len(a) > 3 else None),
}


def self_time(span: Span, spans: list[Span]) -> float:
    """Span duration minus the part of it its direct children cover
    (children may overlap: run_import's tables run in parallel)."""
    ivs = sorted((max(spans[c].start, span.start), min(spans[c].end, span.end)) for c in span.children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start) - covered


def summarize(tracer: Tracer, n_cycles: int, migration_report=None, delta_rows: int = 0) -> dict[str, float]:
    """Per-layer metrics per traced cycle: each layer's self time and jobs,
    the named per-function figures, and Spark's own totals."""
    spans = tracer.spans
    per_span, totals = tracer.spark_counters()
    n = max(1, n_cycles)

    def counter(ids, key: str) -> float:
        return sum(per_span.get(i, {}).get(key, 0.0) for i in ids)

    def subtree(sp: Span) -> list[int]:
        out, todo = [], [sp.id]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(spans[i].children)
        return out

    def outermost(name: str) -> list[Span]:
        def nested(sp: Span) -> bool:
            p = sp.parent
            while p is not None:
                if spans[p].name == name:
                    return True
                p = spans[p].parent
            return False

        return [sp for sp in spans if sp.name == name and not nested(sp)]

    def incl_s(*names: str) -> float:
        return sum(sp.end - sp.start for nm in names for sp in outermost(nm)) / n

    def incl(key: str, *names: str) -> float:
        return sum(counter(subtree(sp), key) for nm in names for sp in outermost(nm)) / n

    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [sp for sp in spans if sp.layer == layer]
        out[f"{layer}.self_s"] = sum(self_time(sp, spans) for sp in mine) / n
        out[f"{layer}.jobs"] = counter([sp.id for sp in mine], "jobs") / n

    export_s = incl_s("export_package_xml")
    out["xml_package.export_driver_frac"] = (
        1.0 - incl("task_run_s", "export_package_xml") / export_s if export_s else 0.0
    )
    out["xml_package.peek_s"] = incl_s("peek_package")
    out["xml_package.stage_build_s"] = incl_s("import_package_to_staging") - out["xml_package.peek_s"]
    out["xml_package.read_tasks_max"] = tracer.counts.get("xml_package.read_tasks_max", 0.0)
    out["staging.pivot_shuffle_write_bytes"] = incl("shuffle_write_bytes", "apply_staged_table")
    fk = ("fk_violation_counts_fused", "fk_violation_counts_fused.collect")
    out["upsert.fk_sweep_s"] = incl_s(*fk)
    out["upsert.fk_sweep_shuffle_write_bytes"] = incl("shuffle_write_bytes", *fk)
    out["upsert.apply_s"] = incl_s("apply_to_target")
    out["upsert.apply_bytes_written"] = incl("output_bytes", "apply_to_target")
    out["pipeline.rank_wait_s"] = _rank_wait(spans, migration_report) / n
    out["acid_table.merge_jobs"] = incl("jobs", "merge")
    out["acid_table.merge_bytes_written"] = incl("output_bytes", "merge")
    merges = len(outermost("merge"))
    # rows merge writes per delta row: 1.0 would rewrite nothing but the delta
    out["acid_table.write_amp"] = (
        incl("output_records", "merge") * n / merges / delta_rows if merges and delta_rows else 0.0
    )
    out["acid_table.latest_version_s"] = incl_s("latest_version")
    out["acid_table.compact_s"] = incl_s("compact")
    out["acid_table.compact_bytes_rewritten"] = incl("output_bytes", "compact")
    out["dedup.neardup_build_s"] = incl_s("minhash_neardup")
    out["dedup.neardup_build_jobs"] = incl("jobs", "minhash_neardup")
    out["dedup.candidates"] = tracer.counts.get("dedup.candidates", 0.0) / n
    out["cluster.cc_build_s"] = incl_s("connected_components")
    out["cluster.cc_jobs"] = incl("jobs", "connected_components")
    calls = [sp for sp in spans if sp.layer == "queries" and "." not in sp.name]
    out["queries.build_s"] = sum(sp.end - sp.start for sp in calls) / n
    out["queries.build_jobs"] = sum(counter(subtree(sp), "jobs") for sp in calls) / n
    out["spark.plan_s"] = tracer.plan_s / n
    for key in ("jobs", "stages", "task_run_s", "task_cpu_s", "shuffle_write_bytes", "spill_bytes"):
        out[f"spark.{key}"] = totals[key] / n
    out["trace.spans"] = len(spans) / n
    return out


def _rank_wait(spans: list[Span], report) -> float:
    """Summed over dependency ranks: slowest table minus fastest, per import."""
    if report is None:
        return 0.0
    total = 0.0
    for imp in (sp for sp in spans if sp.name == "run_import"):
        dur = {
            spans[c].label: spans[c].end - spans[c].start
            for c in imp.children if spans[c].name == "apply_staged_table"
        }
        for rank in report.order:
            ds = [dur[t] for t in rank if t in dur]
            if len(ds) > 1:
                total += max(ds) - min(ds)
    return total
