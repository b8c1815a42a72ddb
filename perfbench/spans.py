"""Outside-in instrumentation: in-memory spans around the engine's public
functions and pyspark actions, plus counters read from Spark's public
status store, storage and codegen metrics (through py4j).

Nothing here edits the engine. :meth:`Tracer.install` rebinds the listed
public functions, in every loaded engine module that imported them, to
span-recording wrappers for the traced run only, and :meth:`uninstall`
restores them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import sys
import time

# (module, function, layer): the public calls a traced run spans. The
# layer names follow the package layout.
LAYER_TARGETS = [
    ("session", "get_spark", "session"),
    ("sources.readers", "read_layer_dir", "sources.readers"),
    ("sources.readers", "read_corpus_jsonl", "sources.readers"),
    ("sources.readers", "read_json_dump", "sources.readers"),
    ("sources.readers", "legacy_coalesce", "sources.readers"),
    ("sources.writers", "write_splits", "sources.writers"),
    ("pipeline", "normalize_records", "functions.normalize"),
    ("functions.normalize", "normalize_text", "functions.normalize"),
    ("functions.normalize", "fix_mojibake", "functions.normalize"),
    ("functions.pii", "redact_pii", "functions.pii"),
    ("plans.curation_pipeline", "url_head_stages", "functions.url"),
    ("operators.dedup", "union_layers", "operators.dedup"),
    ("operators.dedup", "deduplicate", "operators.dedup"),
    ("operators.split", "seeded_split", "operators.split"),
    ("operators.curation", "c4_rule_flags", "operators.curation"),
    ("operators.curation", "repetition_signals", "operators.curation"),
    ("operators.curation", "contamination_flags", "operators.curation"),
    ("operators.fuzzy_dedup", "ngram_jaccard_pairs", "operators.fuzzy_dedup"),
    ("operators.fuzzy_dedup", "banded_candidate_pairs", "operators.fuzzy_dedup"),
    ("operators.components", "duplicate_clusters", "operators.components"),
    ("operators.components", "connected_components", "operators.components"),
    ("pipeline", "run_corpus_pipeline", "pipeline"),
    ("plans.curation_pipeline", "run_curation_pipeline", "plans.curation_pipeline"),
]
PACKAGE = "nahuatl_data_pipeline_spark"
# pyspark calls that run jobs; spanned as "action" so a layer's eager
# jobs (checkpoints, gate counts) show as its children
_ACTIONS = [
    ("pyspark.sql.dataframe", "DataFrame",
     ("count", "collect", "toPandas", "localCheckpoint", "checkpoint", "first", "take")),
    ("pyspark.sql.classic.dataframe", "DataFrame",
     ("count", "collect", "toPandas", "localCheckpoint", "checkpoint", "first", "take")),
    ("pyspark.sql.readwriter", "DataFrameWriter", ("save", "parquet", "json")),
]


class Tracer:
    """Spans kept in memory: ``(id, name, layer, start, end, parent, run)``
    with ``perf_counter`` times; written out once the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._undo: list[tuple] = []
        self.enabled = False

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Rebind every target in its defining module and in each loaded
        engine module that holds the same function object."""
        for mod_name, attr, layer in LAYER_TARGETS:
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            fn = getattr(mod, attr)
            wrapped = self._wrap(fn, f"{mod_name}.{attr}", layer)
            for m in list(sys.modules.values()):
                if m is None or not getattr(m, "__name__", "").startswith(PACKAGE):
                    continue
                if getattr(m, attr, None) is fn:
                    setattr(m, attr, wrapped)
                    self._undo.append((m, attr, fn))
        for mod_name, cls_name, methods in _ACTIONS:
            try:
                cls = getattr(importlib.import_module(mod_name), cls_name)
            except (ImportError, AttributeError):
                continue
            for meth in methods:
                fn = cls.__dict__.get(meth)
                if fn is None:
                    continue
                setattr(cls, meth, self._wrap(fn, f"action.{meth}", "action"))
                self._undo.append((cls, meth, fn))
        self.enabled = True

    def uninstall(self) -> None:
        for obj, attr, fn in reversed(self._undo):
            setattr(obj, attr, fn)
        self._undo.clear()
        self.enabled = False


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer: Σ span duration minus the part of it covered by child
    spans (children may overlap, e.g. concurrent stages)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - union_len(kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + max(own, 0.0)
    return out


class SparkProbe:
    """Counters from Spark's public status store, block storage and
    codegen metrics. Job and stage ids are dense and increasing, so a
    before/after pair of :meth:`counters` gives exact deltas."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._codegen = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._empty = self.sc._gateway.new_array(self.jvm.double, 0)

    def _max_id(self, seq, getter) -> int:
        n = seq.length()
        return max((getter(seq.apply(i)) for i in range(min(n, 4))), default=-1)

    def job_id(self) -> int:
        """Id of the newest job (-1 before the first)."""
        return self._max_id(self.store.jobsList(None), lambda j: j.jobId())

    def counters(self) -> dict:
        """Cumulative counts: jobs, stages (ids issued), compiles and the
        storage held by persisted RDDs."""
        stages = self.store.stageList(None, False, False, self._empty, None)
        hist = self._codegen.METRIC_COMPILATION_TIME()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return {
            "job_id": self.job_id(),
            "stage_id": self._max_id(stages, lambda s: s.stageId()),
            "compiles": int(hist.getCount()),
            "compile_mean_ms": float(hist.getSnapshot().getMean()),
            "persisted_rdds": int(self.sc._jsc.getPersistentRDDs().size()),
            "storage_bytes": int(sum(i.memSize() + i.diskSize() for i in infos)),
        }

    def stages_after(self, stage_id: int, with_ops: bool = False) -> list[dict]:
        """Data for every stage with id > ``stage_id``: wall interval
        (epoch seconds), task and executor metrics, and optionally the
        operator cluster names of its RDD graph."""
        seq = self.store.stageList(None, False, False, self._empty, None)
        out = []
        it = seq.iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid <= stage_id:
                break  # the store lists stages newest first
            rec = {"stage": sid, "status": str(s.status()), "name": s.name(),
                   "tasks": s.numCompleteTasks()}
            if rec["status"] == "COMPLETE":
                rec.update(
                    submit=s.submissionTime().get().getTime() / 1000.0,
                    complete=s.completionTime().get().getTime() / 1000.0,
                    run_s=s.executorRunTime() / 1000.0,
                    cpu_s=s.executorCpuTime() / 1e9,
                    gc_s=s.jvmGcTime() / 1000.0,
                    input_bytes=s.inputBytes(),
                    input_records=s.inputRecords(),
                    output_bytes=s.outputBytes(),
                    shuffle_write_bytes=s.shuffleWriteBytes(),
                    spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
                )
                if with_ops:
                    rec["ops"] = self._ops(sid)
            out.append(rec)
        return sorted(out, key=lambda r: r["stage"])

    def _ops(self, sid: int) -> list[str]:
        names: list[str] = []

        def walk(c):
            kids = c.childClusters()
            for i in range(kids.length()):
                k = kids.apply(i)
                names.append(k.name())
                walk(k)

        try:
            walk(self.store.operationGraphForStage(sid).rootCluster())
        except Exception:  # graph evicted or unavailable: label by name only
            pass
        return names


def tree_peak_rss_mb() -> float:
    """Peak resident set (VmHWM) of this process and every descendant —
    the driver JVM and its Python workers — summed, in MiB."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
    tree, grew = {os.getpid()}, True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
