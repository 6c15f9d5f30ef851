"""Per-layer tracing from outside the program.

``Tracer.install`` rebinds each layer's public functions, in every library
module that holds a reference to them, to a wrapper that

* opens a span (name, layer, start, end, parent) kept in memory,
* tags the Spark jobs started inside it with a job group of its own,
* reads process-tree CPU at both ends (``procstat``), and
* forces a returned DataFrame (persist + count) before the span closes, so
  lazy work is executed, and timed, in the layer that built the plan.

After a traced pass ``layer_metrics`` joins the spans with the job, shuffle
and spill figures Spark's status store holds for each job group.  Nothing in
the library is edited; ``uninstall`` restores the original bindings.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from perfbench.procstat import CpuSample, ProcTree

_PKG = "vid_dup_finder_lib_spark"

# layer -> (module, attribute) pairs; "Class.method" patches the class
LAYERS: dict[str, list[tuple[str, str]]] = {
    "signatures": [
        ("operators.signatures", "build_signatures"),
        ("operators.incremental", "refresh_signatures"),
        ("operators.incremental", "compute_signature_delta"),
    ],
    "lsh": [("operators.lsh", "candidate_pairs"), ("operators.lsh", "band_keys")],
    # attach_signatures + with_distances are the verify step that callers
    # such as api.refs_edges_from_signatures compose by hand
    "verify": [
        ("operators.verify", "verified_edges"),
        ("operators.verify", "attach_signatures"),
        ("operators.verify", "with_distances"),
    ],
    "components": [
        ("operators.components", "connected_components"),
        ("operators.components", "incremental_components"),
        ("operators.components", "delete_components"),
    ],
    "grouping": [
        ("operators.grouping", "matchset_groups"),
        ("operators.grouping", "cc_groups"),
        ("operators.grouping", "group_stats"),
    ],
    "matchdb": [
        ("operators.matchdb", "remove_falsepos_edges"),
        ("operators.matchdb", "remove_known_matches"),
        ("operators.matchdb", "confirmed_clusters"),
    ],
    "sigstore": [
        ("plans.sigstore", f"PartitionedSignatureStore.{m}")
        for m in ("write_full", "read", "read_for_ids", "upsert", "delete")
    ],
    "checkpoint": [
        ("plans.checkpoint", "CheckpointStore.run_stage"),
        ("plans.checkpoint", "CheckpointStore.write"),
    ],
    "pipeline": [("plans.pipeline", "run_dedup_pipeline")],
    "api": [
        ("api", "search"),
        ("api", "find_edges"),
        ("api", "refs_edges_from_signatures"),
        ("api", "search_incremental"),
        ("api", "search_delete"),
    ],
}

PER_LAYER = ("wall_s", "self_s", "py_cpu_s", "jvm_cpu_s", "calls", "jobs",
             "rows_out", "shuffle_write_mb", "spill_mb")
_UNITS = {"wall_s": "s", "self_s": "s", "py_cpu_s": "s", "jvm_cpu_s": "s",
          "calls": "count", "jobs": "count", "rows_out": "count",
          "shuffle_write_mb": "MB", "spill_mb": "MB"}
_EXTRA_UNITS = {"lsh.candidates_per_doc": "ratio", "verify.edges_per_candidate": "ratio",
                "components.jobs_per_call": "count", "sigstore.bytes_written_mb": "MB",
                "checkpoint.bytes_written_mb": "MB", "trace.overhead_frac": "ratio",
                "trace.coverage_frac": "ratio"}


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in output order."""
    out = {f"{layer}.{m}": _UNITS[m] for layer in LAYERS for m in PER_LAYER}
    out.update(_EXTRA_UNITS)
    return out


@dataclass
class Span:
    id: int
    name: str
    layer: str
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    cpu: CpuSample = CpuSample(0.0, 0.0, 0.0)
    rows_out: int = 0
    rows_in: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, procs: ProcTree):
        self.sc = spark.sparkContext
        self.procs = procs
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._forced: dict[int, tuple[DataFrame, int]] = {}
        self._tag = "bench"

    # -- patching ----------------------------------------------------------

    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for mod_name, attr in targets:
                mod = importlib.import_module(f"{_PKG}.{mod_name}")
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    cls = getattr(mod, cls_name)
                    self._patch(cls, meth, self._wrap(layer, attr, getattr(cls, meth)))
                    continue
                orig = getattr(mod, attr)
                wrapper = self._wrap(layer, attr, orig)
                # every module that imported the function by name
                for name, m in list(sys.modules.items()):
                    if name.startswith(_PKG) and getattr(m, attr, None) is orig:
                        self._patch(m, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if name == "attach_signatures" and args:
                # its pairs are LSH output, such as the band-key join in
                # api.refs_edges_from_signatures: force them in an lsh span
                # of their own, or that join runs, and is timed, in verify
                span = self._open("attach_signatures.pairs", "lsh")
                try:
                    span.rows_out = self._rows(args[0])
                finally:
                    self._close(span)
            span = self._open(name, layer)
            try:
                out = fn(*args, **kwargs)
                span.rows_out = self._force(out)
                if name == "candidate_pairs":
                    span.rows_in = self._rows(args[0] if args else kwargs["signatures"])
                elif name == "verified_edges":
                    span.rows_in = self._rows(args[0] if args else kwargs["pairs"])
            finally:
                self._close(span)
            return out

        return wrapper

    # -- spans -------------------------------------------------------------

    def begin_pass(self, tag: str) -> None:
        self.spans, self._stack, self._tag = [], [], tag

    def end_pass(self) -> None:
        for df, _ in self._forced.values():
            df.unpersist()
        self._forced.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = Span(sid, name, layer, parent.id if parent else None, f"{self._tag}-{sid}")
        if parent:
            parent.children.append(sid)
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(span.group, name)
        span.cpu = self.procs.cpu()
        span.start = time.perf_counter()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.cpu = self.procs.cpu() - span.cpu
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _force(self, out) -> int:
        if isinstance(out, DataFrame):
            return self._rows(out)
        if isinstance(out, tuple) and out and isinstance(out[0], DataFrame):
            return self._rows(out[0])  # candidate_pairs: (pairs, quarantined)
        return 0

    def _rows(self, df: DataFrame) -> int:
        hit = self._forced.get(id(df))
        if hit is None:
            df.persist()
            hit = self._forced[id(df)] = (df, df.count())
        return hit[1]

    # -- metrics -----------------------------------------------------------

    def _group_stats(self) -> dict[str, dict[str, float]]:
        """job group -> jobs, shuffle write and spill bytes of its stages."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = self.sc._gateway
        stages = {}
        it = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0),
                             gw.jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            s = it.next()
            stages[s.stageId()] = (s.shuffleWriteBytes(),
                                   s.memoryBytesSpilled() + s.diskBytesSpilled())
        out: dict[str, dict[str, float]] = {}
        seen: set[int] = set()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if not g.isDefined() or not g.get().startswith(self._tag + "-"):
                continue
            acc = out.setdefault(g.get(), {"jobs": 0, "shuffle": 0.0, "spill": 0.0})
            acc["jobs"] += 1
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in stages and sid not in seen:
                    seen.add(sid)
                    acc["shuffle"] += stages[sid][0]
                    acc["spill"] += stages[sid][1]
        return out

    def layer_metrics(self, pass_wall: float) -> dict[str, float]:
        """Per-layer figures of the spans recorded since ``begin_pass``."""
        groups = self._group_stats()
        out = {k: 0.0 for k in metric_units()}
        by_id = {s.id: s for s in self.spans}
        rows_in = {"candidate_pairs": 0, "verified_edges": 0}
        rows_outs = {"candidate_pairs": 0, "verified_edges": 0}
        top_cc_calls = 0
        for s in self.spans:
            kids = [by_id[c] for c in s.children]
            p = s.layer
            cpu = s.cpu
            for k in kids:
                cpu = cpu - k.cpu
            g = groups.get(s.group, {"jobs": 0, "shuffle": 0.0, "spill": 0.0})
            out[f"{p}.self_s"] += s.wall - sum(k.wall for k in kids)
            out[f"{p}.py_cpu_s"] += cpu.py
            out[f"{p}.jvm_cpu_s"] += cpu.jvm
            out[f"{p}.calls"] += 1
            out[f"{p}.jobs"] += g["jobs"]
            out[f"{p}.shuffle_write_mb"] += g["shuffle"] / 2**20
            out[f"{p}.spill_mb"] += g["spill"] / 2**20
            if s.name in rows_in:
                rows_in[s.name] += s.rows_in
                rows_outs[s.name] += s.rows_out
            # inclusive figures count a layer's outermost span only
            anc, nested = s.parent, False
            while anc is not None:
                if by_id[anc].layer == p:
                    nested = True
                    break
                anc = by_id[anc].parent
            if not nested:
                out[f"{p}.wall_s"] += s.wall
                out[f"{p}.rows_out"] += s.rows_out
                top_cc_calls += p == "components"
        if rows_in["candidate_pairs"]:
            out["lsh.candidates_per_doc"] = rows_outs["candidate_pairs"] / rows_in["candidate_pairs"]
        if rows_in["verified_edges"]:
            out["verify.edges_per_candidate"] = rows_outs["verified_edges"] / rows_in["verified_edges"]
        if top_cc_calls:
            out["components.jobs_per_call"] = out["components.jobs"] / top_cc_calls
        top = sum(s.wall for s in self.spans if s.parent is None)
        out["trace.coverage_frac"] = top / pass_wall if pass_wall > 0 else 0.0
        return out

    def span_records(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
             "start": s.start, "end": s.end, "rows_out": s.rows_out,
             "py_cpu_s": s.cpu.py, "jvm_cpu_s": s.cpu.jvm}
            for s in self.spans
        ]
