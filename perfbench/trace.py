"""Spans around the program's public calls, with Spark counters per span.

A traced run wraps the public functions named in ``TARGETS`` (module
attributes, patched for the traced part of the run and restored after).
Each call becomes a span: name, start, end, parent, request id. Every
span runs under its own Spark job group, so the jobs it fired, and the
stages' input, shuffle, spill and executor CPU, are read back from the
status tracker and status store (both answer with the UI disabled).
Spans stay in memory; ``write_spans`` dumps them at the end.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

PKG = "embeddinghub_spark"

# (module under the package, qualified name) of every traced public call
TARGETS = [
    ("catalog", "Catalog.register_file"),
    ("catalog", "Catalog.register_feature"),
    ("catalog", "Catalog.register_label"),
    ("catalog", "Catalog.register_training_set"),
    ("catalog", "Catalog.feature_table"),
    ("catalog", "Catalog.training_set_dataframe"),
    ("operators.pit", "build_training_set"),
    ("operators.split", "train_test_split"),
    ("operators.materialize", "materialize"),
    ("operators.materialize", "materialize_refresh"),
    ("serving.online", "OnlineStore.materialize_feature"),
    ("serving.online", "OnlineStore.features"),
    ("serving.spaces", "Space.load_dataframe"),
    ("serving.spaces", "Space.build_ann_index"),
    ("serving.spaces", "Space.get"),
    ("serving.spaces", "Space.set"),
    ("serving.spaces", "Space.nearest_neighbor"),
    ("sources.delta_log", "write_delta"),
    ("sources.delta_log", "merge_delta"),
    ("sources.delta_log", "delete_delta"),
    ("sources.delta_log", "read_delta"),
    ("sources.delta_log", "compact_delta"),
    ("sources.iceberg_write", "write_iceberg"),
    ("sources.iceberg_write", "merge_iceberg"),
    ("sources.iceberg_write", "delete_iceberg"),
    ("sources.iceberg_write", "compact_iceberg"),
    ("sources.iceberg_meta", "read_iceberg"),
    ("functions.dedup", "dedup_corpus"),
    ("functions.dedup", "dedup_clusters"),
    ("functions.dedup", "minhash_duplicate_pairs"),
    ("functions.dedup", "connected_components"),
    ("functions.dedup", "semantic_dedup"),
    ("functions.vector", "assign_ivf_cells"),
]

COUNTERS = ("jobs", "stages", "input_bytes", "shuffle_write_bytes",
            "spill_bytes", "executor_cpu_s")


@dataclass
class Span:
    sid: int
    name: str
    phase: str  # request | call | plan | exec
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    py_cpu_s: float = 0.0
    failed: bool = False
    counters: dict = field(default_factory=dict)  # this span's own job group


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping (start, end) intervals."""
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


def self_times(spans) -> dict[int, float]:
    """Span id → duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            kids.setdefault(sp.parent, []).append(sp)
    out = {}
    for sp in spans:
        covered = union_length(
            (max(c.start, sp.start), min(c.end, sp.end)) for c in kids.get(sp.sid, ())
        )
        out[sp.sid] = (sp.end - sp.start) - covered
    return out


class Tracer:
    """Records spans while ``enabled``; a disabled tracer costs one check."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.extra: dict[str, float] = {}  # counts measured outside spans
        self._stack: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        self._sc = sc

    def record(self, name: str, start: float, end: float) -> None:
        """A finished top-level span timed by the caller (session start)."""
        self.spans.append(Span(len(self.spans), name, "call", start, None, None, end))

    def add(self, metric: str, value: float) -> None:
        self.extra[metric] = self.extra.get(metric, 0.0) + value

    def request(self, kind: str):
        """Span of one benchmark operation; its calls share its id."""
        return self.span(kind, "request") if self.enabled else nullcontext()

    @contextmanager
    def span(self, name: str, phase: str = "call"):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, phase, 0.0,
                  parent.sid if parent else None,
                  parent.request if parent else None)
        if phase == "request":
            sp.request = sp.sid
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.sid)
        cpu0 = time.process_time()
        sp.start = time.perf_counter()
        try:
            yield sp
        except BaseException:
            sp.failed = True
            raise
        finally:
            sp.end = time.perf_counter()
            sp.py_cpu_s = time.process_time() - cpu0
            self._stack.pop()
            self._set_group(parent.sid if parent else None)
            if parent is None:
                self._read_counters(sp)

    def action(self, name: str, df, fn):
        """Run ``fn(df)``; traced, first force the optimized and physical
        plan (``plan`` phase), then time the action (``exec`` phase)."""
        if self.enabled:
            with self.span(name, "plan"):
                df._jdf.queryExecution().executedPlan()
        with self.span(name, "exec") if self.enabled else nullcontext():
            return fn(df)

    def _set_group(self, sid) -> None:
        if self._sc is None:
            return
        if sid is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"perfbench-{sid}", "perfbench span")

    def _read_counters(self, top: Span) -> None:
        """Fill the Spark counters of ``top`` and every span under it."""
        if self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()  # job and stage events applied
        tracker, store = self._sc.statusTracker(), jsc.statusStore()
        for sp in self.spans[top.sid:]:
            c = dict.fromkeys(COUNTERS, 0)
            stage_ids = set()
            for jid in tracker.getJobIdsForGroup(f"perfbench-{sp.sid}"):
                c["jobs"] += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in stage_ids:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["input_bytes"] += sd.inputBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            sp.counters = c

    def write_spans(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for sp in self.spans:
                fh.write(json.dumps(asdict(sp)) + "\n")


@contextmanager
def instrumented(tracer: Tracer):
    """Patch every target so each call runs inside a span; restore on exit."""
    saved = []
    for mod_name, qual in TARGETS:
        owner = importlib.import_module(f"{PKG}.{mod_name}")
        *path, attr = qual.split(".")
        for p in path:
            owner = getattr(owner, p)
        orig = owner.__dict__[attr]
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, f"{mod_name}.{qual}", orig))
    tracer.enabled = True
    try:
        yield tracer
    finally:
        tracer.enabled = False
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def _wrap(tracer: Tracer, name: str, fn):
    # the exact and the approximate nearest-neighbour paths are different
    # layers (Spark jobs vs the in-process HNSW), so they are traced apart
    split_nn = name.endswith(".nearest_neighbor")

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        n = name
        if split_nn:
            n += "-approx" if kwargs.get("approximate") else "-exact"
        with tracer.span(n):
            return fn(*args, **kwargs)

    return wrapper


def layer_metrics(tracer: Tracer) -> dict[str, float]:
    """``<module>.<function>.<measure>`` totals over all recorded spans.

    Times and counters are inclusive of nested calls; a call nested in a
    call of the same name is counted once. ``self_s`` excludes children.
    """
    spans = tracer.spans
    by_id = {sp.sid: sp for sp in spans}
    selfs = self_times(spans)

    def has_same_name_ancestor(sp) -> bool:
        p = sp.parent
        while p is not None:
            if by_id[p].name == sp.name:
                return True
            p = by_id[p].parent
        return False

    inclusive = {sp.sid: dict(sp.counters) for sp in spans}
    for sp in reversed(spans):  # children are recorded after their parent
        if sp.parent is not None:
            acc = inclusive[sp.parent]
            for k, v in inclusive[sp.sid].items():
                acc[k] = acc.get(k, 0) + v

    out: dict[str, float] = {}

    def bump(key, v):
        out[key] = out.get(key, 0) + v

    for sp in spans:
        if sp.phase == "request":
            continue
        dur = sp.end - sp.start
        if sp.phase == "call":
            bump(f"{sp.name}.calls", 1)
            bump(f"{sp.name}.self_s", selfs[sp.sid])
            bump(f"{sp.name}.failed", int(sp.failed))
        if has_same_name_ancestor(sp):
            continue
        if sp.phase == "call":
            bump(f"{sp.name}.s", dur)
            bump(f"{sp.name}.build_s", dur)
            bump(f"{sp.name}.py_cpu_s", sp.py_cpu_s)
        else:
            bump(f"{sp.name}.{sp.phase}_s", dur)
        for k, v in inclusive[sp.sid].items():
            bump(f"{sp.name}.{k}", v)

    for sp in spans:
        for k, v in sp.counters.items():
            bump(f"spark.{k}", v)
        if sp.parent is None:
            bump("driver.py_cpu_s", sp.py_cpu_s)
    out.update(tracer.extra)
    return out
