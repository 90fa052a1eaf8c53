"""Traced runs: in-memory spans around the engine's layer entry points,
plus per-op Spark job, stage and task counts from Spark's event log.

The wrappers are installed at run time on the names callers resolve: a
class attribute for methods, and every ``icepack.*`` module attribute
that is bound to a wrapped module-level function.  Nothing in the engine
changes.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time
from collections import defaultdict

#: (module, attribute path, span name).  Methods are "Class.method".
ENTRY_POINTS = [
    ("icepack.sql", "IceSQL.sql", "sql.stmt"),
    ("icepack.table", "IceTable.plan_files", "table.plan_files"),
    ("icepack.table", "IceTable.refresh", "table.refresh"),
    ("icepack.table", "IceTable.append", "table.append"),
    ("icepack.table", "IceTable.toDF", "table.scan"),
    ("icepack.table", "IceTable._commit_snapshot", "table.commit"),
    ("icepack.scanplan", "plan_entries_distributed", "scanplan.plan"),
    ("icepack.manifest", "read_manifest", "manifest.read"),
    ("icepack.manifest", "read_manifest_list", "manifest.read"),
    ("icepack.manifest", "write_manifest", "manifest.write"),
    ("icepack.manifest", "write_manifest_list", "manifest.write"),
    ("icepack.manifest", "harvest_stats", "manifest.harvest"),
    ("icepack.metadata", "TableMetadata.loads", "metadata.parse"),
    ("icepack.storage", "LocalStore.read_text", "storage.read"),
    ("icepack.storage", "LocalStore.read_bytes", "storage.read"),
    ("icepack.storage", "LocalStore.replace_text", "storage.write"),
    ("icepack.storage", "LocalStore.write_bytes", "storage.write"),
    ("icepack.storage", "LocalStore.create_exclusive", "storage.cas"),
    ("icepack.dml", "delete", "dml.delete"),
    ("icepack.dml", "update", "dml.update"),
    ("icepack.dml", "merge", "dml.merge"),
    ("icepack.maintenance", "write_deletion_vectors", "dv.consolidate"),
    ("icepack.maintenance", "compact", "maintenance.compact"),
    ("icepack.maintenance", "rewrite_manifests", "maintenance.rewrite_manifests"),
    ("icepack.maintenance", "expire_snapshots", "maintenance.expire"),
    ("icepack.streaming", "write_stream_to_table", "streaming.start"),
]


class Tracer:
    """Span recorder.  A span is (name, start, end, parent index, op id,
    bytes); the parent is the innermost open span of the same thread."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[list] = []
        self.ops: list[dict] = []
        self.cas_conflicts = 0
        self._local = threading.local()
        self._op: int | None = None
        self._lock = threading.Lock()
        self._restore: list[tuple] = []

    # -- ops ---------------------------------------------------------------

    def begin_op(self, kind: str) -> int:
        op_id = len(self.ops)
        self.ops.append({"id": op_id, "kind": kind, "start": time.time(), "end": None})
        self._op = op_id
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(f"op{op_id}", kind)
        return op_id

    def end_op(self) -> None:
        if self._op is not None:
            self.ops[self._op]["end"] = time.time()
        self._op = None
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    # -- spans -------------------------------------------------------------

    def span(self, name: str):
        return _Span(self, name)

    def _open(self, name: str) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                [name, time.time(), None, stack[-1] if stack else None, self._op, 0]
            )
        stack.append(idx)
        return idx

    def _close(self, idx: int, nbytes: int = 0) -> None:
        self._local.stack.pop()
        rec = self.spans[idx]
        rec[2] = time.time()
        rec[5] = nbytes

    # -- instrumentation ---------------------------------------------------

    def install(self) -> None:
        for mod_name, path, span_name in ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            owner_name, _, attr = path.rpartition(".")
            if owner_name:
                owner = getattr(mod, owner_name)
                raw = owner.__dict__[attr]
                fn = raw.__func__ if isinstance(raw, staticmethod) else raw
                wrapped = self._wrap(fn, span_name)
                setattr(
                    owner,
                    attr,
                    staticmethod(wrapped) if isinstance(raw, staticmethod) else wrapped,
                )
                self._restore.append((owner, attr, raw))
                continue
            fn = getattr(mod, attr)
            wrapped = self._wrap(fn, span_name)
            for name, m in list(sys.modules.items()):
                if not name.startswith("icepack") or m is None:
                    continue
                for k, v in list(vars(m).items()):
                    if v is fn:
                        setattr(m, k, wrapped)
                        self._restore.append((m, k, fn))

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._restore):
            setattr(owner, attr, raw)
        self._restore.clear()

    def _wrap(self, fn, span_name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer._open(span_name)
            nbytes = 0
            try:
                out = fn(*args, **kwargs)
                nbytes = _payload_bytes(span_name, args, out)
                return out
            except Exception:
                if span_name == "storage.cas":
                    tracer.cas_conflicts += 1
                raise
            finally:
                tracer._close(idx, nbytes)

        return traced

    # -- reporting ---------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval its children cover."""
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s[3] is not None:
                children[s[3]].append(i)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s[2] is None or s[4] is None:
                continue
            covered = _union([(self.spans[c][1], self.spans[c][2]) for c in children[i]
                              if self.spans[c][2] is not None])
            out[s[0]] += (s[2] - s[1]) - covered
        return dict(out)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "spans": self.spans,
                    "ops": self.ops,
                    "self_s": self.self_times(),
                    **extra,
                },
                fh,
            )


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


class NullTracer:
    """Untraced runs: the same calls, no recording, no job groups."""

    def begin_op(self, kind: str) -> int:
        return -1

    def end_op(self) -> None:
        pass

    def span(self, name: str):
        return _NULL_SPAN


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


def _payload_bytes(span_name: str, args, out) -> int:
    if span_name == "storage.read" and isinstance(out, (str, bytes)):
        return len(out)
    if span_name in ("storage.write", "storage.cas") and len(args) >= 3:
        return len(args[2]) if isinstance(args[2], (str, bytes)) else 0
    if span_name == "metadata.parse" and args and isinstance(args[0], str):
        return len(args[0])
    return 0


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# -- Spark event log -----------------------------------------------------------


def spark_stages_by_op(event_dir: str) -> dict[int, dict]:
    """Per op id (from the ``op<N>`` job group): jobs, completed stages
    with their [submit, complete] intervals in epoch seconds, tasks,
    executor run time and shuffle bytes, read from the uncompressed
    event log in ``event_dir``."""
    stage_op: dict[int, int] = {}
    out: dict[int, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0,
                 "shuffle_bytes": 0, "intervals": []}
    )
    paths = sorted(
        os.path.join(root, f)
        for root, _dirs, files in os.walk(event_dir)
        for f in files
        if not f.startswith("appstatus")  # rolling logs' marker file
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith("op"):
                        continue
                    op = int(group[2:])
                    out[op]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = op
                elif '"SparkListenerStageCompleted"' in line:
                    info = json.loads(line)["Stage Info"]
                    op = stage_op.get(info["Stage ID"])
                    if op is None or "Submission Time" not in info:
                        continue
                    rec = out[op]
                    rec["stages"] += 1
                    rec["tasks"] += info.get("Number of Tasks", 0)
                    rec["intervals"].append(
                        (info["Submission Time"] / 1000.0,
                         info.get("Completion Time", info["Submission Time"]) / 1000.0)
                    )
                    for acc in info.get("Accumulables", []):
                        name, val = acc.get("Name", ""), acc.get("Value", 0)
                        try:
                            val = int(val)
                        except (TypeError, ValueError):
                            continue
                        if name == "internal.metrics.executorRunTime":
                            rec["run_s"] += val / 1000.0
                        elif name in (
                            "internal.metrics.shuffle.write.bytesWritten",
                        ):
                            rec["shuffle_bytes"] += val
    return dict(out)


def driver_gap(op: dict, intervals: list[tuple[float, float]]) -> float:
    """Op wall time minus the union of its stage intervals (clipped to
    the op): time the op spent outside Spark stages."""
    a, b = op["start"], op["end"]
    clipped = [(max(a, s), min(b, e)) for s, e in intervals if e > a and s < b]
    return (b - a) - _union(clipped)
