"""Pieces the workloads share: the op record, row comparison, table-state
snapshots and QUERY_HISTORY ratios."""

from __future__ import annotations

import datetime
import decimal
import math
import os
from typing import Callable, NamedTuple


class Op(NamedTuple):
    """One timed statement.  ``kind`` is read, write or maint; the loop
    only stops before an op with ``block_start`` set, so each workload
    keeps its mix in whole blocks."""

    kind: str
    label: str
    fn: Callable
    block_start: bool = False
    meta: object = None


def cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.replace(tzinfo=None)
    if isinstance(v, (list, tuple)):
        return tuple(cell(x) for x in v)
    if hasattr(v, "tolist"):
        return cell(v.tolist())
    return v


def normalize(rows) -> list[tuple]:
    """Order-insensitive canonical form of a result."""
    out = [tuple(cell(x) for x in r) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def close(x, y) -> bool:
    if isinstance(x, float) or isinstance(y, float):
        if isinstance(x, (int, float)) and isinstance(y, (int, float)):
            return math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(x, tuple) and isinstance(y, tuple):
        return len(x) == len(y) and all(close(a, b) for a, b in zip(x, y))
    return x == y or str(x) == str(y)


def rows_equal(a, b) -> bool:
    """Same multiset of rows, floats to 1e-9 relative / 1e-6 absolute."""
    na, nb = normalize(a), normalize(b)
    return len(na) == len(nb) and all(
        len(ra) == len(rb) and all(close(x, y) for x, y in zip(ra, rb))
        for ra, rb in zip(na, nb)
    )


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def table_state(table) -> dict:
    """Manifests, live data / delete / DV files and the planner lane a
    scan of the current snapshot takes (recorded, never asserted)."""
    snap = table.meta.current_snapshot
    if snap is None:
        return {"manifests": 0, "data_files": 0, "delete_files": 0, "dv_files": 0}
    deletes = table.live_files(content="deletes")
    return {
        "snapshots": len(table.meta.snapshots),
        "manifests": len(table._read_mlist(snap.manifest_list)),
        "data_files": len(table.live_files()),
        "delete_files": sum(1 for d in deletes if d.content != "deletion-vectors"),
        "dv_files": sum(1 for d in deletes if d.content == "deletion-vectors"),
        "lane": "distributed" if table._use_distributed_planner(snap) else "driver",
        "bytes": dir_bytes(table.location),
    }


def history_ratios(ice, mark: int, totals: tuple[int, int]) -> dict:
    """Result-cache hits and files / bytes scanned vs total, from the
    session's QUERY_HISTORY rows of the timed SELECTs.  A scan whose row
    carries no total (the distributed planner reports none) counts
    against ``totals``, the current snapshot's live files and bytes."""
    rows = [h for h in ice._history[mark:] if h[2] == "SELECT"]
    scans = [h for h in rows if h[6] is not None]
    hits = sum(1 for h in rows if h[11])
    fs = sum(h[6] for h in scans)
    ft = sum(h[7] if h[7] else totals[0] for h in scans)
    bs = sum(h[8] or 0 for h in scans)
    bt = sum(h[9] if h[9] else totals[1] for h in scans)
    return {
        "sql.result_cache_hit_ratio": hits / len(rows) if rows else 0.0,
        "table.files_scanned_ratio": fs / ft if ft else 0.0,
        "table.bytes_scanned_ratio": bs / bt if bt else 0.0,
    }
