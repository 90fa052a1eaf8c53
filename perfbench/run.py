"""icepack benchmark runner.

    python3 perfbench/run.py --workload {analytics,lake_reads,lake_writes}
        --seed N --seconds S --trace {0,1}

One Python process, one client thread, closed loop: each statement
waits for the previous one.  Spark runs on ``local[$(nproc)]``.  The
run generates its inputs from ``--seed``, sets the workload up several
times (``setup_s`` is the median), measures for ``--seconds``, checks
the outputs outside the timed region, and prints two JSON lines: a run
record (seed, host, table states, sample counts, lake-only metrics) and,
last, the result ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reruns the
same workload with spans and Spark's event log on and reports the
per-layer metrics (see README.md).

Everything the run writes lives in one directory under
``.perfbench/`` in the measured tree, removed at exit; the traced run also
leaves its spans in ``.perfbench/trace-<workload>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPEATS = 3
WORKLOADS = ("analytics", "lake_reads", "lake_writes")



def metric_specs() -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(end-to-end, per-layer) metric names and units, from BENCHMARK.json
    next to this directory: a run prints exactly these."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return tuple(
        [(m["name"], m["unit"]) for m in bench[key]] for key in ("end_to_end", "per_layer")
    )


class Context:
    """What a workload gets: the session, its run directory, the seed
    and the tracer (a no-op one in untraced runs)."""

    def __init__(self, spark, run_dir: str, seed: int, tracer):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.tracer = tracer


class Sample:
    __slots__ = ("kind", "label", "seconds", "ok", "rows", "error")

    def __init__(self, kind, label, seconds, ok, rows=0, error=None):
        self.kind, self.label, self.seconds = kind, label, seconds
        self.ok, self.rows, self.error = ok, rows, error


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def _vm_hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _children(pid: int) -> list[int]:
    """Live descendants of ``pid`` (from /proc)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(d)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def _head(root: str) -> str:
    try:
        return subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build_session(run_dir: str, cpus: int, trace: bool):
    """The engine's own session (``icepack.session.get_session``), with
    only the scratch locations pinned inside the run directory (and, in
    a traced run, the event log turned on), passed to the JVM launch."""
    from icepack.session import get_session

    jtmp = os.path.join(run_dir, "jvm-tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(jtmp)
    os.makedirs(local)
    # the environment variable wins over spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = local
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
        # no progress bar on stderr (spark-submit turns it on for shells)
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "eventlog")
        os.makedirs(events)
        confs |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": events,
        }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()] + ["pyspark-shell"]
    )
    return get_session(cpus=cpus)


def jvm_pid() -> int | None:
    """The driver JVM's pid (spark-submit may or may not exec it)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return None
    for pid in [proc.pid] + _children(proc.pid):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def reset_peak_rss() -> None:
    """Restart this process's VmHWM count at its current RSS."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - the gateway may already be gone
        pass
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def reap_children() -> None:
    """Stop and wait for anything this process started that is still
    running (Python workers of the JVM, mostly)."""
    deadline = time.time() + 30
    while True:
        kids = _children(os.getpid())
        if not kids:
            return
        sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
        for k in kids:
            try:
                os.kill(k, sig)
            except ProcessLookupError:
                pass
        for k in kids:
            try:
                os.waitpid(k, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.2)
        if time.time() > deadline + 10:
            return


def load_workload(name: str, ctx: Context):
    if name == "analytics":
        from analytics import Analytics

        return Analytics(ctx)
    if name == "lake_reads":
        from lake_reads import LakeReads

        return LakeReads(ctx)
    from lake_writes import LakeWrites

    return LakeWrites(ctx)


def timed_loop(wl, tracer, seconds: float) -> tuple[list[Sample], float]:
    """Run the workload's ops until ``seconds`` have passed and the
    workload's current block is complete.  Returns the samples and the
    busy time (sum of op durations: benchmark bookkeeping between ops is
    excluded)."""
    samples: list[Sample] = []
    start = time.perf_counter()
    for op in wl.ops():
        if op.block_start and time.perf_counter() - start >= seconds:
            break
        tracer.begin_op(op.kind)
        t0 = time.perf_counter()
        err = None
        try:
            out = op.fn()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            out, err = None, f"{op.label}: {type(e).__name__}: {e}"
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        tracer.end_op()
        rows = 0
        if err is None:
            rows = wl.after(op, out) or 0
        samples.append(Sample(op.kind, op.label, dt, err is None, rows, err))
    busy = sum(s.seconds for s in samples)
    return samples, busy


def end_to_end(samples, busy, setup, py_rss_mb, bytes_per_row):
    """(gated metrics, recorded-only latencies, sample counts)"""
    from stats import beyond, percentile

    reads = [s.seconds for s in samples if s.kind == "read" and s.ok]
    ops = [s.seconds for s in samples if s.kind != "maint" and s.ok]
    n_ops = sum(1 for s in samples if s.kind != "maint")
    metrics = {
        "setup_s": statistics.median(setup),
        "op_p50_s": percentile(ops, 0.5),
        "ops_per_s": n_ops / busy if busy else 0.0,
        "py_peak_rss_mb": py_rss_mb,
        "bytes_per_row": bytes_per_row,
    }
    # recorded, not gated: lake_writes has two read-backs per block, too
    # few for a steady median, and a p90 is valid only with at least 10
    # samples beyond it
    latencies = {
        "read_p50_s": percentile(reads, 0.5),
        "read_p90_s": percentile(reads, 0.9),
        "op_p90_s": percentile(ops, 0.9),
        "read_p90_valid": beyond(len(reads), 0.9) >= 10,
        "op_p90_valid": beyond(len(ops), 0.9) >= 10,
    }
    counts = {
        "setup_s": len(setup),
        "reads": len(reads),
        "ops": len(ops),
        "ops_per_s": n_ops,
    }
    return metrics, latencies, counts


def per_layer(tracer, samples, busy, event_dir, wl) -> dict[str, float]:
    """Every per-layer metric; 0 for a layer the workload does not use."""
    from spans import driver_gap, spark_stages_by_op
    from stats import percentile

    n_ops = max(1, len(tracer.ops))
    spans = [s for s in tracer.spans if s[4] is not None and s[2] is not None]

    def total(name):
        return sum(s[2] - s[1] for s in spans if s[0] == name)

    def count(name):
        return sum(1 for s in spans if s[0] == name)

    def nbytes(name):
        return sum(s[5] for s in spans if s[0] == name)

    commits = max(1, count("table.commit"))
    m = {
        "sql.stmt_build_s": total("sql.stmt") / n_ops,
        "table.plan_files_s": total("table.plan_files") / n_ops,
        "table.refresh_s": total("table.refresh") / n_ops,
        "table.append_s": total("table.append") / n_ops,
        "scanplan.distributed_plans": count("scanplan.plan") / n_ops,
        "scanplan.plan_s": total("scanplan.plan") / n_ops,
        "manifest.reads_per_op": count("manifest.read") / n_ops,
        "manifest.read_s": total("manifest.read") / n_ops,
        "manifest.writes_per_commit": count("manifest.write") / commits,
        "manifest.write_s": total("manifest.write") / n_ops,
        "manifest.harvest_s": total("manifest.harvest") / n_ops,
        "metadata.parse_s": total("metadata.parse") / n_ops,
        "metadata.json_bytes": nbytes("metadata.parse") / max(1, count("metadata.parse")),
        "storage.reads_per_op": count("storage.read") / n_ops,
        "storage.writes_per_op": (count("storage.write") + count("storage.cas")) / n_ops,
        "storage.bytes_read": nbytes("storage.read") / n_ops,
        "storage.bytes_written": (nbytes("storage.write") + nbytes("storage.cas")) / n_ops,
        "storage.cas_attempts": count("storage.cas") / n_ops,
        "storage.cas_conflicts": tracer.cas_conflicts / n_ops,
        "dml.delete_s": total("dml.delete") / n_ops,
        "dml.update_s": total("dml.update") / n_ops,
        "dml.merge_s": total("dml.merge") / n_ops,
        "dv.consolidate_s": total("dv.consolidate") / n_ops,
        "maintenance.compact_s": total("maintenance.compact") / n_ops,
        "maintenance.rewrite_manifests_s": total("maintenance.rewrite_manifests") / n_ops,
        "maintenance.expire_s": total("maintenance.expire") / n_ops,
        "datasource.write_s": total("datasource.write") / n_ops,
        "streaming.run_s": total("streaming.run") / n_ops,
        "queries.build_s": total("queries.build") / n_ops,
        "queries.exec_s": total("queries.exec") / n_ops,
    }
    m.update(wl.layer_counts())
    stages = spark_stages_by_op(event_dir)
    ops = [o for o in tracer.ops if o["end"] is not None]
    m["spark.jobs_per_op"] = sum(r["jobs"] for r in stages.values()) / n_ops
    m["spark.stages_per_op"] = sum(r["stages"] for r in stages.values()) / n_ops
    m["spark.tasks_per_op"] = sum(r["tasks"] for r in stages.values()) / n_ops
    m["spark.executor_run_s_per_op"] = sum(r["run_s"] for r in stages.values()) / n_ops
    m["spark.shuffle_bytes_per_op"] = sum(r["shuffle_bytes"] for r in stages.values()) / n_ops
    m["spark.driver_gap_s"] = sum(
        driver_gap(o, stages.get(o["id"], {}).get("intervals", [])) for o in ops
    ) / n_ops
    reads = [s.seconds for s in samples if s.kind == "read" and s.ok]
    m["trace.read_p50_s"] = percentile(reads, 0.5)
    m["trace.ops_per_s"] = sum(1 for s in samples if s.kind != "maint") / busy if busy else 0.0
    return m


def execute(args, run_dir: str) -> tuple[dict, dict]:
    from spans import NullTracer, Tracer

    end_to_end_specs, per_layer_specs = metric_specs()

    cpus = _cpus()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "head": _head(args.root),
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": list(os.getloadavg()),
    }
    spark = build_session(run_dir, cpus, bool(args.trace))
    tracer = NullTracer()
    try:
        if args.trace:
            tracer = Tracer(spark)
            # import every instrumented module first, so name-bound
            # aliases exist when the wrappers are installed
            import icepack.datasource  # noqa: F401
            import icepack.dv  # noqa: F401
            import icepack.scanplan  # noqa: F401
            import icepack.specio  # noqa: F401
            import icepack.sql  # noqa: F401
            import icepack.streaming  # noqa: F401

            tracer.install()
        ctx = Context(spark, run_dir, args.seed, tracer)
        wl = load_workload(args.workload, ctx)
        t0 = time.perf_counter()
        wl.prepare()
        record["prepare_s"] = time.perf_counter() - t0
        # the driver's peak counts from here: generating the inputs is
        # the benchmark's work, not the engine's
        reset_peak_rss()
        jvm = jvm_pid()
        setup = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(i, last=i == SETUP_REPEATS - 1)
            setup.append(time.perf_counter() - t0)
        record["setup_samples_s"] = setup
        t0 = time.perf_counter()
        wl.warm()
        record["warm_s"] = time.perf_counter() - t0
        record["tables_start"] = wl.table_states()
        samples, busy = timed_loop(wl, tracer, args.seconds)
        # read before the checks, whose oracles and models are the
        # benchmark's.  The JVM's peak is recorded, not gated: under the
        # engine's 8g heap cap it follows the garbage collector's heap
        # sizing, which varies by up to a quarter between runs
        py_rss_mb = _vm_hwm_mb("self")
        jvm_rss_mb = _vm_hwm_mb(jvm) if jvm else 0.0
        record["peak_rss_mb"] = {
            "python": py_rss_mb, "jvm": jvm_rss_mb, "total": py_rss_mb + jvm_rss_mb,
        }
        record["tables_end"] = wl.table_states()
        t0 = time.perf_counter()
        checked, mismatches = wl.check()
        record["check_s"] = time.perf_counter() - t0
        record["busy_s"] = busy
        record["ops_by_label"] = _by_label(samples)
        record["workload_metrics"] = wl.extra_metrics(samples, busy)
        bytes_per_row = wl.bytes_per_row()
        if args.trace:
            tracer.uninstall()
    finally:
        stop_session(spark)
        reap_children()
    metrics, latencies, counts = end_to_end(samples, busy, setup, py_rss_mb, bytes_per_row)
    failed_ops = [s.error for s in samples if not s.ok]
    attempted = len(samples) + checked
    failed = len(failed_ops) + len(mismatches)
    record["error_rate"] = failed / attempted if attempted else 1.0
    record["errors"] = (failed_ops + mismatches)[:10]
    record["sample_counts"] = counts
    record["end_to_end"] = metrics
    record["latencies"] = latencies
    record["loadavg_after"] = list(os.getloadavg())
    if args.trace:
        event_dir = os.path.join(run_dir, "eventlog")
        layer = per_layer(tracer, samples, busy, event_dir, wl)
        out = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in per_layer_specs}
        record["traced_end_to_end"] = metrics
        tracer.dump(
            os.path.join(args.root, ".perfbench", f"trace-{args.workload}.json"),
            {"record": record},
        )
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in end_to_end_specs}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": out,
    }
    return record, result


def _by_label(samples: list[Sample]) -> dict:
    groups: dict[str, list[float]] = {}
    for s in samples:
        groups.setdefault(s.label, []).append(s.seconds)
    return {k: {"n": len(v), "median_s": statistics.median(v)} for k, v in groups.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="also append the run record and result to this JSONL file")
    ap.add_argument(
        "--root",
        default=os.path.dirname(HERE),
        help="tree holding the icepack package to measure (default: this checkout)",
    )
    args = ap.parse_args(argv)
    started = time.perf_counter()
    # a terminated run still stops Spark and removes its run directory;
    # a second SIGTERM must not cut that clean-up short
    def _terminate(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        sys.exit(143)

    signal.signal(signal.SIGTERM, _terminate)
    args.root = os.path.abspath(args.root)
    if not os.path.isfile(os.path.join(args.root, "icepack", "__init__.py")):
        print(f"perfbench: no icepack package under {args.root}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, args.root]
    state_dir = os.path.join(args.root, ".perfbench")
    os.makedirs(state_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=state_dir)
    # everything that asks for a temp dir (the engine's package zip,
    # Python workers) lands in the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    try:
        record, result = execute(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record["wall_s"] = time.perf_counter() - started
    if args.out:
        with open(args.out, "a") as fh:
            fh.write(json.dumps({"record": record, "result": result}) + "\n")
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
