"""Per-layer measurement: the metric list, the layer map, the Spark event
log reader and the Spark-free fold harness.

Layers are named after the modules a keyed estimation job crosses. Two
sources feed them: timers in this benchmark around calls into each layer's
public functions, and the Spark event log (Spark's own per-node SQL metrics
and task metrics, attributed to the benchmark's jobs through job groups).
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
import zlib

import numpy as np

OPS = ("lkf", "llt", "gmm")

# (name, unit, better) in the order BENCHMARK.json lists them. Seconds,
# counts and bytes are per round (one job of each operator) on the batch
# workloads and per trigger on the streaming one. A metric a workload does
# not exercise reads 0.
PER_LAYER = [
    ("sources.input_s", "s", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.bytes_read", "bytes", "lower"),
    ("base.transform_s", "s", "lower"),
    ("base.transform_jobs", "count", "lower"),
    ("base.buckets", "count", "higher"),
    ("base.bucket_rows_max_frac", "ratio", "lower"),
    ("exchange.write_s", "s", "lower"),
    ("exchange.fetch_wait_s", "s", "lower"),
    ("exchange.bytes", "bytes", "lower"),
    ("sort.s", "s", "lower"),
    ("sort.spill_bytes", "bytes", "lower"),
    ("python.boot_s", "s", "lower"),
    ("python.init_s", "s", "lower"),
    ("python.run_s", "s", "lower"),
    ("python.bytes_sent", "bytes", "lower"),
    ("python.bytes_received", "bytes", "lower"),
    ("fold.s", "s", "lower"),
    ("fold.max_bucket_s", "s", "lower"),
    ("fold.rows_per_s", "1/s", "higher"),
    ("fold.steps_max", "count", "lower"),
    ("fold.wall_share", "ratio", "lower"),
]
for _op in OPS:
    PER_LAYER += [
        (f"op.{_op}.s", "s", "lower"),
        (f"op.{_op}.engine", "code", "lower"),
        (f"op.{_op}.vectorized", "flag", "higher"),
        (f"op.{_op}.reassembly_s", "s", "lower"),
        (f"op.{_op}.transform_jobs", "count", "lower"),
        (f"op.{_op}.python_tasks", "count", "higher"),
    ]
PER_LAYER += [
    ("state.rows_total", "count", "lower"),
    ("state.memory_bytes", "bytes", "lower"),
    ("state.commit_ms", "ms", "lower"),
    ("state.update_ms", "ms", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("scheduler.driver_s", "s", "lower"),
    ("unattributed_frac", "ratio", "lower"),
    ("memory.jvm_peak_mb", "MB", "lower"),
    ("memory.python_peak_mb", "MB", "lower"),
    ("trace.rows_per_s", "1/s", "higher"),
    ("host.nproc", "count", "higher"),
    ("host.ram_mb", "MB", "higher"),
    ("host.numpy_kernel_s", "s", "lower"),
    ("host.spark_job_s", "s", "lower"),
]

# layer -> its metrics, the end-to-end metrics it should move, the workload
# that exercises it, and the workloads on which it should not move
LAYER_MAP = {
    "sources": {
        "metrics": ["sources.input_s", "sources.scan_s", "sources.bytes_read"],
        "moves": ["rows_per_s"],
        "where": ["batch_many_models"],
        "not": [],
    },
    "operators.base": {
        "metrics": ["base.transform_s", "base.transform_jobs", "base.buckets",
                    "base.bucket_rows_max_frac"],
        "moves": ["rows_per_s"],
        "where": ["batch_many_models"],
        "not": ["stream_keyed_state"],
    },
    "spark shuffle under base": {
        "metrics": ["exchange.write_s", "exchange.fetch_wait_s", "exchange.bytes",
                    "sort.s", "sort.spill_bytes"],
        "moves": ["rows_per_s"],
        "where": ["batch_many_models"],
        "not": [],
    },
    "python boundary": {
        "metrics": ["python.boot_s", "python.init_s", "python.run_s",
                    "python.bytes_sent", "python.bytes_received"],
        "moves": ["rows_per_s"],
        "where": ["batch_many_models"],
        "not": [],
    },
    "operators.vectorized (fold, no Spark)": {
        "metrics": ["fold.s", "fold.max_bucket_s", "fold.rows_per_s", "fold.steps_max",
                    "fold.wall_share"],
        "moves": ["rows_per_s"],
        "where": ["batch_many_models"],
        "not": ["stream_keyed_state"],
    },
    "operators.kalman / mixture": {
        "metrics": [f"op.{o}.{m}" for o in OPS
                    for m in ("s", "engine", "vectorized", "reassembly_s",
                              "transform_jobs", "python_tasks")],
        "moves": ["rows_per_s"],
        "where": ["batch_many_models"],
        "not": [],
    },
    "streaming state (base streaming path)": {
        "metrics": ["state.rows_total", "state.memory_bytes", "state.commit_ms",
                    "state.update_ms", "stream.add_batch_ms", "stream.planning_ms",
                    "stream.wal_commit_ms"],
        "moves": ["trigger_s_p50", "trigger_s_tail", "rows_per_s"],
        "where": ["stream_keyed_state"],
        "not": ["batch_many_models"],
    },
    "scheduler": {
        "metrics": ["spark.jobs", "spark.tasks", "spark.task_run_s", "spark.task_cpu_s",
                    "spark.gc_s", "scheduler.driver_s", "unattributed_frac",
                    "memory.jvm_peak_mb", "memory.python_peak_mb"],
        "moves": ["rows_per_s", "setup_s"],
        "where": ["batch_many_models", "stream_keyed_state"],
        "not": [],
    },
}


# -- Spark event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages and tasks from an uncompressed event log directory."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    jobs, stages, tasks = {}, {}, []
    names, driver = {}, {}  # SQL metric accumulator id -> name; per-execution driver updates
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "execution": props.get("spark.sql.execution.id"),
                        "start": ev["Submission Time"],
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "tasks": info["Number of Tasks"],
                        "start": info.get("Submission Time", 0),
                        "end": info.get("Completion Time", 0),
                    }
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    acc = {}
                    for a in ev["Task Info"].get("Accumulables", []):
                        try:
                            acc[a["Name"]] = acc.get(a["Name"], 0) + int(a["Update"])
                        except (KeyError, TypeError, ValueError):
                            pass
                    tasks.append((ev["Stage ID"], ev["Task Metrics"], acc))
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _metric_names(ev["sparkPlanInfo"], names)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    upd = driver.setdefault(str(ev["executionId"]), {})
                    for acc_id, value in ev["accumUpdates"]:
                        upd[acc_id] = value
    files_read = {
        ex: sum(v for a, v in upd.items() if names.get(a) == "size of files read")
        for ex, upd in driver.items()
    }
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "files_read": files_read}


def _metric_names(node: dict, names: dict) -> None:
    for m in node.get("metrics", []):
        names[m["accumulatorId"]] = m["name"]
    for child in node.get("children", []):
        _metric_names(child, names)


def aggregate(log: dict, job_ids) -> dict:
    """Sum Spark's task and SQL metrics over the stages of ``job_ids`` and
    split each stage's wall time into named layers and a remainder.

    A stage's wall is shared out in proportion to its tasks' summed time per
    layer; what the named layers do not cover is ``unattributed_ms``."""
    job_ids = set(job_ids)
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"] if s in log["stages"]}
    t = dict.fromkeys(
        ["run_ms", "cpu_ns", "gc_ms", "scan_ms", "write_ns", "shuffle_bytes",
         "fetch_ms", "sort_ms", "spill", "py_boot_ms", "py_init_ms", "py_run_ms",
         "py_sent", "py_recv", "tasks", "stage_ms", "unattributed_ms"], 0)
    per_stage = {}
    for sid, m, acc in log["tasks"]:
        if sid not in stage_ids:
            continue
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        row = {
            "run_ms": m.get("Executor Run Time", 0),
            "cpu_ns": m.get("Executor CPU Time", 0),
            "gc_ms": m.get("JVM GC Time", 0),
            "scan_ms": acc.get("scan time", 0),
            "write_ns": sw.get("Shuffle Write Time", 0),
            "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
            "fetch_ms": sr.get("Fetch Wait Time", 0),
            "sort_ms": acc.get("sort time", 0),
            "spill": acc.get("spill size", 0),
            "py_boot_ms": acc.get("time to start Python workers", 0),
            "py_init_ms": acc.get("time to initialize Python workers", 0),
            "py_run_ms": acc.get("time to run Python workers", 0),
            "py_sent": acc.get("data sent to Python workers", 0),
            "py_recv": acc.get("data returned from Python workers", 0),
            "tasks": 1,
        }
        ps = per_stage.setdefault(sid, dict.fromkeys(row, 0))
        for k, v in row.items():
            ps[k] += v
            t[k] += v
    for sid, ps in per_stage.items():
        st = log["stages"][sid]
        wall = max(0, st["end"] - st["start"])
        t["stage_ms"] += wall
        # Spark's Python init and run timers overlap, so init is reported
        # but not added
        named = (ps["scan_ms"] + ps["write_ns"] / 1e6 + ps["fetch_ms"] + ps["sort_ms"]
                 + ps["py_boot_ms"] + ps["py_run_ms"] + ps["gc_ms"])
        if ps["run_ms"] > 0:
            t["unattributed_ms"] += wall * max(0.0, 1.0 - named / ps["run_ms"])
    t["jobs"] = len(job_ids)
    # Spark's task input metrics miss local parquet reads; the scan node's
    # driver-side "size of files read" does not
    executions = {log["jobs"][j]["execution"] for j in job_ids} - {None}
    t["bytes_read"] = sum(log["files_read"].get(str(e), 0) for e in executions)
    return t


def jobs_in_groups(log: dict, prefix: str) -> list:
    return [j for j, v in log["jobs"].items() if (v["group"] or "").startswith(prefix)]


def jobs_between(log: dict, start_ms: float, end_ms: float) -> list:
    return [j for j, v in log["jobs"].items() if start_ms <= v["start"] <= end_ms]


def spark_layers(t: dict, per: float) -> dict:
    """Event-log totals as per-layer metrics, divided by ``per`` rounds or
    triggers."""
    return {
        "sources.scan_s": t["scan_ms"] / 1e3 / per,
        "sources.bytes_read": t["bytes_read"] / per,
        "exchange.write_s": t["write_ns"] / 1e9 / per,
        "exchange.fetch_wait_s": t["fetch_ms"] / 1e3 / per,
        "exchange.bytes": t["shuffle_bytes"] / per,
        "sort.s": t["sort_ms"] / 1e3 / per,
        "sort.spill_bytes": t["spill"] / per,
        "python.boot_s": t["py_boot_ms"] / 1e3 / per,
        "python.init_s": t["py_init_ms"] / 1e3 / per,
        "python.run_s": t["py_run_ms"] / 1e3 / per,
        "python.bytes_sent": t["py_sent"] / per,
        "python.bytes_received": t["py_recv"] / per,
        "spark.jobs": t["jobs"] / per,
        "spark.tasks": t["tasks"] / per,
        "spark.task_run_s": t["run_ms"] / 1e3 / per,
        "spark.task_cpu_s": t["cpu_ns"] / 1e9 / per,
        "spark.gc_s": t["gc_ms"] / 1e3 / per,
    }


# -- spans -----------------------------------------------------------------------


class Spans:
    """In-memory spans (name, start, end, parent); written out at the end."""

    def __init__(self):
        self.items = []

    def open(self, name: str, parent: int | None = None, **attrs) -> int:
        self.items.append({"name": name, "parent": parent, "start": time.time(),
                           "end": None, **attrs})
        return len(self.items) - 1

    def close(self, sid: int) -> float:
        s = self.items[sid]
        s["end"] = time.time()
        return s["end"] - s["start"]

    def self_times(self) -> dict:
        """Per span name: total duration minus the part its children cover
        (children of one span do not overlap here)."""
        child = {}
        for s in self.items:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = {}
        for i, s in enumerate(self.items):
            if s["end"] is None:
                continue
            name = s["name"].split(":")[0]
            out[name] = out.get(name, 0.0) + (s["end"] - s["start"]) - child.get(i, 0.0)
        return out


# -- Spark-free fold harness -------------------------------------------------------

_PLAN_BUCKETS = re.compile(r"pmod\(crc32\(.+?\), (?:cast\()?(\d+)")


def plan_buckets(out_df) -> int | None:
    """Salt bucket count of a transform's output, read from its plan."""
    m = _PLAN_BUCKETS.search(out_df._jdf.queryExecution().analyzed().toString())
    return int(m.group(1)) if m else None


def bucket_of(keys: np.ndarray, buckets: int) -> np.ndarray:
    """Spark's pmod(crc32(utf8(key)), buckets) for integer keys."""
    uniq, inv = np.unique(keys, return_inverse=True)
    salt = np.array([zlib.crc32(str(int(k)).encode()) % buckets for k in uniq], dtype=np.int64)
    return salt[inv]


def _factory(op_name: str, label: str, constants: dict):
    """The public fold factory the engine label names, or None when the
    label or the engine module has no such factory."""
    from artan_spark.operators import vectorized as v

    try:
        if op_name == "gmm" and label == "mixture/vectorized":
            name = "vectorized_mixture_fold_factory"
        elif label == "scan/vectorized" and v.supports_scan(constants):
            name = "vectorized_scalar_lkf_scan_fold_factory"
        elif label == "sequential/vectorized" and op_name == "llt":
            name = "vectorized_lkf_fold_factory"
        elif label == "sequential/vectorized" and op_name == "lkf":
            name = "vectorized_scalar_lkf_fold_factory"
        else:
            return None
    except AttributeError:  # a support predicate was renamed or removed
        return None
    return getattr(v, name, None)


def fold_harness(op_name: str, op, label: str, keys, values, ts_ns, buckets: int) -> dict:
    """Rebuild the op's salted bucket frames in pandas (the flat columns the
    Spark side ships) and time the fold factory on each, without Spark."""
    import pandas as pd

    constants = op._constants()
    factory = _factory(op_name, label, constants)
    if factory is None or not buckets:
        return {"s": 0.0, "max_bucket_s": 0.0, "rows": 0, "buckets": 0, "note": f"no harness for {label}"}
    salt = bucket_of(keys, buckets)
    skeys = keys.astype(str).astype(object)
    fold = factory(constants)
    times, rows = [], 0
    for b in range(buckets):
        sel = np.flatnonzero(salt == b)
        if not len(sel):
            continue
        cols = {"stateKey": skeys[sel], "eventTime": ts_ns[sel].astype("datetime64[ns]")}
        if op_name == "gmm":
            cols["sample"] = pd.Series([np.array([x]) for x in values[sel]], dtype=object).to_numpy()
        else:
            cols["__zok__"] = np.ones(len(sel), dtype=bool)
            cols["__z0__"] = values[sel]
        cols["__salt__"] = salt[sel]
        pdf = pd.DataFrame(cols).sort_values(["stateKey", "eventTime"], kind="stable")
        t0 = time.perf_counter()
        fold(pdf, None)
        times.append(time.perf_counter() - t0)
        rows += len(sel)
    share = np.bincount(salt).max() / len(keys)
    return {"s": float(sum(times)), "max_bucket_s": float(max(times)), "rows": rows,
            "buckets": buckets, "bucket_rows_max_frac": float(share)}
