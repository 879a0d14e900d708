#!/usr/bin/env python3
"""Estimation benchmark: keyed online filters through the public
``transform()``, in batch and on Structured Streaming.

    python3 perfbench/run.py --workload batch_many_models --seed 1 --seconds 20 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json):
  batch_many_models   many small systems, 4,096 uniform keys
  stream_keyed_state  file-source replay into the streaming 1-D LKF

Each is a closed loop with one client: the next job (or trigger) starts
when the previous one completes. Batch jobs materialize the full public
output with ``write.format("noop")``.

End-to-end metrics (``--trace 0``):
  rows_per_s      warm input rows per second, transform() call to noop done.
                  Batch: rows of one round (one job per operator) over the
                  sum of the per-operator median job times. Stream: rows of
                  the timed triggers over their wall time.
  trigger_s_p50   median time of one closed-loop step: a trigger
                  (durationMs.triggerExecution) or, in batch, a round
                  (sum of the per-operator medians). In batch this is the
                  rows of a round over rows_per_s: one measurement, not two.
  trigger_s_tail  the highest percentile with at least 10 samples beyond it,
                  or the maximum below 20 samples; the percentile and sample
                  count go to stderr and the artifact.
  setup_s         process start -> session ready -> one untimed cold pass
                  (which also yields the output the correctness gate checks);
                  input generation is excluded.
Failures (errors and gate mismatches) are the ``failed`` count of the last
line; failed_frac = failed / attempted goes to stderr. Peak resident memory
(driver JVM, Python workers) is in every artifact and among the per-layer
metrics: the streaming workers' size is bimodal across runs (about 0.6 or
1.4 GB for five processes), too unsteady for a bounded end-to-end metric.

``--trace 1`` repeats the run with the Spark event log on, adds the
layer probes and prints the per-layer metrics of ``layers.PER_LAYER``.
Every run writes an artifact (engine record, host calibration, spans) to
perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
DRIVER_HEAP = "1g"


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM plus its Python workers: the
    JVM's own peak (VmHWM) plus the highest sum, at one poll (every 0.25 s),
    of the nproc + 1 largest Python processes under it (one worker per task
    slot and the daemon). Idle spare workers the daemon forks when a task
    asks before the last one returned its worker are left out; whether that
    happens is a race, and counting them doubled the figure on some runs."""

    def __init__(self, pid: int, every: float = 0.25):
        super().__init__(daemon=True)
        self.pid, self.every = pid, every
        self.jvm_kb = self.workers_kb = 0
        self._done = threading.Event()

    @staticmethod
    def _status_kb(pid: int, field: str) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith(field):
                        return int(line.split()[1])
        except (OSError, ValueError):
            pass
        return 0

    def poll(self) -> None:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    continue
        tree, frontier = set(), [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier += kids
        self.jvm_kb = max(self.jvm_kb, self._status_kb(self.pid, "VmHWM:"))
        sizes = sorted((self._status_kb(p, "VmRSS:") for p in tree), reverse=True)
        self.workers_kb = max(self.workers_kb, sum(sizes[: nproc() + 1]))

    def run(self):
        while not self._done.is_set():
            self.poll()
            self._done.wait(self.every)

    def stop_mb(self) -> dict:
        """Stop polling; the peaks in MiB, including a last poll."""
        self._done.set()
        self.join(5)
        self.poll()
        return {"jvm": self.jvm_kb / 1024.0, "python": self.workers_kb / 1024.0}


def tail(samples):
    """(value, percentile): the highest percentile with at least 10 samples
    above it. Below 20 samples that percentile would sit under the median,
    so the maximum is reported instead (percentile 100)."""
    s = sorted(samples)
    n = len(s)
    if n >= 20:
        return s[n - 11], 100.0 * (n - 10) / n
    return s[-1], 100.0


def ram_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def numpy_kernel_s() -> float:
    import numpy as np

    a = np.random.default_rng(0).standard_normal((256, 256))
    reps = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(20):
            a @ a
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


def spark_job_s(spark) -> float:
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 1 << 16, numPartitions=nproc()).selectExpr("sum(id)").collect()
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


def start_session(work: str, trace: bool):
    """Pinned local session: one task slot and one shuffle partition per
    core, a fixed driver heap well below physical RAM, workers importing
    the package from this checkout, scratch space inside the checkout."""
    from artan_spark.sources import session_builder

    cores = nproc()
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp  # the module caches the first TMPDIR it saw
    b = (
        session_builder(app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
        # the inputs are tens of MB; a small fixed heap keeps the JVM's
        # resident peak from wandering with heap growth
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true").config("spark.eventLog.dir", ev)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    pinned = {"master": f"local[{cores}]", "shuffle_partitions": cores,
              "driver_memory": DRIVER_HEAP,
              "pythonpath": os.environ["PYTHONPATH"]}
    return spark, pinned


def stop_session(spark):
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def job_record(sc, group: str) -> dict:
    """Jobs a transform() launched, and the task count of the Python stage
    of the action that followed (the last stage of its last job)."""
    st = sc.statusTracker()
    t_jobs = list(st.getJobIdsForGroup(f"{group}:t"))
    a_jobs = sorted(st.getJobIdsForGroup(f"{group}:a"))
    tasks = 0
    if a_jobs:
        info = st.getJobInfo(a_jobs[-1])
        if info is not None and info.stageIds:
            stage = st.getStageInfo(max(info.stageIds))
            tasks = stage.numTasks if stage is not None else 0
    return {"transform_jobs": len(t_jobs), "action_jobs": len(a_jobs), "python_tasks": tasks}


# -- batch -------------------------------------------------------------------


def check_columns(name: str):
    """Flat columns of the public output the gate compares (reference.py)."""
    from pyspark.sql import functions as F

    if name == "gmm":
        mm = F.col("mixtureModel")
        cols = [mm["weights"][0], mm["weights"][1]]
        cols += [mm["distributions"][j]["mean"][0] for j in (0, 1)]
        cols += [mm["distributions"][j]["covariance"]["values"][0] for j in (0, 1)]
    elif name == "llt":
        cols = [F.col("state.mean")[i] for i in (0, 1)]
        cols += [F.col("state.covariance.values")[i] for i in range(4)]
    else:
        cols = [F.col("state.mean")[0], F.col("state.covariance.values")[0]]
    return [c.alias(f"v{i}") for i, c in enumerate(cols)]


def noop_with_check(out, name: str, check: list) -> dict:
    """Materialize the full output into the noop sink and, in the same job,
    collect the gate's columns for the checked keys through an observation.
    Returns key -> (stateIndex array, value rows)."""
    import numpy as np
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation(f"check-{name}")
    cols = ["stateKey", "stateIndex", *check_columns(name)]
    picked = F.when(F.col("stateKey").isin([str(k) for k in check]), F.struct(*cols))
    out.observe(obs, F.collect_list(picked).alias("rows")).write.format("noop").mode(
        "overwrite").save()
    by_key = {}
    for r in obs.get["rows"]:
        by_key.setdefault(int(r[0]), []).append(tuple(r[1:]))
    got = {}
    for key, rows in by_key.items():
        rows.sort(key=lambda x: x[0])
        arr = np.array(rows, dtype=np.float64)
        got[key] = (arr[:, 0].astype(np.int64), arr[:, 1:])
    return got


def run_batch(args, wl, work, spans, res):
    import reference
    import workloads as W

    t = time.perf_counter()
    data = os.path.join(work, "in.parquet")
    keys, values = W.write_batch_input(args.seed, data)
    res["gen_s"] = time.perf_counter() - t
    n_rows = len(keys)
    check = reference.checked_keys(keys, args.seed)

    t = time.perf_counter()
    spark, res["session"] = start_session(work, args.trace)
    res["session_s"] = time.perf_counter() - t
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()
    sc = spark.sparkContext
    raw = spark.read.parquet(data)
    inputs = {name: W.op_input(raw, name) for name in wl.ops}

    # cold pass: one untimed job per operator, shaped like the timed jobs;
    # its output feeds the gate
    t = time.perf_counter()
    cold_sid = spans.open("setup.cold")
    got, engines = {}, {}
    for name in wl.ops:
        op = W.make_op(name)
        res["attempted"] += 1
        try:
            got[name] = noop_with_check(op.transform(inputs[name]), name, check)
            engines[name] = W.engine_label(op, name)
        except Exception as exc:  # a failing job is a result, not a crash
            res["failed"] += 1
            res["errors"].append(f"cold {name}: {exc!r}"[:500])
    spans.close(cold_sid)
    res["cold_s"] = time.perf_counter() - t
    res["setup_s"] = res["import_s"] + res["session_s"] + res["cold_s"]
    res["host"]["spark_job_s"] = spark_job_s(spark)

    warm_sid = spans.open("warmup")
    for r in range(wl.warm_rounds):
        for name in wl.ops:
            res["attempted"] += 1
            try:
                sc.setJobGroup(f"warmup:{name}:{r}", "warm-up")
                W.make_op(name).transform(inputs[name]).write.format("noop").mode(
                    "overwrite").save()
            except Exception as exc:  # a failing job is a result, not a crash
                res["failed"] += 1
                res["errors"].append(f"warm-up {name}: {exc!r}"[:500])
    spans.close(warm_sid)

    # closed loop: whole rounds (one job per operator, in order), so every
    # operator gets the same count; at least two, and another only if, at
    # the mean round time so far, it ends inside the --seconds window
    times = {n: [] for n in wl.ops}
    tr_times = {n: [] for n in wl.ops}
    records = {n: [] for n in wl.ops}
    outs = {}
    win_sid = spans.open("window")
    t_win = time.perf_counter()
    rounds = 0
    while rounds < 2 or (time.perf_counter() - t_win) * (rounds + 1) / rounds <= args.seconds:
        for name in wl.ops:
            group = f"job:{name}:{rounds}"
            op = W.make_op(name)
            res["attempted"] += 1
            jsid = spans.open(group, win_sid, op=name)
            try:
                sc.setJobGroup(f"{group}:t", "transform")
                tsid = spans.open(f"transform:{name}", jsid)
                out = op.transform(inputs[name])
                dt_t = spans.close(tsid)
                sc.setJobGroup(f"{group}:a", "action")
                asid = spans.open(f"action:{name}", jsid)
                out.write.format("noop").mode("overwrite").save()
                dt_a = spans.close(asid)
                times[name].append(dt_t + dt_a)
                tr_times[name].append(dt_t)
                outs[name] = out
                rec = job_record(sc, group)
                rec["engine"] = W.engine_label(op, name)
                records[name].append(rec)
            except Exception as exc:  # a failing job is a result, not a crash
                res["failed"] += 1
                res["errors"].append(f"{group}: {exc!r}"[:500])
            spans.close(jsid)
        rounds += 1
    spans.close(win_sid)
    res["rss_mb"] = sampler.stop_mb()
    sc.setJobGroup("probe", "probe")

    # correctness gate (outside every timed region)
    for name in wl.ops:
        if name not in got:
            continue
        tol = reference.tolerance(engines[name])
        bad = reference.compare(got[name], reference.expected(name, keys, values, check), tol)
        res["checks"][name] = {"engine": engines[name], "tolerance": tol, "keys": check,
                               "mismatches": bad}
        if bad:
            res["failed"] += 1

    med = {n: statistics.median(v) for n, v in times.items() if v}
    complete = len(med) == len(wl.ops)
    round_s = sum(med.values())
    # an operator with no successful job leaves no rate to report; the run
    # is already marked failed
    res["e2e"] = {
        "rows_per_s": n_rows * len(wl.ops) / round_s if complete else 0.0,
        "trigger_s_p50": round_s if complete else 0.0,
        "trigger_s_tail": sum(tail(v)[0] for v in times.values()) if complete else 0.0,
    }
    res["tail"] = {n: {"value": tail(v)[0], "percentile": tail(v)[1], "n": len(v)}
                   for n, v in times.items() if v}
    res["jobs"] = {n: {"n": len(v), "median_s": med.get(n), "samples_s": v} for n, v in times.items()}
    res["engine_record"] = records
    labels = {n: sorted({r["engine"] for r in recs} | ({engines[n]} if n in engines else set()))
              for n, recs in records.items()}
    res["engine_changes"] = {n: ls for n, ls in labels.items() if len(ls) > 1}

    layer = {}
    if args.trace:
        layer = batch_layers(spark, wl, inputs, outs, med, tr_times, records, labels,
                             keys, values, n_rows, res)
    stop_session(spark)
    if args.trace:
        finish_batch_layers(layer, work, wl, spans, res)
    return layer


def batch_layers(spark, wl, inputs, outs, med, tr_times, records, labels, keys, values,
                 n_rows, res):
    """Probes that need the live session: input-only pass, pruned-output
    passes (reassembly cost) and the Spark-free fold harness."""
    import numpy as np

    import workloads as W
    from layers import fold_harness, plan_buckets

    sc = spark.sparkContext
    layer = {}
    first = wl.ops[0]
    sc.setJobGroup("probe:input", "input")
    t = time.perf_counter()
    inputs[first].write.format("noop").mode("overwrite").save()
    layer["sources.input_s"] = time.perf_counter() - t
    ts_ns = (np.arange(n_rows, dtype=np.int64) * 1000 + W.T0_US) * 1000
    fold_total = fold_max = fold_rows = 0.0
    buckets, max_frac = 0, 0.0
    for name in wl.ops:
        if name not in outs:
            continue
        # as many pruned jobs as timed ones, so both sides of the difference
        # are medians of the same count; one pruned job against the median
        # read negative on some runs
        sc.setJobGroup(f"probe:prune:{name}", "pruned")
        pruned = []
        for _ in range(len(tr_times[name])):
            op = W.make_op(name)
            t = time.perf_counter()
            op.transform(inputs[name]).select("stateKey", "stateIndex").write.format(
                "noop").mode("overwrite").save()
            pruned.append(time.perf_counter() - t)
        label = labels[name][0] if len(labels[name]) == 1 else "mixed"
        recs = records[name]
        layer.update({
            f"op.{name}.s": med[name],
            f"op.{name}.engine": W.engine_code(label),
            f"op.{name}.vectorized": float(label.endswith("/vectorized")),
            f"op.{name}.reassembly_s": med[name] - statistics.median(pruned),
            f"op.{name}.transform_jobs": statistics.median(r["transform_jobs"] for r in recs),
            f"op.{name}.python_tasks": statistics.median(r["python_tasks"] for r in recs),
        })
        b = plan_buckets(outs[name])
        h = fold_harness(name, op, label, keys, values, ts_ns, b or 0)
        res["fold"][name] = h
        fold_total += h["s"]
        fold_max += h["max_bucket_s"]
        fold_rows += h["rows"]
        buckets = max(buckets, b or 0)
        max_frac = max(max_frac, h.get("bucket_rows_max_frac", 0.0))
    _, counts = np.unique(keys, return_counts=True)
    round_s = sum(med.values())
    layer.update({
        "base.transform_s": sum(statistics.median(v) for v in tr_times.values() if v),
        "base.transform_jobs": sum(layer.get(f"op.{n}.transform_jobs", 0) for n in wl.ops),
        "base.buckets": buckets,
        "base.bucket_rows_max_frac": max_frac,
        "fold.s": fold_total,
        "fold.max_bucket_s": fold_max,
        "fold.rows_per_s": fold_rows / fold_total if fold_total else 0.0,
        "fold.steps_max": int(counts.max()),
        "fold.wall_share": fold_max / round_s if round_s else 0.0,
        "trace.rows_per_s": res["e2e"]["rows_per_s"],
    })
    return layer


def finish_batch_layers(layer, work, wl, spans, res):
    """Event-log layers for the timed jobs, per round. Spark's counters
    cover every job a timed transform() or action launched; the driver's
    share is the action time no stage covers."""
    from layers import aggregate, jobs_in_groups, read_event_log, spark_layers

    log = read_event_log(os.path.join(work, "eventlog"))
    timed = jobs_in_groups(log, "job:")
    per = sum(len(v["samples_s"]) for v in res["jobs"].values()) / len(wl.ops)
    t = aggregate(log, timed)
    layer.update(spark_layers(t, per))

    def span_s(prefix):
        return sum(s["end"] - s["start"] for s in spans.items
                   if s["name"].startswith(prefix) and s["end"])

    actions = aggregate(log, [j for j in timed if log["jobs"][j]["group"].endswith(":a")])
    layer["scheduler.driver_s"] = max(0.0, span_s("action:") - actions["stage_ms"] / 1e3) / per
    job_s = span_s("job:")
    layer["unattributed_frac"] = t["unattributed_ms"] / 1e3 / job_s if job_s else 0.0
    res["event_log"] = {"jobs": len(log["jobs"]), "timed_jobs": len(timed),
                        "per_round_divisor": per, "totals": t}


# -- streaming ---------------------------------------------------------------


def stream_state(spark, ckpt: str, last: int, check: list):
    """Committed state of the checked keys after batch ``last``, read back
    through the state data source: key k, stateIndex i, mean m, variance p."""
    from pyspark.sql import functions as F

    gs = F.col("value.groupState")
    return (spark.read.format("statestore").option("batchId", last).load(ckpt)
            .where(F.col("key.stateKey").isin([str(k) for k in check]))
            .select(F.col("key.stateKey").alias("k"), gs["stateIndex"].alias("i"),
                    gs["mean"][0].alias("m"), gs["cov"][0].alias("p")))


def run_stream(args, wl, work, spans, res):
    import numpy as np
    from pyspark.sql import functions as F

    import reference
    import workloads as W

    stage, src, ckpt = (os.path.join(work, d) for d in ("stage", "src", "ckpt"))
    os.makedirs(stage)
    os.makedirs(src)
    t = time.perf_counter()
    files = W.write_stream_input(args.seed, stage)
    res["gen_s"] = time.perf_counter() - t

    t = time.perf_counter()
    spark, res["session"] = start_session(work, args.trace)
    res["session_s"] = time.perf_counter() - t
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    sampler.start()

    def feed(i):
        path = files[i][0]
        os.rename(path, os.path.join(src, os.path.basename(path)))

    def wait_batch(b, limit=120.0):
        """Wait for batch b's entry in the checkpoint's commit log. Polling
        the file system costs the JVM nothing; polling q.lastProgress would
        serialize the progress to JSON on every call, on the cores the
        trigger runs on. The query's health is asked every 0.25 s."""
        done = os.path.join(ckpt, "commits", str(b))
        t_end = time.perf_counter() + limit
        t_ask = 0.0
        while time.perf_counter() < t_end:
            if os.path.exists(done):
                return
            if time.perf_counter() >= t_ask:
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                t_ask = time.perf_counter() + 0.25
            time.sleep(0.002)
        raise TimeoutError(f"batch {b} did not complete")

    def trigger(b):
        """Feed file b (file 0 is in place before the query starts) and wait
        for its trigger. A failed trigger is counted, not raised."""
        res["attempted"] += 1
        try:
            if b:
                feed(b)
            wait_batch(b)
            return True
        except (RuntimeError, TimeoutError) as exc:
            res["failed"] += 1
            res["errors"].append(f"trigger {b}: {exc!r}"[:500])
            return False

    # set-up: session, then the cold first trigger that primes every key
    t = time.perf_counter()
    cold_sid = spans.open("setup.cold")
    feed(0)
    op = W.make_op("lkf")
    stream_in = spark.readStream.schema("key long, ts timestamp, value double").option(
        "maxFilesPerTrigger", 1).parquet(src)
    q = (op.transform(W.op_input(stream_in, "lkf")).writeStream.format("noop")
         .option("checkpointLocation", ckpt).start())
    ok = trigger(0)
    spans.close(cold_sid)
    res["cold_s"] = time.perf_counter() - t
    res["setup_s"] = res["import_s"] + res["session_s"] + res["cold_s"]
    res["host"]["spark_job_s"] = spark_job_s(spark)
    engine = W.engine_label(op, "lkf")

    # untimed warm-up triggers of the timed shape: trigger time falls by
    # 20-30% over the first 20 triggers after the cold one, and by a few
    # percent more over the next 20; a window that starts earlier times a
    # slope whose steepness varies from run to run
    warm_sid = spans.open("warmup")
    ok = ok and all(trigger(b) for b in range(1, W.WARM_TRIGGERS + 1))
    spans.close(warm_sid)

    # closed loop: the next file lands when the previous trigger completes
    win_sid = spans.open("window")
    t_win = time.perf_counter()
    b = W.WARM_TRIGGERS
    while ok and (b == W.WARM_TRIGGERS or (
        time.perf_counter() - t_win < args.seconds and b + 1 < len(files)
    )):
        b += 1
        ok = trigger(b)
    spans.close(win_sid)
    res["rss_mb"] = sampler.stop_mb()
    # the last trigger's progress is posted just after its commit
    t_end = time.perf_counter() + 10.0
    while ok and time.perf_counter() < t_end and (
        q.lastProgress is None or q.lastProgress["batchId"] < b
    ):
        time.sleep(0.01)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    q.stop()
    timed = [p for p in progress if p["batchId"] > W.WARM_TRIGGERS]
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
    if not timed:  # a trigger failed (and was counted) before the window had a result
        res.update(e2e={"rows_per_s": 0.0, "trigger_s_p50": 0.0, "trigger_s_tail": 0.0},
                   tail={}, jobs={}, engine_record={"lkf": [{"engine": engine}]},
                   engine_changes={})
        stop_session(spark)
        return {}

    # correctness: final state per checked key == reference == batch run
    last = max(p["batchId"] for p in progress)
    used = files[: last + 1]
    keys = np.concatenate([f[1] for f in used])
    values = np.concatenate([f[2] for f in used])
    check = reference.checked_keys(keys, args.seed)
    bad = []
    try:
        st = stream_state(spark, ckpt, last, check).toPandas()
        final = {int(r.k): (int(r.i), np.array([r.m, r.p])) for r in st.itertuples()}
        batch_in = spark.read.parquet(*[os.path.join(src, os.path.basename(f[0])) for f in used])
        batch_in = batch_in.where(F.col("key").isin(check))
        bop = W.make_op("lkf").setFoldEngine("sequential")
        bgot = noop_with_check(bop.transform(W.op_input(batch_in, "lkf")), "lkf", check)
        for k in check:
            ref = reference.kf_scalar(values[keys == k])
            if k not in final:
                bad.append(f"key {k}: no final state")
                continue
            idx, vec = final[k]
            if idx != len(ref) or not np.array_equal(vec, ref[-1]):
                bad.append(f"key {k}: stream state {idx} {vec.tolist()} vs reference "
                           f"{len(ref)} {ref[-1].tolist()}")
            bidx, brows = bgot.get(k, (np.array([]), np.empty((0, 2))))
            if len(bidx) != idx or not np.array_equal(brows[-1], vec):
                bad.append(f"key {k}: stream state differs from the batch result")
    except Exception as exc:
        bad.append(f"check failed: {exc!r}"[:500])
    res["checks"]["lkf"] = {"engine": engine, "tolerance": 0.0, "keys": check,
                            "mismatches": bad, "last_batch": last}
    if bad:
        res["failed"] += 1

    rows = sum(p["numInputRows"] for p in timed)
    t_first = _epoch(timed[0]["timestamp"])
    t_last = _epoch(timed[-1]["timestamp"]) + timed[-1]["durationMs"]["triggerExecution"] / 1e3
    tv, tp = tail(trig)
    res["e2e"] = {"rows_per_s": rows / (t_last - t_first),
                  "trigger_s_p50": statistics.median(trig), "trigger_s_tail": tv}
    res["tail"] = {"trigger": {"value": tv, "percentile": tp, "n": len(trig)}}
    res["jobs"] = {"lkf": {"n": len(trig), "median_s": statistics.median(trig), "samples_s": trig}}
    res["triggers"] = [
        {"batch": p["batchId"], **p["durationMs"],
         **{k: p["stateOperators"][0][k] for k in ("allUpdatesTimeMs", "commitTimeMs")
            if p.get("stateOperators")}}
        for p in progress
    ]
    res["engine_record"] = {"lkf": [{"engine": engine}]}
    res["engine_changes"] = {}

    layer = {}
    if args.trace:
        so = [p["stateOperators"][0] for p in timed if p.get("stateOperators")]

        def med(vals):
            return float(statistics.median(vals)) if vals else 0.0

        layer = {
            "state.rows_total": so[-1]["numRowsTotal"] if so else 0,
            "state.memory_bytes": so[-1]["memoryUsedBytes"] if so else 0,
            "state.commit_ms": med([s["commitTimeMs"] for s in so]),
            "state.update_ms": med([s["allUpdatesTimeMs"] for s in so]),
            "stream.add_batch_ms": med([p["durationMs"].get("addBatch", 0) for p in timed]),
            "stream.planning_ms": med([p["durationMs"].get("queryPlanning", 0) for p in timed]),
            "stream.wal_commit_ms": med([p["durationMs"].get("walCommit", 0) for p in timed]),
            "op.lkf.s": statistics.median(trig),
            "op.lkf.engine": W.engine_code(engine),
            "op.lkf.vectorized": float(engine.endswith("/vectorized")),
            "trace.rows_per_s": res["e2e"]["rows_per_s"],
        }
        res["stream_window_ms"] = (t_first * 1e3, t_last * 1e3)
    stop_session(spark)
    if args.trace:
        from layers import aggregate, jobs_between, read_event_log, spark_layers

        log = read_event_log(os.path.join(work, "eventlog"))
        lo, hi = res.pop("stream_window_ms")
        jobs = jobs_between(log, lo, hi)
        t = aggregate(log, jobs)
        layer.update(spark_layers(t, len(trig)))
        layer["scheduler.driver_s"] = max(0.0, sum(trig) - t["stage_ms"] / 1e3) / len(trig)
        layer["unattributed_frac"] = t["unattributed_ms"] / 1e3 / sum(trig)
        res["event_log"] = {"jobs": len(log["jobs"]), "timed_jobs": len(jobs), "totals": t}
    return layer


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


# -- main --------------------------------------------------------------------

E2E_UNITS = {"rows_per_s": "1/s", "trigger_s_p50": "s", "trigger_s_tail": "s", "setup_s": "s"}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "artan_spark")):
        # measure the checkout's own package, never one found elsewhere
        p.error(f"no artan_spark package under {ROOT}; run from a checkout of the repository")

    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    sys.path.insert(0, ROOT)
    import artan_spark.operators  # noqa: F401  (numpy, pandas and pyspark with it)
    import workloads as W
    from layers import LAYER_MAP, PER_LAYER, Spans

    if args.workload not in W.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
    wl = W.WORKLOADS[args.workload]
    res = {"attempted": 0, "failed": 0, "errors": [], "checks": {}, "fold": {},
           "import_s": process_age_s(),
           "host": {"nproc": nproc(), "ram_mb": ram_mb(), "numpy_kernel_s": numpy_kernel_s()}}
    spans = Spans()
    work = os.path.join(OUT, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        layer = (run_stream if wl.streaming else run_batch)(args, wl, work, spans, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["e2e"]["setup_s"] = res["setup_s"]
    correct = res["failed"] == 0
    if args.trace:
        layer.update({f"host.{k}": v for k, v in res["host"].items()})
        layer.update({f"memory.{k}_peak_mb": v for k, v in res["rss_mb"].items()})
        names = [n for n, _u, _b in PER_LAYER]
        units = {n: u for n, u, _b in PER_LAYER}
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": units[n]} for n in names}
        res["layer_map"] = LAYER_MAP
    else:
        metrics = {n: {"value": float(res["e2e"][n]), "unit": u} for n, u in E2E_UNITS.items()}

    res["spans"] = spans.items
    res["self_times_s"] = spans.self_times()
    res["layers"] = layer
    res["metrics"] = metrics
    os.makedirs(OUT, exist_ok=True)
    art = os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(art, "w") as fh:
        json.dump(res, fh, indent=1, default=str)

    err = sys.stderr
    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"session={res['session']} host={res['host']}", file=err)
    for n, c in res["checks"].items():
        print(f"# check {n}: engine={c['engine']} tol={c['tolerance']} "
              f"{'ok' if not c['mismatches'] else c['mismatches'][:3]}", file=err)
    for n, v in res["engine_record"].items():
        print(f"# engine {n}: {sorted({r['engine'] for r in v})} "
              f"{[{k: r[k] for k in r if k != 'engine'} for r in v[:1]]}", file=err)
    if res["engine_changes"]:
        print(f"# ENGINE CHANGED within the run: {res['engine_changes']}", file=err)
    for e in res["errors"]:
        print(f"# error: {e}", file=err)
    print(f"# tail: {res['tail']}", file=err)
    print(f"# failed_frac: {res['failed'] / max(1, res['attempted'])} "
          f"({res['failed']}/{res['attempted']})", file=err)
    for n, m in metrics.items():
        print(f"# {n} = {m['value']:.6g} {m['unit']}", file=err)
    print(f"# correct: {correct}  artifact: {os.path.relpath(art, ROOT)}", file=err)
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
