#!/usr/bin/env python3
"""Self-test of the benchmark's correctness gate.

    python3 perfbench/selftest.py

Runs every workload at a tiny size through ``run.main`` twice: once as is,
where the gate must pass, and once with the state mean the gate reads
perturbed by one part in a million on one row per checked key, where the
gate must fail. A stream whose first timed trigger fails must still end
with a result line that counts the failure. Also checks that BENCHMARK.json lists exactly the metrics
the benchmark prints. Exits 0 when all of this holds.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

# tiny inputs: a few rows per key, a handful of triggers
W.MANY_ROWS = W.MANY_KEYS * 2
W.WARM_TRIGGERS = 2
W.STREAM_FILES = W.WARM_TRIGGERS + 2


def _run(workload: str) -> dict:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run.main(["--workload", workload, "--seed", "3", "--seconds", "0.5", "--trace", "0"])
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def _perturb_mean(col):
    from pyspark.sql import functions as F

    return F.when(F.col("stateIndex") == 2, col * (1 + 1e-6)).otherwise(col)


def _perturbed_check_columns(real):
    def check_columns(name):
        cols = real(name)
        # the first state mean: v0 for the filters, v2 (component 0) for gmm
        i = 2 if name == "gmm" else 0
        cols[i] = _perturb_mean(cols[i]).alias(f"v{i}")
        return cols

    return check_columns


def _perturbed_stream_state(real):
    def stream_state(*args):
        from pyspark.sql import functions as F

        df = real(*args)
        return df.withColumn("m", F.col("m") * (1 + 1e-6))

    return stream_state


def _broken_stream_input(real):
    """The first timed trigger's file carries its values as strings, so that
    trigger fails when the file source reads it."""

    def write_stream_input(seed, stage_dir):
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = real(seed, stage_dir)
        path, _keys, values = files[W.WARM_TRIGGERS + 1]
        st = os.stat(path)
        table = pq.read_table(path)
        pq.write_table(table.set_column(2, "value", pa.array(values.astype(str))), path)
        os.utime(path, (st.st_atime, st.st_mtime))  # keep the file's place in the order
        return files

    return write_stream_input


def main() -> int:
    failures = []
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if [(m["name"], m["unit"]) for m in bench["end_to_end"]] != list(run.E2E_UNITS.items()):
        failures.append("BENCHMARK.json end_to_end differs from run.E2E_UNITS")
    if [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] != layers.PER_LAYER:
        failures.append("BENCHMARK.json per_layer differs from layers.PER_LAYER")
    if sorted(w["name"] for w in bench["workloads"]) != sorted(W.WORKLOADS):
        failures.append("BENCHMARK.json workloads differ from workloads.WORKLOADS")
    known = {n for n, _u, _b in layers.PER_LAYER}
    for layer, m in layers.LAYER_MAP.items():
        if not set(m["metrics"]) <= known or not set(m["moves"]) <= set(run.E2E_UNITS):
            failures.append(f"layers.LAYER_MAP[{layer!r}] names an unknown metric")

    for workload, wl in W.WORKLOADS.items():
        real = _run(workload)
        print(f"{workload}: real output -> correct={real['correct']}", file=sys.stderr)
        if not real["correct"] or real["failed"]:
            failures.append(f"{workload}: gate rejected the real output")
        if wl.streaming:
            orig, run.stream_state = run.stream_state, _perturbed_stream_state(run.stream_state)
        else:
            orig, run.check_columns = run.check_columns, _perturbed_check_columns(run.check_columns)
        try:
            bad = _run(workload)
        finally:
            if wl.streaming:
                run.stream_state = orig
            else:
                run.check_columns = orig
        print(f"{workload}: perturbed mean -> correct={bad['correct']} failed={bad['failed']}",
              file=sys.stderr)
        if bad["correct"] or bad["failed"] < len(wl.ops):
            failures.append(f"{workload}: gate passed a perturbed state mean")

    orig, W.write_stream_input = W.write_stream_input, _broken_stream_input(W.write_stream_input)
    try:
        broken = _run("stream_keyed_state")
        print(f"stream_keyed_state: failing trigger -> correct={broken['correct']} "
              f"failed={broken['failed']}", file=sys.stderr)
        if broken["correct"] or not broken["failed"]:
            failures.append("stream_keyed_state: a failing trigger was not counted")
    except Exception as exc:  # no result line at all
        failures.append(f"stream_keyed_state: a failing trigger crashed the run: {exc!r}")
    finally:
        W.write_stream_input = orig

    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    print("selftest", "FAILED" if failures else "passed", file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
