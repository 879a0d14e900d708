"""Record which engine every operator shape gets, by running ``transform()``.

For each case of ``tests/test_engine_resolver.py`` (operator shape x
foldEngine x vectorizedBatch x batch/stream) this builds the plan on a tiny
frame and records the engine the operator reports, whether a batched fold
ran, the fold factory inside the Python UDF, or the ``ValueError`` message. The distributed-scan
transforms are replaced by recorders that end the call, so no case
launches a Python worker, and the session's 2 shuffle partitions need no
bucket-sizing sample. In the same run it records the public schema of every
``pinned_schema_cases()`` entry of the cases module into
``data/public_schemas.json`` next to it.

    python tools/capture_engine_table.py --out tests/data/engine_truth_table.json

It records the code of this checkout, or of the checkout on ``PYTHONPATH``
(``--cases`` points at the module that defines the cases).
"""

from __future__ import annotations

import argparse
import datetime as dt
import importlib.util
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.append(ROOT)  # after PYTHONPATH: a checkout given there wins
DIST_FNS = (
    "distributed_scan_transform",
    "distributed_nd_scan_transform",
    "distributed_smoother_transform",
    "distributed_rls_transform",
    "distributed_lms_transform",
)


class _Dispatched(Exception):
    """Raised by the distributed-scan recorders to end the transform."""


def _load_cases(path):
    spec = importlib.util.spec_from_file_location("engine_cases", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _find_factory(fn, depth=0):
    """Name of the fold factory a UDF closes over (walks nested closures)."""
    if depth > 3 or not callable(fn):
        return None
    for cell in getattr(fn, "__closure__", None) or ():
        try:
            v = cell.cell_contents
        except ValueError:
            continue
        name = getattr(v, "__name__", "")
        if callable(v) and name.endswith("_factory"):
            return name
    for cell in getattr(fn, "__closure__", None) or ():
        try:
            found = _find_factory(cell.cell_contents, depth + 1)
        except ValueError:
            continue
        if found:
            return found
    return None


def _frames(spark, tmp):
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from artan_spark.types import GAUSSIAN, MATRIX

    arr = ArrayType(DoubleType())
    schema = StructType(
        [
            StructField("stateKey", StringType()),
            StructField("ts", TimestampType()),
            StructField("measurement", arr),
            StructField("H1", MATRIX),
            StructField("H2", MATRIX),
            StructField("initState", GAUSSIAN),
            StructField("label", DoubleType()),
            StructField("features", arr),
            StructField("initMean", arr),
            StructField("sample", arr),
            StructField("sampled", DoubleType()),
            StructField("stepSize", DoubleType()),
        ]
    )
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (
            f"k{i % 3}",
            t0 + dt.timedelta(seconds=i),
            [float(i)],
            {"numRows": 1, "numCols": 1, "values": [1.0]},
            {"numRows": 1, "numCols": 2, "values": [1.0, 0.0]},
            {"mean": [0.0], "covariance": {"numRows": 1, "numCols": 1, "values": [1.0]}},
            float(i),
            [1.0],
            [0.0],
            [float(i)],
            float(i % 2),
            0.1,
        )
        for i in range(12)
    ]
    batch = spark.createDataFrame(rows, schema)
    path = os.path.join(tmp, "frame")
    batch.write.parquet(path)
    stream = spark.readStream.schema(batch.schema).parquet(path)
    return batch, stream


def capture(cases_path: str) -> dict:
    from pyspark.sql import SparkSession
    from pyspark.sql.group import GroupedData

    import artan_spark.operators.distscan as distscan

    cases = _load_cases(cases_path)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    seen: dict = {}

    def record(cls, kind, bucketed):
        orig = getattr(cls, kind)

        def wrapper(self, fn, *args, **kwargs):
            if kind == "transformWithStateInPandas":
                fn = kwargs.get("statefulProcessor", fn)
            seen.setdefault("udf", {"factory": _find_factory(fn), "bucketed": bucketed})
            return orig(self, fn, *args, **kwargs)

        setattr(cls, kind, wrapper)

    for kind in ("applyInPandas", "applyInPandasWithState", "transformWithStateInPandas"):
        record(GroupedData, kind, False)
    # the bucketed folds: repartition(buckets, stateKey).mapInPandas
    record(type(spark.range(0)), "mapInPandas", True)
    for name in DIST_FNS:

        def dist(op, df, _name=name):
            seen["dist"] = _name
            raise _Dispatched

        setattr(distscan, name, dist)

    tmp = tempfile.mkdtemp()
    table = {}
    try:
        batch, stream = _frames(spark, tmp)
        schemas = {
            name: json.loads(op.transform(stream if mode == "stream" else batch).schema.json())
            for name, op, mode in cases.pinned_schema_cases()
        }
        out = os.path.join(os.path.dirname(os.path.abspath(cases_path)), "data", "public_schemas.json")
        with open(out, "w") as f:
            json.dump(schemas, f, indent=1, sort_keys=True)
            f.write("\n")
        for key in cases.case_keys():
            name, fe, vb, mode = key
            seen.clear()
            op = cases.configured(name, fe, vb)
            try:
                op.transform(stream if mode == "stream" else batch)
            except ValueError as exc:
                table[cases.row_id(*key)] = {"error": str(exc)}
                continue
            except _Dispatched:
                pass
            if "dist" in seen:
                entry = {
                    "engine": op._lastFoldEngine,
                    "vectorized": True,
                    "factory": seen["dist"],
                }
            else:
                udf = seen["udf"]
                entry = {
                    "engine": getattr(op, "_lastFoldEngine", None) or "sequential",
                    "vectorized": udf["bucketed"],
                    "factory": udf["factory"],
                }
            reported = getattr(op, "_lastFoldVectorized", None)
            assert reported in (None, entry["vectorized"]), (key, reported)
            table[cases.row_id(*key)] = entry
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return table


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--cases", default=os.path.join(ROOT, "tests", "test_engine_resolver.py")
    )
    ap.add_argument("--out", default="-")
    args = ap.parse_args()
    table = capture(args.cases)
    rows = (f" {json.dumps(k)}: {json.dumps(table[k], sort_keys=True)}" for k in sorted(table))
    text = "{\n" + ",\n".join(rows) + "\n}\n"
    if args.out == "-":
        sys.stdout.write(text)
    else:
        with open(args.out, "w") as f:
            f.write(text)


if __name__ == "__main__":
    main()
