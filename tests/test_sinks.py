"""Sink coverage: partitioned parquet round-trip with partition pruning,
and bucketed tables joining without an exchange."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from artan_spark.sources import read_table, write_bucketed_table, write_table

from conftest import SF_DIR


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_partitioned_write_prunes(spark, tmp_path):
    e = read_table(spark, SF_DIR, "events")
    out = str(tmp_path / "events_by_type")
    write_table(e, out, partition_by="event_type")

    back = spark.read.parquet(out)
    assert back.count() == e.count()

    one = back.filter(F.col("event_type") == "purchase")
    assert one.count() == e.filter(F.col("event_type") == "purchase").count()
    # the partition filter must reach the scan, not run as a post-filter
    assert "PartitionFilters: [isnotnull(event_type" in _plan(one)


def test_bucketed_join_no_exchange(spark):
    # warehouse.dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally block
    e = read_table(spark, SF_DIR, "events")
    facts = e.select("event_id", "user_id", "value")
    dims = e.groupBy("user_id").agg(F.avg("value").alias("avg_value"))
    write_bucketed_table(facts, "t_facts", bucket_by="user_id", n_buckets=4)
    write_bucketed_table(dims, "t_dims", bucket_by="user_id", n_buckets=4)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        j = spark.table("t_facts").join(spark.table("t_dims"), "user_id")
        n = j.count()
        assert n == facts.count()
        plan = _plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # co-bucketed scan: the join must not re-shuffle either side
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_facts")
        spark.sql("DROP TABLE IF EXISTS t_dims")


def test_sorted_sink_yields_prunable_row_groups(spark, tmp_path):
    """write_sorted_table must produce row groups whose min/max value
    ranges are (near-)disjoint — the property parquet readers use to skip
    row groups on a range predicate. The unsorted write of the SAME data
    is the control: its row-group ranges all span ~the full domain."""
    import pyarrow.parquet as pq

    from artan_spark.sources import write_sorted_table

    e = read_table(spark, SF_DIR, "events").select("event_id", "value", "ts")
    sorted_dir, plain_dir = str(tmp_path / "sorted"), str(tmp_path / "plain")
    write_sorted_table(e, sorted_dir, sort_by="event_id", n_files=4)
    e.repartition(4).write.mode("overwrite").parquet(plain_dir)

    def rg_ranges(d):
        import glob

        spans = []
        for f in glob.glob(d + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                col = md.row_group(rg).column(0)  # event_id
                spans.append((col.statistics.min, col.statistics.max))
        return sorted(spans)

    def overlap_pairs(spans):
        return sum(
            1
            for i, (lo1, hi1) in enumerate(spans)
            for lo2, hi2 in spans[i + 1 :]
            if lo2 <= hi1 and lo1 <= hi2
        )

    s_spans, p_spans = rg_ranges(sorted_dir), rg_ranges(plain_dir)
    assert len(s_spans) >= 4 and len(p_spans) >= 4
    assert overlap_pairs(s_spans) == 0, s_spans  # range-clustered: disjoint
    assert overlap_pairs(p_spans) > 0, p_spans  # control: overlapping

    # semantics unchanged: same rows back
    assert spark.read.parquet(sorted_dir).count() == e.count()


def test_bucketed_stateful_fold_no_exchange(spark):
    """A key-bucketed table feeds the stateful fold SHUFFLE-FREE: the
    FlatMapGroupsInPandas distribution requirement is satisfied by the
    storage bucketing, so model-parallel estimation over pre-bucketed
    event storage scans straight into the fold (the 100-TB layout: bucket
    the fact table by model key once, run every filter pass exchange-free).
    Output must equal the plain (shuffled) fold row-for-row."""
    import numpy as np

    from artan_spark.operators import LinearKalmanFilter

    e = read_table(spark, SF_DIR, "events").select(
        (F.col("user_id") % 8).cast("string").alias("key"),
        "ts",
        F.array("value").alias("measurement"),
    )
    write_bucketed_table(e, "t_ev_fold_bucketed", bucket_by="key", n_buckets=4)
    try:
        lkf = (
            LinearKalmanFilter(1, 1)
            .setStateKeyCol("key")
            .setEventTimeCol("ts")
            .setProcessNoise(np.array([[0.1]]))
            .setMeasurementNoise(np.array([[1.0]]))
            # the exchange-free layout contract belongs to the SEQUENTIAL
            # fold: the auto-selected scan engine repartitions into its own
            # bucket tasks, which (correctly) re-shuffles — a bucketed-by-key
            # deployment that wants to stay shuffle-free pins the sequential engine
            .setFoldEngine("sequential")
        )
        bucketed = lkf.transform(spark.table("t_ev_fold_bucketed"))
        plan = _plan(bucketed)
        assert "Exchange hashpartitioning" not in plan
        assert "Bucketed: true" in plan

        plain = lkf.transform(e)
        key = ["stateKey", "stateIndex"]
        b = bucketed.select("stateKey", "stateIndex", "state.mean").orderBy(*key).collect()
        p = plain.select("stateKey", "stateIndex", "state.mean").orderBy(*key).collect()
        assert b == p
    finally:
        spark.sql("DROP TABLE IF EXISTS t_ev_fold_bucketed")


def test_zordered_sink_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering makes row-group min/max stats tight on BOTH
    columns: against a single-column-sorted control of the same data, the
    second dimension's per-row-group span shrinks from ~the full domain to
    a fraction, while the first dimension stays prunable too."""
    import glob

    import pyarrow.parquet as pq

    from artan_spark.sources import write_sorted_table, write_zordered_table

    e = read_table(spark, "/root/testdata/sf0.01", "events").select("user_id", "value")
    z_dir, s_dir = str(tmp_path / "zorder"), str(tmp_path / "single")
    write_zordered_table(e, z_dir, cols=("user_id", "value"), n_files=16)
    write_sorted_table(e, s_dir, sort_by="user_id", n_files=16)

    def mean_span(d, col_idx, lo, hi):
        spans = []
        for f in glob.glob(d + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                spans.append((st.max - st.min) / (hi - lo))
        assert len(spans) >= 8
        return sum(spans) / len(spans)

    stats = e.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    ulo, uhi, vlo, vhi = [float(x) for x in stats]

    # control: user_id tight, value wide (the skewed value distribution
    # keeps the mean span ~0.67 rather than ~1.0)
    ctl_value = mean_span(s_dir, 1, vlo, vhi)
    assert mean_span(s_dir, 0, ulo, uhi) < 0.25
    assert ctl_value > 0.5
    # z-order: BOTH dimensions materially narrower — the second dimension
    # at least 2x tighter than the single-column control
    assert mean_span(z_dir, 0, ulo, uhi) < 0.5
    assert mean_span(z_dir, 1, vlo, vhi) < 0.5 * ctl_value

    # semantics unchanged: same rows back
    assert spark.read.parquet(z_dir).count() == e.count()


def test_zordered_sink_null_and_all_null_columns(spark, tmp_path):
    """Degenerate z-column inputs must not crash or silently mis-cluster:
    an all-NULL second dimension falls back to a plain write, and rows
    with a NULL in either key are pinned to the domain's low edge (one
    deterministic partition) instead of getting a NULL z-code."""
    from artan_spark.sources import write_zordered_table

    # all-NULL second column: no layout derivable -> plain write, rows intact
    d1 = spark.range(100).select(
        F.col("id").alias("a"), F.lit(None).cast("double").alias("b")
    )
    p1 = str(tmp_path / "all_null")
    write_zordered_table(d1, p1, cols=("a", "b"), n_files=4)
    assert spark.read.parquet(p1).count() == 100

    # sparse NULLs in one key: every row survives the clustered write
    d2 = spark.range(1000).select(
        F.col("id").alias("a"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") * 2).alias("b"),
    )
    p2 = str(tmp_path / "sparse_null")
    write_zordered_table(d2, p2, cols=("a", "b"), n_files=4)
    back = spark.read.parquet(p2)
    assert back.count() == 1000
    assert back.filter(F.col("b").isNull()).count() == 100


def test_jsonl_roundtrip(spark, tmp_path):
    """JSONL export/import: partitioned gzip part files round-trip the
    documents slice value-for-value (schema passed on read — no
    inference pass), and the partition column prunes."""
    from pyspark.sql import functions as F

    from artan_spark.sources import read_jsonl, read_table, write_jsonl

    d = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    out = str(tmp_path / "docs_jsonl")
    write_jsonl(d, out, partition_by="lang")

    import glob
    parts = glob.glob(out + "/lang=*/*.json.gz")
    assert parts, "expected gzipped hive-partitioned part files"

    back = read_jsonl(spark, out, schema="doc_id long, text string, n_chars long, lang string")
    orig = {r.doc_id: (r.lang, r.text, r.n_chars) for r in d.collect()}
    got = {r.doc_id: (r.lang, r.text, r.n_chars) for r in back.collect()}
    assert got == orig

    # partition pruning reaches the scan
    plan = back.filter(F.col("lang") == "en")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan, plan
