"""Base-table binding: the session-level seam that resolves table NAMES
to physical incarnations (lachesis_spark/binding.py) — the Spark analog
of the reference dispatcher binding a query's set scans to whatever
layout self-learning placement chose (reference
src/serverFunctionalities/source/DispatcherServer.cc).  Every query
module loads base tables through base_table(), so an UNMODIFIED registry
query can run against an advisor-placed catalog."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from lachesis_spark import binding
from lachesis_spark.binding import base_table, bound, catalog_resolver, read_parquet
from lachesis_spark.catalog import Catalog
from tests.conftest import SF_SMOKE, jobs_in_group


def test_base_table_default_is_plain_read(spark):
    df = base_table(spark, SF_SMOKE, "nation")
    want = spark.read.parquet(os.path.join(SF_SMOKE, "nation.parquet"))
    assert df.count() == want.count()
    assert df.schema == want.schema


def test_bound_resolver_reroutes_and_restores(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    nat = spark.read.parquet(os.path.join(SF_SMOKE, "nation.parquet"))
    cat.write_set(nat.limit(3), "db", "nation")

    def resolver(spark_, sf_dir_, name):
        return cat.read_set("db", name) if name == "nation" else None

    n_all = nat.count()
    with bound(resolver):
        assert base_table(spark, SF_SMOKE, "nation").count() == 3
        # uncovered tables fall through to the plain read
        assert base_table(spark, SF_SMOKE, "region").count() == 5
        with bound(lambda s, d, n: None):  # nested: inner covers nothing
            assert base_table(spark, SF_SMOKE, "nation").count() == n_all
        assert base_table(spark, SF_SMOKE, "nation").count() == 3  # restored
    assert base_table(spark, SF_SMOKE, "nation").count() == n_all


def test_unmodified_registry_query_runs_against_placed_catalog(spark, tmp_path):
    """The payoff: tpch_q12 — untouched registry code — rebound to a
    catalog whose lineitem/orders were bucketed on the join key plans the
    join with ZERO shuffle Exchanges and returns rows identical to the
    flat run.  This is what the whole-workload advisor bench does to all
    192 queries."""
    from lachesis_spark.plans import tpch

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    for t, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        df = spark.read.parquet(os.path.join(SF_SMOKE, f"{t}.parquet"))
        cat.write_set(df, "db", t, bucket_by=(4, [key]))

    flat = sorted(tuple(r) for r in tpch.q12(spark, SF_SMOKE).collect())

    resolver = catalog_resolver(cat, "db", {"lineitem": "lineitem",
                                            "orders": "orders"})
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        with bound(resolver):
            df = tpch.q12(spark, SF_SMOKE)
            placed = sorted(tuple(r) for r in df.collect())
            plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert placed == flat
    # the join itself is exchange-free; the aggregate's exchange (a
    # different key) legitimately remains
    import re

    join_keys = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert not any(k.startswith(("l_orderkey", "o_orderkey"))
                   for k in join_keys), plan


def test_events_reader_honors_binding(spark, tmp_path):
    """read_events routes through the binding too (ts normalization applies
    to whatever incarnation serves the table)."""
    from lachesis_spark.sources.readers import read_events

    cat = Catalog(spark, str(tmp_path))
    cat.create_database("db")
    ev = spark.read.parquet(os.path.join(SF_SMOKE, "events.parquet"))
    cat.write_set(ev.limit(7), "db", "events")

    with bound(catalog_resolver(cat, "db", {"events": "events"})):
        got = read_events(spark, SF_SMOKE)
        assert got.count() == 7
        assert dict(got.dtypes)["ts"] in ("timestamp_ntz", "timestamp")
    assert read_events(spark, SF_SMOKE).count() == ev.count()


# -- schema cache (binding.read_parquet) ------------------------------------


def _write_arrow(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), path)


def test_second_read_of_unchanged_table_launches_no_job(spark, tmp_path):
    import shutil

    sf = str(tmp_path)
    shutil.copy(os.path.join(SF_SMOKE, "nation.parquet"), sf)
    _, first = jobs_in_group(
        spark, "binding-first", lambda: base_table(spark, sf, "nation")
    )
    df, second = jobs_in_group(
        spark, "binding-second", lambda: base_table(spark, sf, "nation")
    )
    assert first >= 1 and second == 0, (first, second)
    fresh = spark.read.parquet(os.path.join(sf, "nation.parquet"))
    assert df.schema == fresh.schema
    assert sorted(df.collect()) == sorted(fresh.collect())


def test_rewritten_file_reinfers_schema(spark, tmp_path):
    import pyarrow as pa

    p = str(tmp_path / "t.parquet")
    _write_arrow(p, a=pa.array([1, 2], pa.int64()))
    assert read_parquet(spark, p).schema.fieldNames() == ["a"]
    entries = len(binding._SCHEMAS)
    _write_arrow(p, b=pa.array(["x"]), c=pa.array([1.5]))
    df, jobs = jobs_in_group(spark, "binding-rewrite", lambda: read_parquet(spark, p))
    assert df.schema.fieldNames() == ["b", "c"] and jobs >= 1
    # the entry for the path is replaced, not added to
    assert len(binding._SCHEMAS) == entries


def test_added_part_file_reinfers_schema(spark, tmp_path):
    import pyarrow as pa

    d = str(tmp_path / "set")
    os.makedirs(d)
    _write_arrow(os.path.join(d, "part-0.parquet"), a=pa.array([1], pa.int64()))
    read_parquet(spark, d)
    _, warm = jobs_in_group(spark, "binding-dir-warm", lambda: read_parquet(spark, d))
    # a sidecar is not a data file: it leaves the key alone
    with open(os.path.join(d, "_SUCCESS"), "w"):
        pass
    _, sidecar = jobs_in_group(spark, "binding-dir-side", lambda: read_parquet(spark, d))
    _write_arrow(os.path.join(d, "part-1.parquet"), a=pa.array([2], pa.int64()))
    df, added = jobs_in_group(spark, "binding-dir-add", lambda: read_parquet(spark, d))
    assert (warm, sidecar) == (0, 0) and added >= 1, (warm, sidecar, added)
    assert sorted(r.a for r in df.collect()) == [1, 2]


def test_infer_conf_flip_reinfers_schema(spark, tmp_path):
    """A ``timestamp(ns)`` column is a long under nanosAsLong and illegal
    without it; a ``timestamp(us)`` column is NTZ or LTZ by
    inferTimestampNTZ.  A flip must never be served the other schema."""
    import pyarrow as pa
    import pytest
    from pyspark.sql import types as T

    ns, us = str(tmp_path / "ns.parquet"), str(tmp_path / "us.parquet")
    _write_arrow(ns, ts=pa.array([1, 2], pa.timestamp("ns")))
    _write_arrow(us, ts=pa.array([1, 2], pa.timestamp("us")))
    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    ntz = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = {k: spark.conf.get(k) for k in (nanos, ntz)}
    try:
        spark.conf.set(nanos, "true")
        spark.conf.set(ntz, "true")
        assert read_parquet(spark, ns).schema["ts"].dataType == T.LongType()
        assert read_parquet(spark, us).schema["ts"].dataType == T.TimestampNTZType()
        spark.conf.set(nanos, "false")
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            read_parquet(spark, ns).schema
        spark.conf.set(ntz, "false")
        assert read_parquet(spark, us).schema["ts"].dataType == T.TimestampType()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert read_parquet(spark, ns).schema["ts"].dataType == T.LongType()


def test_resolver_served_table_never_touches_cache(spark, monkeypatch):
    monkeypatch.setattr(binding, "_SCHEMAS", {})
    served = spark.range(3)
    with bound(lambda s, d, n: served if n == "nation" else None):
        assert base_table(spark, SF_SMOKE, "nation") is served
    assert binding._SCHEMAS == {}
    base_table(spark, SF_SMOKE, "nation")
    assert list(binding._SCHEMAS) == [os.path.join(SF_SMOKE, "nation.parquet")]
