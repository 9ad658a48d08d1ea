"""Set rewrites and the bucketed-table lookup go through ``Catalog``: one
directory swap (``catalog._swap_dir``) behind merge_set, apply_cdc,
compact_set, restore_set and the advisor's relayout, and one session-table
lookup (``catalog.describe_table`` under ``ensure_layout_table``)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.catalog import Catalog as SparkCatalog

from lachesis_spark import catalog as catalog_mod
from lachesis_spark.advisor.apply import read_hints, rewrite_layout, write_hints
from lachesis_spark.catalog import (
    HINTS_FILE,
    LAYOUT_FILE,
    STAGED_SUFFIX,
    ZONEMAP_FILE,
    Catalog,
)

HINT = {"salted_join": {"key_cols": ["k"], "n_salts": 4, "top_share": 0.5}}


def _rows(spark, keys, tag="a"):
    return spark.createDataFrame(
        [(k, f"{tag}{k}", 0) for k in keys], "k int, payload string, version int"
    )


def _state(cat, db, name):
    return sorted(tuple(r) for r in cat.read_set(db, name).collect())


def _cat(spark, tmp_path, keys=range(8)):
    cat = Catalog(spark, str(tmp_path))
    cat.create_database("d")
    cat.write_set(_rows(spark, keys).repartition(4), "d", "s")
    return cat


def _merge(cat, spark):
    cat.merge_set(_rows(spark, [1, 9], tag="b"), "d", "s", ["k"])


def _cdc(cat, spark):
    changes = _rows(spark, [1, 9], tag="b").select(
        "k", "payload", F.lit(1).alias("version"), F.lit("upsert").alias("op")
    )
    cat.apply_cdc(changes, "d", "s", ["k"], "version")


def _compact(cat, spark):
    cat.compact_set("d", "s")


@pytest.mark.parametrize("rewrite", [_merge, _cdc, _compact], ids=["merge", "cdc", "compact"])
def test_salting_hint_survives_rewrite(spark, tmp_path, rewrite):
    cat = _cat(spark, tmp_path)
    write_hints(cat, "d", "s", HINT)
    rewrite(cat, spark)
    assert read_hints(cat, "d", "s") == HINT
    assert os.listdir(os.path.join(str(tmp_path), "d")) == ["s"]


def test_salting_hint_survives_relayout_and_restore(spark, tmp_path):
    cat = _cat(spark, tmp_path)
    v1 = cat.snapshot_set("d", "s")
    write_hints(cat, "d", "s", HINT)
    try:
        rewrite_layout(cat, "d", "s", "bucket_by", ["k"], n_buckets=2)
        assert read_hints(cat, "d", "s") == HINT
        # the snapshot froze no hint, so the live one carries over
        cat.restore_set("d", "s", v1)
        assert read_hints(cat, "d", "s") == HINT
        assert _state(cat, "d", "s") == sorted((k, f"a{k}", 0) for k in range(8))
    finally:
        cat.remove_set("d", "s")


def _fail_rename_in(monkeypatch):
    """Make every rename of a staged directory into place raise."""
    real = os.rename

    def rename(src, dst):
        if str(src).rstrip("/").endswith(STAGED_SUFFIX):
            raise OSError("injected rename failure")
        return real(src, dst)

    monkeypatch.setattr(os, "rename", rename)


def test_failed_swap_in_merge_keeps_old_set(spark, tmp_path, monkeypatch):
    cat = _cat(spark, tmp_path)
    before = _state(cat, "d", "s")
    _fail_rename_in(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        _merge(cat, spark)
    monkeypatch.undo()
    assert _state(cat, "d", "s") == before
    assert os.listdir(os.path.join(str(tmp_path), "d")) == ["s"]


def test_failed_swap_in_relayout_keeps_old_set(spark, tmp_path, monkeypatch):
    cat = _cat(spark, tmp_path)
    before = _state(cat, "d", "s")
    _fail_rename_in(monkeypatch)
    try:
        with pytest.raises(OSError, match="injected"):
            rewrite_layout(cat, "d", "s", "bucket_by", ["k"], n_buckets=2)
        monkeypatch.undo()
        assert _state(cat, "d", "s") == before
        assert os.listdir(os.path.join(str(tmp_path), "d")) == ["s"]
        assert not os.path.exists(os.path.join(cat.set_path("d", "s"), LAYOUT_FILE))
        assert not spark.catalog.tableExists(f"d_s{STAGED_SUFFIX}")
    finally:
        cat.remove_set("d", "s")


def test_swap_carries_hints_not_stale_sidecars(tmp_path):
    live, staged = tmp_path / "s", tmp_path / "s__staged"
    live.mkdir()
    staged.mkdir()
    for f in (HINTS_FILE, LAYOUT_FILE, ZONEMAP_FILE, "part-0"):
        (live / f).write_text("old")
    (staged / "part-1").write_text("new")
    catalog_mod._swap_dir(str(live), str(staged))
    assert sorted(os.listdir(live)) == sorted([HINTS_FILE, "part-1"])
    assert (live / HINTS_FILE).read_text() == "old"
    assert sorted(os.listdir(tmp_path)) == ["s"]


def test_swap_recovers_set_left_aside_by_a_crash(tmp_path):
    """A crash between the two renames leaves the live files aside and no
    set directory; the next swap moves them back before it starts."""
    aside, staged = tmp_path / "s.__aside__", tmp_path / "s__staged"
    aside.mkdir()
    (aside / HINTS_FILE).write_text("old")
    staged.mkdir()
    (staged / "part-1").write_text("new")
    catalog_mod._swap_dir(str(tmp_path / "s"), str(staged))
    assert sorted(os.listdir(tmp_path / "s")) == sorted([HINTS_FILE, "part-1"])
    assert sorted(os.listdir(tmp_path)) == ["s"]


def test_partitioned_merge_updates_zonemap_without_full_rebuild(
    spark, tmp_path, monkeypatch
):
    cat = Catalog(spark, str(tmp_path))
    cat.create_database("d")
    base = spark.range(64).selectExpr("int(id) AS k", "int(id % 4) AS p", "0 AS v")
    cat.write_set(base.repartition(4), "d", "s", partition_by=["p"], zonemap_by=["k"])

    def no_rebuild(*a, **kw):
        raise AssertionError("partition-scoped merge rebuilt the whole zonemap")

    monkeypatch.setattr(Catalog, "_write_zonemap", no_rebuild)
    updates = base.filter("p = 1").withColumn("v", F.lit(1))
    cat.merge_set(updates, "d", "s", ["k"], partition_col="p")
    pruned = cat.read_set_pruned("d", "s", "k", 10, 20)
    assert sorted(r.k for r in pruned.collect()) == list(range(10, 21))


@pytest.fixture
def lookups(monkeypatch):
    """Count session-table lookups: tableExists calls and DESCRIBE
    FORMATTED statements."""
    n = {"exists": 0, "describe": 0}
    real_exists, real_sql = SparkCatalog.tableExists, SparkSession.sql

    def table_exists(self, *a, **kw):
        n["exists"] += 1
        return real_exists(self, *a, **kw)

    def sql(self, query, *a, **kw):
        if query.lstrip().upper().startswith("DESCRIBE FORMATTED"):
            n["describe"] += 1
        return real_sql(self, query, *a, **kw)

    monkeypatch.setattr(SparkCatalog, "tableExists", table_exists)
    monkeypatch.setattr(SparkSession, "sql", sql)

    def take():
        out = dict(n)
        n.update(exists=0, describe=0)
        return out

    return take


def test_read_lookup_cost(spark, tmp_path, lookups):
    from lachesis_spark.sources.lachesis_source import read_set

    cat = _cat(spark, tmp_path)
    cat.write_set(_rows(spark, range(8)), "d", "b", bucket_by=(2, ["k"]))
    try:
        lookups()
        cat.read_set("d", "s")
        assert lookups() == {"exists": 1, "describe": 0}
        cat.read_set("d", "b")
        got = lookups()
        assert got["exists"] <= 1 and got["describe"] <= 1
        read_set(spark, "d.b", root=str(tmp_path))
        got = lookups()
        assert got["exists"] <= 1 and got["describe"] <= 1
    finally:
        cat.remove_set("d", "b")
