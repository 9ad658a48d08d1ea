"""Cluster-safe materialization barrier (operators.core.barrier).

Round-11 verdict item: every loop/reuse site used to call
``localCheckpoint`` directly, which stores unreplicated executor blocks
and truncates lineage — fine in local mode, unrecoverable after an
executor loss on a real cluster.  The barrier seam must (a) keep local
behavior identical (same localCheckpoint call) and (b) pick a
fault-tolerant form when the master is a cluster.
"""

from __future__ import annotations

import pytest

from lachesis_spark.operators import core


class _FakeCheckpointDir:
    def __init__(self, defined: bool):
        self._d = defined

    def isDefined(self):
        return self._d


class _FakeSpark:
    """Just enough surface for barrier_mode()."""

    def __init__(self, master: str, ckpt_dir: bool):
        class _SC:  # noqa: D401 - tiny stub
            pass

        self.sparkContext = _SC()
        self.sparkContext.master = master
        jsc = type("J", (), {})()
        sc_inner = type("S", (), {})()
        sc_inner.getCheckpointDir = lambda: _FakeCheckpointDir(ckpt_dir)
        jsc.sc = lambda: sc_inner
        self.sparkContext._jsc = jsc


@pytest.mark.parametrize(
    "master,ckpt,expect",
    [
        ("local[32]", False, "local"),
        ("local[*]", True, "local"),       # local wins regardless of dir
        ("spark://host:7077", True, "reliable"),
        ("yarn", True, "reliable"),
        ("spark://host:7077", False, "disk"),
        ("k8s://https://api:6443", False, "disk"),
    ],
)
def test_barrier_mode_branches(master, ckpt, expect):
    assert core.barrier_mode(_FakeSpark(master, ckpt)) == expect


def test_barrier_local_is_localcheckpoint(spark, monkeypatch):
    """In local mode barrier() must delegate to localCheckpoint with the
    same eagerness — byte-identical plans to the pre-seam code."""
    df = spark.range(4)
    calls = []
    orig = type(df).localCheckpoint

    def spy(self, eager=True):
        calls.append(eager)
        return orig(self, eager=eager)

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    out = df.transform(core.barrier)
    assert calls == [False]
    out2 = df.transform(core.barrier, eager=True)
    assert calls == [False, True]
    assert out.count() == 4 and out2.count() == 4


def test_barrier_cluster_branch_picks_replicated_or_disk(spark, monkeypatch):
    """The cluster branches must NOT call localCheckpoint: reliable
    checkpoint() when a checkpoint dir exists, DISK_ONLY persist
    otherwise (lineage kept => executor loss recomputes)."""
    df = spark.range(4)
    used = {}
    monkeypatch.setattr(
        type(df), "localCheckpoint",
        lambda self, eager=True: used.setdefault("local", True) or self,
    )
    monkeypatch.setattr(
        type(df), "checkpoint",
        lambda self, eager=True: used.setdefault("reliable", True) or self,
    )
    monkeypatch.setattr(
        type(df), "persist",
        lambda self, level: used.update(disk=level) or self,
    )
    monkeypatch.setattr(core, "barrier_mode", lambda s: "reliable")
    core.barrier(df)
    assert used == {"reliable": True}
    used.clear()
    monkeypatch.setattr(core, "barrier_mode", lambda s: "disk")
    core.barrier(df)
    from pyspark import StorageLevel

    assert used["disk"] == StorageLevel.DISK_ONLY and "local" not in used


def test_barrier_disk_mode_warns_once(spark, monkeypatch):
    """Disk mode keeps lineage, so loop plans grow without bound: the
    first disk-mode barrier of the process warns, later ones stay quiet."""
    import warnings

    df = spark.range(4)
    monkeypatch.setattr(type(df), "persist", lambda self, level: self)
    monkeypatch.setattr(core, "barrier_mode", lambda s: "disk")
    monkeypatch.setattr(core, "_disk_warned", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        core.barrier(df)
        core.barrier(df)
    lineage = [w for w in caught if "keep lineage" in str(w.message)]
    assert len(lineage) == 1, [str(w.message) for w in caught]
    assert issubclass(lineage[0].category, RuntimeWarning)
