"""Apply every advisor recommendation to a workload's catalog in one call —
the half of the self-learning loop the reference performs inside its
load-job optimizers (reference README.md:151-268: observe → optimize →
re-place → the SAME query runs faster), packaged so a deployment goes from
an empty HistoryDB to a re-placed catalog with no manual steps:

    reports = advise_all(history)
    applied = apply_all(catalog, reports, resolve={"lineitem": ("db", "li")})
    # bucket/zorder rewrites + compactions are now on disk; salting hints
    # are in each set's _lachesis_hints.json sidecar, and hinted_join()
    # picks them up at query time.

Layout rewrites go through :meth:`Catalog.relayout_set`: a staged set +
directory swap, so the source files are never overwritten while being read
(Spark refuses in-place overwrite of a path it scans), the old layout stays
intact until the new one is fully written, and a failed swap leaves the old
set in place — the same crash-safe swap every catalog rewrite uses.
Salting is a QUERY-TIME decision, not a storage layout, so "applying" it
means persisting the recommendation next to the data, where it survives
merges, CDC applies, compactions and relayouts, and where
:func:`hinted_join` (and any other consumer) finds it — the exact analog
of the reference distributing its learned partition lambda with the set.

Measured end-to-end in tools/advisor_closed_loop.py → ADVISOR_DEMO.md.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame

from lachesis_spark.advisor.recommender import (
    PlacementReport,
    SaltingRecommendation,
)
from lachesis_spark.catalog import HINTS_FILE


@dataclass(frozen=True)
class AppliedAction:
    dataset: str
    action: str  # 'bucket_by' | 'zorder' | 'compact' | 'salting_hint'
    detail: str


N_GRID_RANGES = 4  # range slices per bucket_range_grid rewrite: files per
# table = n_buckets × this, so keep it small at bench scale; at 100 TB size
# it to total_bytes / target_file_bytes / n_buckets instead.


def rewrite_layout(
    cat, db: str, name: str, kind: str, key_cols, n_buckets: int = 32,
    range_cols=(),
):
    """Rewrite ``db.name`` under the recommended layout: this picks the
    :meth:`Catalog.write_set` layout arguments for ``kind``, and
    :meth:`Catalog.relayout_set` does the staged write, the directory swap
    and the layout-table re-registration, so bucket-key joins plan
    exchange-free immediately."""
    if kind == "keep_flat":
        return  # the measured no-op arm: the existing layout IS the choice
    df = cat.read_set(db, name)
    if kind == "bucket_by":
        cat.relayout_set(df, db, name, bucket_by=(n_buckets, list(key_cols)))
    elif kind == "bucket_range_grid":
        # hybrid: each range-slice task writes one file per bucket it
        # holds, so files are (filter-range × join-bucket) cells — the
        # zonemap prunes them in the filter dimension, the bucket spec
        # keeps the join exchange-free (multi-file buckets re-sort at
        # read; the measured arbitration decided that trade was worth it)
        cat.relayout_set(
            df.repartitionByRange(N_GRID_RANGES, *range_cols),
            db,
            name,
            bucket_by=(n_buckets, list(key_cols)),
            zonemap_by=list(range_cols),
            bucket_pre_partitioned=True,
        )
    elif kind == "zorder":
        # a z-ordered set gets zone maps on its z-columns for free: the
        # clustering is exactly what makes per-file ranges prunable
        cat.relayout_set(
            df, db, name, zorder_by=list(key_cols), zonemap_by=list(key_cols)
        )
    elif kind == "range_zonemap":
        cat.relayout_set(
            df.repartitionByRange(n_buckets, *key_cols),
            db,
            name,
            zonemap_by=list(key_cols),
        )
    else:
        raise ValueError(f"unknown layout kind {kind!r}")


def write_hints(cat, db: str, name: str, hints: dict) -> None:
    with open(os.path.join(cat.set_path(db, name), HINTS_FILE), "w") as fh:
        json.dump(hints, fh)


def read_hints(cat, db: str, name: str) -> dict:
    p = os.path.join(cat.set_path(db, name), HINTS_FILE)
    if not os.path.exists(p):
        return {}
    with open(p) as fh:
        return json.load(fh)


def apply_salting_hint(cat, db: str, name: str, rec: SaltingRecommendation) -> None:
    hints = read_hints(cat, db, name)
    hints["salted_join"] = {
        "key_cols": sorted(rec.key_cols),
        "n_salts": rec.n_salts,
        "top_share": rec.top_share,
    }
    write_hints(cat, db, name, hints)


def hinted_join(
    cat,
    db: str,
    name: str,
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
) -> DataFrame:
    """Join that consults ``db.name``'s persisted salting hint: when the
    advisor recorded skew on this join key, the plan salts with the
    recommended fan-out; otherwise it is a plain equi-join.  This is the
    query-time half of applying a SaltingRecommendation."""
    from lachesis_spark.operators.core import salted_join

    hint = read_hints(cat, db, name).get("salted_join")
    if hint and left_key in hint["key_cols"]:
        return salted_join(left, right, left_key, right_key, n_salts=hint["n_salts"])
    return left.join(right, left[left_key] == right[right_key], "inner")


def apply_report(
    cat,
    report: PlacementReport,
    db: str,
    name: str,
    n_buckets: int = 32,
    cores: int = 32,
) -> list[AppliedAction]:
    """Apply one dataset's full PlacementReport: layout rewrite, then
    compaction (skipped when the layout rewrite already re-laid the files —
    a bucketed write IS file-size-normalized, one file per bucket), then
    the salting hint."""
    actions: list[AppliedAction] = []
    if report.layout is not None:
        rewrite_layout(
            cat, db, name, report.layout.kind, report.layout.key_cols, n_buckets,
            range_cols=report.layout.range_cols,
        )
        detail = ",".join(report.layout.key_cols)
        if report.layout.range_cols:
            detail += f" × range({','.join(report.layout.range_cols)})"
        actions.append(
            AppliedAction(report.dataset, report.layout.kind, detail)
        )
    elif report.file_size is not None:
        n_after = cat.compact_set(
            db, name, target_file_bytes=report.file_size.target_file_bytes
        )
        actions.append(
            AppliedAction(
                report.dataset,
                "compact",
                f"{report.file_size.n_files_now}->{n_after} files",
            )
        )
    if report.salting is not None:
        apply_salting_hint(cat, db, name, report.salting)
        actions.append(
            AppliedAction(
                report.dataset,
                "salting_hint",
                f"{report.salting.key_text} x{report.salting.n_salts}",
            )
        )
    return actions


def apply_all(
    cat,
    reports: list[PlacementReport],
    resolve: dict[str, tuple[str, str]],
    n_buckets: int = 32,
    cores: int = 32,
) -> list[AppliedAction]:
    """Apply every report whose dataset resolves to a catalog set.

    ``resolve`` maps the history's dataset names (captured from plan
    sources, e.g. ``"lineitem"`` or ``"db.frag"``) to ``(db, set)``;
    unresolved datasets are skipped — the advisor may know about external
    tables the catalog does not own."""
    out: list[AppliedAction] = []
    for rep in reports:
        target = resolve.get(rep.dataset)
        if target is None:
            continue
        out.extend(apply_report(cat, rep, *target, n_buckets=n_buckets, cores=cores))
    return out
