"""Generate PLANS.md: a per-query physical-plan quality report.

For every registry query, records the plan features that matter at scale:
join strategies chosen, whether scans carry pushed filters and pruned
schemas, aggregation shape (partial+final), top-k operator, Python
boundaries, and AQE presence.  Usage:

    python tools/plan_report.py [sf_dir]   # default /root/testdata/sf0.001
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lachesis_spark.registry import QUERIES
from lachesis_spark.session import get_spark

FEATURES = [
    ("BHJ", r"BroadcastHashJoin"),
    ("SMJ", r"SortMergeJoin"),
    ("BNLJ", r"BroadcastNestedLoopJoin"),
    ("pushdown", r"PushedFilters: \[[^\]]"),
    ("partial-agg", r"partial_"),
    ("take-ordered", r"TakeOrderedAndProject"),
    ("window", r"RunningWindowFunction|Window"),
    ("arrow-python", r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|MapInArrow"),
    ("row-python", r"BatchEvalPython"),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan_report")
    lines = [
        "# PLANS — physical-plan features per query",
        "",
        f"Auto-generated by `python tools/plan_report.py {sf_dir}`. Feature",
        "flags found in each query's executed plan: BHJ=BroadcastHashJoin,",
        "SMJ=SortMergeJoin, BNLJ=BroadcastNestedLoopJoin (tiny-side only),",
        "pushdown=non-empty parquet PushedFilters, partial-agg=map-side",
        "combine, take-ordered=per-partition top-k heap, arrow-python=",
        "Arrow-batched Python stage, row-python=per-row Python (should",
        "never appear).  Queries marked `eager` compute inside the query",
        "function (iterative / driver-bounded results released with their",
        "caches); their returned frame is a LocalTableScan, so read their",
        "plan shape from the module scale notes, not this table.",
        "",
        "| query | plan features |",
        "|---|---|",
    ]
    # queries whose returned frame is a driver-built result (the real plan
    # ran inside the function: GD loops, convergence sweeps, bounded
    # collects released with their caches)
    EAGER = {
        "quality_classifier", "tok_bpe_train", "tok_bpe_merges",
        "dedup_recall", "dedup_components_conv", "sample_temperature",
        "dedup_ngram_jaccard", "tok_bpe_batch", "text_zipf",
        # round 7: convergence peel loop / catalog-writing queries run
        # driver actions while BUILDING the returned frame
        "graph_kcore", "ds_zonemap_prune", "ds_cdc_apply", "mv_incremental",
    }
    for name in sorted(QUERIES):
        try:
            df = QUERIES[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            feats = [label for label, pat in FEATURES if re.search(pat, plan)]
            if name in EAGER:
                feats = ["eager"] + feats
                lines.append(f"| `{name}` | {', '.join(feats)} |")
                continue
            lines.append(f"| `{name}` | {', '.join(feats) or '(scan/project only)'} |")
        except Exception as e:  # noqa: BLE001
            lines.append(f"| `{name}` | ERROR {type(e).__name__} |")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
