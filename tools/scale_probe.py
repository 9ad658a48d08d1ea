"""Scale probe: do the headline plans actually scale ~linearly?

SCALE.md argues per-component that every plan survives a 100× scale-up;
this tool measures it.  The driver testdata is read-only and tops out at
sf0.1, so the probe *builds* a larger dataset from sf0.1 itself: N
key-shifted copies unioned per table (foreign keys shifted with the same
stride so referential integrity and join fan-out are preserved; document
text gets a per-copy suffix so dedup does not become quadratic *by
construction* — copy k of a doc is not a near-dup of copy j).  region and
nation stay fixed-size, exactly like TPC-H at any SF.

Each headline query first runs steady-state (untimed warm-up + timed run,
same protocol as bench.py) at sf0.1, which records the tables it reads
through ``binding.base_table``.  Only those tables are built at the scaled
SF (a table of an earlier build that these queries do not read is
removed, so a read outside ``base_table`` fails with PATH_NOT_FOUND
instead of timing a stale copy).  Then each query runs the same way at
the scaled SF, and we report the time ratio and the scaling exponent
e = log(t_big/t_small)/log(N):
e <= ~1 is linear or better, e >> 1 means a super-linear plan that would
not survive 100 TB.  Fixed per-query overhead (JVM scheduling, Python
driver) deflates exponents at these sizes, so the signal to act on is a
LARGE exponent, not a small one.

Usage:
    python tools/scale_probe.py [--factor 10] [--out /tmp/scale_sf1]
        [--queries q1,q2,...] [--skip-build]
``--skip-build`` times whatever an earlier ``--keep`` run left in ``--out``.
Writes one JSON line (driver-style) and a markdown table to stdout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SRC_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# per-copy key stride — far above any sf0.1 key so shifted copies never
# collide, and FK pairs (orders.o_custkey <-> customer.c_custkey, ...)
# shift together so join fan-out per key is unchanged
STRIDE = 100_000_000

# id columns to shift per table; region/nation are fixed dims (copied once)
SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
FIXED_TABLES = ["region", "nation"]

# subsystem-representative headliners (one per SCALE.md shuffle-inventory row)
DEFAULT_QUERIES = [
    "tpch_q01", "tpch_q03", "tpch_q09", "tpch_q18", "tpch_q21",
    "op_join_multiway", "op_window_analytics", "op_jaccard_topk",
    "dedup_exact", "dedup_minhash_lsh", "dedup_components",
    "ann_ivf", "text_repetition", "text_unigram_logprob",
    "win_tumbling", "pagerank", "sample_split", "pack_sequences",
    # round-4 training-corpus operators
    "tok_bpe_train", "dedup_chunks", "quality_classifier", "shard_corpus",
]


def build_scaled(
    spark: SparkSession, src: str, out: str, factor: int, tables: set[str]
) -> None:
    """Write the ×``factor`` copy of each table in ``tables`` under ``out``,
    and remove every other table an earlier build left there."""
    os.makedirs(out, exist_ok=True)
    for name in [*FIXED_TABLES, *SHIFT_COLS]:
        if name not in tables:
            shutil.rmtree(os.path.join(out, f"{name}.parquet"), ignore_errors=True)
    for name in FIXED_TABLES:
        if name in tables:
            df = spark.read.parquet(os.path.join(src, f"{name}.parquet"))
            df.write.mode("overwrite").parquet(os.path.join(out, f"{name}.parquet"))
    for name, keys in SHIFT_COLS.items():
        path = os.path.join(src, f"{name}.parquet")
        if name not in tables or not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        copies: list[DataFrame] = []
        for i in range(factor):
            c = df
            for k in keys:
                c = c.withColumn(k, (F.col(k) + F.lit(i * STRIDE)).cast("long"))
            if name == "documents" and i > 0:
                # decorrelate text across copies: otherwise every doc gains
                # factor-1 near-twins and dedup pair counts grow as N^2 by
                # construction, drowning the engine signal.  A suffix is not
                # enough — MinHash shingles would still collide across
                # copies — so prefix EVERY token with a copy tag, which
                # rewrites every shingle while preserving token count and
                # frequency shape.
                tag = f"c{i}_"
                c = c.withColumn(
                    "text",
                    F.array_join(
                        F.transform(
                            F.split(F.col("text"), " "),
                            lambda t: F.concat(F.lit(tag), t),
                        ),
                        " ",
                    ),
                )
                c = c.withColumn("n_chars", F.length("text"))
            copies.append(c)
        big = copies[0]
        for c in copies[1:]:
            big = big.unionByName(c)
        # spread over enough files that the scan fans out like real data
        big.repartition(max(4, 2 * factor)).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )


def time_query(fn, spark: SparkSession, sf_dir: str) -> float:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm-up
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--out", default="/tmp/lachesis_scale_probe")
    ap.add_argument("--queries", default=",".join(DEFAULT_QUERIES))
    ap.add_argument("--skip-build", action="store_true")
    ap.add_argument("--keep", action="store_true", help="keep the scaled dataset")
    args = ap.parse_args()

    from lachesis_spark.binding import bound
    from lachesis_spark.registry import QUERIES
    from lachesis_spark.session import get_spark

    spark = get_spark("scale_probe")
    qnames = [q for q in args.queries.split(",") if q]
    unknown = [q for q in qnames if q not in QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    read: set[str] = set()

    def record(_spark, _sf_dir, name):
        read.add(name)
        return None  # fall through to the default read

    with bound(record):
        t_smalls = {q: time_query(QUERIES[q], spark, SRC_SF) for q in qnames}

    if not args.skip_build:
        t0 = time.perf_counter()
        build_scaled(spark, SRC_SF, args.out, args.factor, read)
        print(f"# built x{args.factor} tables {sorted(read)} in "
              f"{time.perf_counter()-t0:.1f}s at {args.out}", file=sys.stderr)

    results: dict[str, dict] = {}
    for q in qnames:
        t_small = t_smalls[q]
        t_big = time_query(QUERIES[q], spark, args.out)
        exp = math.log(max(t_big, 1e-9) / max(t_small, 1e-9)) / math.log(args.factor)
        results[q] = {
            "t_sf0.1": round(t_small, 3),
            f"t_x{args.factor}": round(t_big, 3),
            "ratio": round(t_big / t_small, 2),
            "exponent": round(exp, 2),
        }
        print(f"# {q}: {t_small:.2f}s -> {t_big:.2f}s  ratio {t_big/t_small:.2f} "
              f"exp {exp:.2f}", file=sys.stderr)

    print(json.dumps({"factor": args.factor, "queries": results}))
    print("\n| query | t(sf0.1) s | t(x%d) s | ratio | exponent |" % args.factor)
    print("|---|---|---|---|---|")
    for q, r in results.items():
        print(f"| {q} | {r['t_sf0.1']} | {r[f't_x{args.factor}']} | "
              f"{r['ratio']} | {r['exponent']} |")

    if not args.keep and not args.skip_build:
        shutil.rmtree(args.out, ignore_errors=True)


if __name__ == "__main__":
    main()
