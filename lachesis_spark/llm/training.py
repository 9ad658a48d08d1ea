"""Training-corpus construction operators: tokenizer training, quality
classification, sharding, and token-budget mixture planning.

These close the loop the other ``llm/`` modules start: after a corpus is
deduped (``dedup``), scrubbed (``scrub``), scored (``textstats``) and
sampled (``sampling``), a pretraining pipeline still has to (a) train its
tokenizer on the corpus, (b) train/apply a learned quality filter, (c)
materialize the corpus as balanced shards for the data loader, and (d)
decide per-source sampling rates for a fixed token budget.  The reference
engine has none of this surface (SURVEY §2.8 gap list) — these are
beyond-reference capabilities in the same oracle-gated style.

Operators
---------
- ``tok_bpe_train``     : two distributed rounds of BPE merge training —
  corpus-wide adjacent-symbol pair counting, argmax merge selection, merge
  application, recount.  Pair counting is the scale-relevant step: the
  corpus collapses to its vocabulary (``groupBy(word)``) before any
  per-character work, so the expensive expressions run once per distinct
  word, not once per token, and the only big shuffle carries (word, count).
- ``quality_classifier``: distributed logistic-regression training by
  batch gradient descent — per-row gradients are column expressions, each
  iteration is ONE aggregation producing a d+1-vector (map-side combined),
  the driver holds only the weight vector (the same bounded-collect pattern
  as k-means centroids).  Label: is-English from surface features, so the
  run is fully deterministic and oracle-checkable.
- ``shard_corpus``      : deterministic hash sharding of the corpus into
  ``N_SHARDS`` balanced shards (the data-loader layout step); the query
  form returns per-shard balance stats, ``write_shards`` materializes one
  file per shard.
- ``sample_token_budget``: given per-source mixture weights and a global
  token budget, compute per-source keep-rates / epoch counts in one scan +
  one tiny aggregation — the planner that feeds ``sampling.mix_sources``.
- ``sample_temperature``: temperature-scaled language mixture
  (``p_l ∝ tokens_l^α``), the multilingual-pretraining rebalancing standard;
  same one-scan shape with normalization over the languages-sized frame.

Scale notes
-----------
- ``tok_bpe_train`` at 100 TB: token explode → (word, count) is the only
  corpus-sized shuffle and it is map-side combined; everything after runs
  on the vocabulary (``|V|`` ~ millions of rows, KBs per row).  This is the
  standard scalable BPE formulation (count once, merge on the vocab).
- ``quality_classifier`` moves d+1 doubles per iteration to the driver;
  corpus size only affects the scan.  3 iterations = 3 scans; cache the
  (tiny) feature projection to make them 3 in-memory passes.
- ``shard_corpus`` is scan + one shuffle by shard id, the minimum any
  full-corpus re-layout can do.

Merge-application correctness: the round-1 merge is applied by string
``replace`` on the space-joined SINGLE-CHARACTER symbol sequence.  With
one-char symbols the string alternates char/space, so every occurrence of
``'a b'`` is symbol-aligned, and left-to-right non-overlapping replacement
is exactly BPE's greedy-left merge order.  (With multi-char symbols string
replace could false-match across symbol boundaries, which is why this
module counts — but never string-replaces — in round 2.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lachesis_spark.functions import hashing as H
from lachesis_spark.functions import text as TX

from lachesis_spark.llm.textstats import _docs

from lachesis_spark.operators.core import barrier as _barrier

QUERIES: dict = {}
ORACLE: dict = {}

SEED_SHARD = 2401
N_SHARDS = 32
BPE_TOP = 10
LR = 1.0
GD_ITERS = 3
TOKEN_BUDGET = 2_000_000
MIX_WEIGHTS = (("src0", 0.3), ("src5", 0.3), ("src10", 0.2), ("src15", 0.2))

_SQL_TOKENS = "list_filter(string_split(lower(text), ' '), t -> t <> '')"
_KEY_SQL = "CAST(doc_id AS VARCHAR)"


# ---------------------------------------------------------------------------
# 1. Distributed BPE tokenizer training (two unrolled merge rounds)
def bpe_pair_counts(vocab: DataFrame) -> DataFrame:
    """(seq, c) -> (pair, cnt): adjacent-symbol pairs weighted by word count.

    ``seq`` is the space-joined symbol sequence; symbols never contain
    spaces.  Guarded so 1-symbol sequences yield no pairs (Spark's
    ``sequence(1, 0)`` counts DOWN, unlike DuckDB's empty list).
    """
    pairs = vocab.select(
        "c",
        F.explode(
            F.expr(
                "CASE WHEN size(split(seq, ' ')) < 2 THEN array()"
                " ELSE transform(sequence(0, size(split(seq, ' ')) - 2),"
                "   i -> concat(split(seq, ' ')[i], ' ', split(seq, ' ')[i + 1]))"
                " END"
            )
        ).alias("pair"),
    )
    return pairs.groupBy("pair").agg(F.sum("c").alias("cnt"))


def bpe_train_rounds(
    docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame, tuple[DataFrame, ...]]:
    """(p1, p2, best1, cached): round-1 pair counts, the selected merge, the
    post-merge round-2 pair counts, and the internally cached frames — the
    caller must ``unpersist()`` those after its final action (tok_bpe_train
    does; a leaked cache survives for the rest of the session otherwise)."""
    # corpus -> vocabulary: the only corpus-sized shuffle, map-side combined
    wc = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    seqs = wc.select(
        "c",
        F.expr(
            "array_join(transform(sequence(1, length(w)),"
            " i -> substring(w, i, 1)), ' ')"
        ).alias("seq"),
    ).cache()
    p1 = bpe_pair_counts(seqs).cache()
    best1 = (
        p1.orderBy(F.desc("cnt"), F.asc("pair"))
        .limit(1)
        .select(
            F.col("pair").alias("bp"),
            F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
        )
    )
    seqs2 = seqs.crossJoin(F.broadcast(best1)).select(
        "c", F.replace(F.col("seq"), F.col("bp"), F.col("merged")).alias("seq")
    )
    p2 = bpe_pair_counts(seqs2)
    return p1, p2, best1, (seqs, p1)


def tok_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    p1, p2, _, cached = bpe_train_rounds(_docs(spark, sf_dir))

    def topk(p: DataFrame, rnd: int) -> list[tuple]:
        # TakeOrdered (per-partition k-heaps + driver merge) brings exactly
        # BPE_TOP rows to the driver, already sorted; ranking them is driver
        # arithmetic.  Ranking the full pair-count frame with an
        # unpartitioned Window would sort the whole vocabulary-sized frame
        # in ONE task — at web-corpus scale the distinct-pair table is
        # 1e7-1e8 rows (and a constant partitionBy doesn't help: Catalyst
        # folds it away and the single-partition window comes back).
        rows = p.orderBy(F.desc("cnt"), F.asc("pair")).limit(BPE_TOP).collect()
        return [(rnd, i + 1, r["pair"], r["cnt"]) for i, r in enumerate(rows)]

    try:
        rows = topk(p1, 1) + topk(p2, 2)
    finally:
        for df in cached:
            df.unpersist()
    return spark.createDataFrame(rows, "round int, rnk int, pair string, cnt bigint")


_BPE_PAIRS_SQL = (
    "CASE WHEN len(string_split(seq, ' ')) < 2 THEN []"
    " ELSE list_transform(generate_series(1, len(string_split(seq, ' ')) - 1),"
    "   i -> string_split(seq, ' ')[i] || ' ' || string_split(seq, ' ')[i + 1])"
    " END"
)

TOK_BPE_TRAIN_SQL = f"""
WITH wc AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest({_SQL_TOKENS}) AS w FROM documents)
  GROUP BY w
),
seqs AS (
  SELECT c,
         array_to_string(list_transform(generate_series(1, length(w)),
                                        i -> substr(w, i, 1)), ' ') AS seq
  FROM wc
),
p1 AS (
  SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
  FROM (SELECT c, unnest({_BPE_PAIRS_SQL}) AS pair FROM seqs)
  GROUP BY pair
),
b1 AS (
  SELECT pair AS bp, replace(pair, ' ', '') AS merged
  FROM p1 ORDER BY cnt DESC, pair LIMIT 1
),
seqs2 AS (
  SELECT c, replace(seq, (SELECT bp FROM b1), (SELECT merged FROM b1)) AS seq
  FROM seqs
),
p2 AS (
  SELECT pair, CAST(sum(c) AS BIGINT) AS cnt
  FROM (SELECT c, unnest({_BPE_PAIRS_SQL}) AS pair FROM seqs2)
  GROUP BY pair
),
r1 AS (
  SELECT 1 AS round,
         CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rnk,
         pair, cnt
  FROM p1
),
r2 AS (
  SELECT 2 AS round,
         CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS INT) AS rnk,
         pair, cnt
  FROM p2
)
SELECT round, rnk, pair, cnt FROM r1 WHERE rnk <= {BPE_TOP}
UNION ALL
SELECT round, rnk, pair, cnt FROM r2 WHERE rnk <= {BPE_TOP}
"""

QUERIES["tok_bpe_train"] = tok_bpe_train
ORACLE["tok_bpe_train"] = TOK_BPE_TRAIN_SQL


# ---------------------------------------------------------------------------
# 1b. N-round BPE merge training (the production form: real tokenizers run
#     thousands of merge rounds, not the 2 the unrolled oracle query above
#     proves).  Symbols live as an array<string> column; each round is
#     (a) pair count over the vocabulary (explode + map-side-combined sum),
#     (b) argmax merge selection via orderBy().limit(1) = TakeOrdered, with
#         exactly ONE row collected to the driver — the accumulated merge
#         table is driver-held, like k-means centroids,
#     (c) merge application as a greedy left-to-right fold (F.aggregate)
#         over the symbol array.  String replace is NOT safe once symbols
#         are multi-char (pattern 'a c' false-matches inside 'ba c'); the
#         fold merges only symbol-aligned adjacent (p1, p2) occurrences,
#         skipping overlaps exactly like greedy BPE (in 'a a a' with merge
#         (a,a), positions 0-1 merge and position 2 survives).
#
#     Scale: the corpus collapses to (word, count) in the first shuffle and
#     never participates again; every round runs on the vocabulary frame
#     (millions of rows at web scale, KBs per row).  `localCheckpoint`
#     every CHECKPOINT_EVERY rounds truncates the fold-expression lineage so
#     round N's plan doesn't replay rounds 1..N-1 (same pattern as
#     plans/iterative.py pagerank).  Per-round cost is therefore flat in the
#     round number — measured in SCALE.md for 32 rounds at sf0.1.
N_BPE_ROUNDS = 8
CHECKPOINT_EVERY = 4

_PAIRS_FROM_SYMS = (
    "CASE WHEN size(syms) < 2 THEN CAST(array() AS array<string>)"
    " ELSE transform(sequence(0, size(syms) - 2),"
    "   i -> concat(syms[i], ' ', syms[i + 1])) END"
)


def bpe_merge_symbols(syms, p1: str, p2: str):
    """Greedy left-to-right non-overlapping merge of adjacent (p1, p2)
    symbol pairs — the BPE merge-application step, as a pure fold
    expression (no UDF).  Non-overlap falls out of the fold: a merge
    replaces the accumulator tail with ``p1 + p2``, which can never equal
    ``p1`` (p2 is non-empty), so a freshly merged token is never consumed
    as the left half of the next merge in the same round."""
    merged = p1 + p2
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(p1))
            & (s == F.lit(p2)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _pair_counts_syms(syms_df: DataFrame) -> DataFrame:
    return (
        syms_df.select("c", F.explode(F.expr(_PAIRS_FROM_SYMS)).alias("pair"))
        .groupBy("pair")
        .agg(F.sum("c").alias("cnt"))
    )


def bpe_train_n(
    docs: DataFrame,
    n_rounds: int,
    checkpoint_every: int = CHECKPOINT_EVERY,
    on_round=None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run ``n_rounds`` of BPE merge training; returns (merge table rows
    [(round, pair, merged, cnt)], final symbol-array vocabulary frame).

    One driver-bound row is collected per round (the selected merge); the
    vocabulary itself never leaves the cluster.  ``on_round(r, seconds)``
    is called after each round (timing hook for the scale probe)."""
    import time as _time
    wc = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    syms = wc.select(
        "w",  # kept so encode-side consumers can join words back to docs
        "c",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    ).transform(_barrier, eager=True)  # corpus shuffle happens exactly once
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, n_rounds + 1):
        t0 = _time.perf_counter()
        best = (
            _pair_counts_syms(syms)
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not best:
            break  # vocabulary fully collapsed — nothing left to merge
        pair, cnt = best[0]["pair"], int(best[0]["cnt"])
        p1, p2 = pair.split(" ", 1)
        merges.append((r, pair, p1 + p2, cnt))
        syms = syms.select(
            "w", "c", bpe_merge_symbols(F.col("syms"), p1, p2).alias("syms")
        )
        if r % checkpoint_every == 0:
            syms = syms.transform(_barrier, eager=True)
        if on_round is not None:
            on_round(r, _time.perf_counter() - t0)
    return merges, syms


def bpe_merge_symbols_multi(syms, merge_map: dict):
    """One-pass greedy-left application of a BATCH of merges whose symbol
    sets are pairwise disjoint (no p1/p2/merged string shared between any
    two rules — :func:`select_noninteracting` guarantees it).

    Disjointness makes the batch ORDER-INDEPENDENT and cascade-free: an
    occurrence of rule A's pair can never overlap an occurrence of rule
    B's (a shared boundary symbol would violate disjointness), and a
    freshly merged output can never be a constituent of another rule — so
    one fold with a pair→merged map literal is exactly equal to applying
    the rules sequentially in any order (property-tested in
    tests/test_training.py).  The map lives JVM-side as a literal; no UDF.
    """
    entries = [F.lit(x) for kv in merge_map.items() for x in kv]
    m = F.create_map(*entries)
    return F.aggregate(
        syms,
        F.expr("CAST(array() AS array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & m[F.concat(F.element_at(acc, -1), F.lit(" "), s)].isNotNull(),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(m[F.concat(F.element_at(acc, -1), F.lit(" "), s)]),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def select_noninteracting(ranked_pairs, batch_m: int):
    """Greedy prefix filter over (pair, cnt)-ranked rows: accept a pair iff
    {p1, p2, p1+p2} is disjoint from every symbol used (as constituent OR
    output) by an already-accepted pair, stopping at ``batch_m``.  The
    skipped pairs stay in the count table and compete again next round."""
    used: set = set()
    batch = []
    for pair, cnt in ranked_pairs:
        p1, p2 = pair.split(" ", 1)
        trio = {p1, p2, p1 + p2}
        if trio & used:
            continue
        batch.append((pair, p1 + p2, int(cnt)))
        used |= trio
        if len(batch) >= batch_m:
            break
    return batch


def bpe_train_batch(
    docs: DataFrame,
    n_merges: int,
    batch_m: int = 16,
    checkpoint_every: int = CHECKPOINT_EVERY,
    on_round=None,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """BPE training at REALISTIC depth (10³–10⁴ merges): per round, select
    the top-``batch_m`` NON-INTERACTING pairs (no shared symbol — see
    :func:`select_noninteracting`) and apply them in ONE corpus-free pass
    over the vocabulary frame.  Sequential BPE pays one driver round-trip
    + one vocabulary pass PER MERGE; this pays both per BATCH, cutting the
    512-merge driver-latency bill ~``batch_m``× (measured in SCALE.md).

    Within a batch the merges are provably order-independent (disjoint
    symbol sets ⇒ non-overlapping occurrence positions ⇒ one fold ≡ any
    sequential order — property-tested); across batches the selection is
    the standard batched-BPE approximation every fast tokenizer trainer
    makes (a merge created mid-batch cannot outrank into the batch).
    ``batch_m=1`` degenerates to exact sequential BPE (test-locked against
    :func:`bpe_train_n`).  Returns (merge rows, final vocab frame) in the
    same shape as :func:`bpe_train_n`; ``round`` is the merge's ordinal.
    """
    import time as _time

    wc = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    syms = wc.select(
        "w",
        "c",
        F.expr(
            "transform(sequence(1, length(w)), i -> substring(w, i, 1))"
        ).alias("syms"),
    ).transform(_barrier, eager=True)  # corpus shuffle happens exactly once
    merges: list[tuple[int, str, str, int]] = []
    rnd = 0
    while len(merges) < n_merges:
        rnd += 1
        t0 = _time.perf_counter()
        # 4x headroom so symbol conflicts inside the window still fill the
        # batch; TakeOrdered brings <= 4*batch_m rows to the driver
        top = (
            _pair_counts_syms(syms)
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(batch_m * 4)
            .collect()
        )
        batch = select_noninteracting(
            [(r["pair"], r["cnt"]) for r in top],
            min(batch_m, n_merges - len(merges)),
        )
        if not batch:
            break  # vocabulary fully collapsed — nothing left to merge
        for pair, merged, cnt in batch:
            merges.append((len(merges) + 1, pair, merged, cnt))
        merge_map = {pair: merged for pair, merged, _ in batch}
        syms = syms.select(
            "w", "c", bpe_merge_symbols_multi(F.col("syms"), merge_map).alias("syms")
        )
        if rnd % checkpoint_every == 0:
            syms = syms.transform(_barrier, eager=True)
        if on_round is not None:
            on_round(rnd, _time.perf_counter() - t0, len(batch))
    return merges, syms


def tok_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges, _ = bpe_train_n(_docs(spark, sf_dir), N_BPE_ROUNDS)
    return spark.createDataFrame(
        merges, "round int, pair string, merged string, cnt bigint"
    )


def _bpe_merges_sql(n_rounds: int) -> str:
    """DuckDB oracle for the FULL n-round run — greedy merge application
    re-expressed positionally: candidate positions (sym=p1, next=p2) within
    a word form runs of consecutive positions; greedy non-overlap keeps the
    1st, 3rd, ... of each run (consecutive candidates only occur when
    p1 = p2).  Kept positions become the merged symbol; the position to
    their right is consumed; positions renumber for the next round."""
    parts = [
        f"""wc AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest({_SQL_TOKENS}) AS w FROM documents)
  GROUP BY w
),
s0 AS MATERIALIZED (
  SELECT wid, c, generate_subscripts(chars, 1) AS pos, unnest(chars) AS sym
  FROM (SELECT w AS wid, c,
               list_transform(generate_series(1, length(w)),
                              i -> substr(w, i, 1)) AS chars
        FROM wc)
)"""
    ]
    for r in range(1, n_rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"""pc{r} AS MATERIALIZED (
  SELECT sym || ' ' || nxt AS pair, CAST(sum(c) AS BIGINT) AS cnt
  FROM (SELECT c, sym,
               lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
        FROM {prev})
  WHERE nxt IS NOT NULL
  GROUP BY 1
),
b{r} AS MATERIALIZED (
  SELECT string_split(pair, ' ')[1] AS p1, string_split(pair, ' ')[2] AS p2,
         pair, replace(pair, ' ', '') AS merged, cnt
  FROM pc{r} ORDER BY cnt DESC, pair LIMIT 1
),
cand{r} AS MATERIALIZED (
  SELECT t.wid, t.c, t.pos, t.sym,
         CASE WHEN t.sym = b.p1
               AND lead(t.sym) OVER (PARTITION BY t.wid ORDER BY t.pos) = b.p2
              THEN 1 ELSE 0 END AS isc
  FROM {prev} t, b{r} b
),
runs{r} AS MATERIALIZED (
  SELECT *, CASE WHEN isc = 1 THEN pos - row_number()
                 OVER (PARTITION BY wid, isc ORDER BY pos) END AS rungrp
  FROM cand{r}
),
keep{r} AS MATERIALIZED (
  SELECT *, CASE WHEN isc = 1 AND row_number()
                 OVER (PARTITION BY wid, rungrp ORDER BY pos) % 2 = 1
            THEN 1 ELSE 0 END AS kp
  FROM runs{r}
),
cons{r} AS MATERIALIZED (
  SELECT *, coalesce(lag(kp) OVER (PARTITION BY wid ORDER BY pos), 0)
              AS consumed
  FROM keep{r}
),
s{r} AS MATERIALIZED (
  SELECT wid, c, row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
         CASE WHEN kp = 1 THEN (SELECT merged FROM b{r}) ELSE sym END AS sym
  FROM cons{r} WHERE consumed = 0
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pair, merged, cnt FROM b{r}"
        for r in range(1, n_rounds + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + union


QUERIES["tok_bpe_merges"] = tok_bpe_merges
ORACLE["tok_bpe_merges"] = _bpe_merges_sql(N_BPE_ROUNDS)


BPE_BATCH_ROUNDS = 2
BPE_BATCH_M = 4


def tok_bpe_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batched production trainer at oracle-checkable depth: 2 rounds
    × 4 non-interacting merges = the same 8-merge budget as
    ``tok_bpe_merges``, but selected and applied batch-wise.  The oracle
    (`_bpe_batch_sql`) re-implements the WHOLE thing in DuckDB — selection
    as a RECURSIVE CTE over the ranked candidate window, application
    positionally with the batch map — so the batch semantics themselves
    are hash-gated, not just the degenerate batch_m=1 case.  (Both sides
    fill every batch on this corpus; a corpus too conflict-dense to fill a
    batch would shift Python's ordinals vs the oracle's fixed per-round
    grid — the strict comparator would catch that immediately.)"""
    merges, _ = bpe_train_batch(
        _docs(spark, sf_dir), BPE_BATCH_ROUNDS * BPE_BATCH_M, batch_m=BPE_BATCH_M
    )
    return spark.createDataFrame(
        merges, "round int, pair string, merged string, cnt bigint"
    )


def _bpe_batch_sql(n_rounds: int, m: int) -> str:
    """DuckDB oracle for the BATCHED trainer: per round, rank pair counts,
    select the top-``m`` pairwise symbol-disjoint pairs with a linear
    RECURSIVE CTE threading the used-symbol list, then apply ALL selected
    merges in one positional pass.  Disjointness makes consecutive
    candidate positions same-pair (a cross-pair overlap would share a
    boundary symbol), so the single-pair run-parity logic generalizes
    verbatim; the merged symbol comes from the per-position matched rule
    instead of a scalar subquery."""
    parts = [
        f"""wc AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest({_SQL_TOKENS}) AS w FROM documents)
  GROUP BY w
),
s0 AS MATERIALIZED (
  SELECT wid, c, generate_subscripts(chars, 1) AS pos, unnest(chars) AS sym
  FROM (SELECT w AS wid, c,
               list_transform(generate_series(1, length(w)),
                              i -> substr(w, i, 1)) AS chars
        FROM wc)
)"""
    ]
    for r in range(1, n_rounds + 1):
        prev = f"s{r - 1}"
        parts.append(
            f"""pc{r} AS MATERIALIZED (
  SELECT sym || ' ' || nxt AS pair, CAST(sum(c) AS BIGINT) AS cnt
  FROM (SELECT c, sym,
               lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
        FROM {prev})
  WHERE nxt IS NOT NULL
  GROUP BY 1
),
cr{r} AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY cnt DESC, pair) AS rn,
         string_split(pair, ' ')[1] AS p1, string_split(pair, ' ')[2] AS p2,
         pair, replace(pair, ' ', '') AS merged, cnt
  FROM pc{r} ORDER BY cnt DESC, pair LIMIT {4 * m}
),
sel{r} AS (
  SELECT 0 AS rn, CAST([] AS VARCHAR[]) AS used, 0 AS n_acc,
         CAST(NULL AS VARCHAR) AS pair, CAST(NULL AS VARCHAR) AS p1,
         CAST(NULL AS VARCHAR) AS p2, CAST(NULL AS VARCHAR) AS merged,
         CAST(NULL AS BIGINT) AS cnt, 0 AS ord
  UNION ALL
  SELECT c.rn,
         CASE WHEN s.n_acc < {m}
                   AND NOT list_has_any(s.used, [c.p1, c.p2, c.merged])
              THEN list_concat(s.used, [c.p1, c.p2, c.merged])
              ELSE s.used END,
         CASE WHEN s.n_acc < {m}
                   AND NOT list_has_any(s.used, [c.p1, c.p2, c.merged])
              THEN s.n_acc + 1 ELSE s.n_acc END,
         c.pair, c.p1, c.p2, c.merged, c.cnt,
         CASE WHEN s.n_acc < {m}
                   AND NOT list_has_any(s.used, [c.p1, c.p2, c.merged])
              THEN s.n_acc + 1 ELSE 0 END
  FROM sel{r} s JOIN cr{r} c ON c.rn = s.rn + 1
),
bt{r} AS MATERIALIZED (
  SELECT pair, p1, p2, merged, cnt, ord FROM sel{r} WHERE ord > 0
),
cand{r} AS MATERIALIZED (
  SELECT t.wid, t.c, t.pos, t.sym, b.merged AS hit,
         CASE WHEN b.merged IS NOT NULL THEN 1 ELSE 0 END AS isc
  FROM (SELECT *, lead(sym) OVER (PARTITION BY wid ORDER BY pos) AS nxt
        FROM {prev}) t
  LEFT JOIN bt{r} b ON t.sym = b.p1 AND t.nxt = b.p2
),
runs{r} AS MATERIALIZED (
  SELECT *, CASE WHEN isc = 1 THEN pos - row_number()
                 OVER (PARTITION BY wid, isc ORDER BY pos) END AS rungrp
  FROM cand{r}
),
keep{r} AS MATERIALIZED (
  SELECT *, CASE WHEN isc = 1 AND row_number()
                 OVER (PARTITION BY wid, rungrp ORDER BY pos) % 2 = 1
            THEN 1 ELSE 0 END AS kp
  FROM runs{r}
),
cons{r} AS MATERIALIZED (
  SELECT *, coalesce(lag(kp) OVER (PARTITION BY wid ORDER BY pos), 0)
              AS consumed
  FROM keep{r}
),
s{r} AS MATERIALIZED (
  SELECT wid, c, row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
         CASE WHEN kp = 1 THEN hit ELSE sym END AS sym
  FROM cons{r} WHERE consumed = 0
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({(r - 1) * m} + ord AS INTEGER) AS round, pair, merged, cnt"
        f" FROM bt{r}"
        for r in range(1, n_rounds + 1)
    )
    return "WITH RECURSIVE " + ",\n".join(parts) + "\n" + union


QUERIES["tok_bpe_batch"] = tok_bpe_batch
ORACLE["tok_bpe_batch"] = _bpe_batch_sql(BPE_BATCH_ROUNDS, BPE_BATCH_M)


def tok_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained tokenizer's symbol table after N_BPE_ROUNDS merges:
    every symbol with its corpus occurrence count (word-count weighted) —
    the artifact a tokenizer exports as its vocab file.  One explode +
    map-side-combined sum over the vocabulary frame the training loop
    already materialized."""
    _, syms = bpe_train_n(_docs(spark, sf_dir), N_BPE_ROUNDS)
    return (
        syms.select("c", F.explode("syms").alias("sym"))
        .groupBy("sym")
        .agg(F.sum("c").alias("cnt"))
    )


def _bpe_vocab_sql(n_rounds: int) -> str:
    """Final select over the same unrolled merge rounds: each positional
    row of s{n} is one symbol occurrence in one distinct word."""
    merges = _bpe_merges_sql(n_rounds)
    body = merges[: merges.rindex("\nSELECT 1 AS round")]
    return (
        body
        + f"\nSELECT sym, CAST(sum(c) AS BIGINT) AS cnt"
          f" FROM s{n_rounds} GROUP BY sym"
    )


QUERIES["tok_bpe_vocab"] = tok_bpe_vocab
ORACLE["tok_bpe_vocab"] = _bpe_vocab_sql(N_BPE_ROUNDS)


def tok_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode accounting with the trained tokenizer: per-source post-BPE
    token totals and tokens-per-word — the compression number a
    token-budget planner needs after training (sample_token_budget uses
    whitespace tokens; this is the trained-tokenizer correction).

    Encoding a word = the symbol count of its trained merge sequence, so
    the corpus is never re-segmented per document: the vocabulary frame the
    training loop materialized already carries every word's token count,
    and the corpus-side work is one token explode + a join on the word key
    (vocabulary-sized build side; AQE broadcasts it when it fits)."""
    docs = _docs(spark, sf_dir)
    _, syms = bpe_train_n(docs, N_BPE_ROUNDS)
    word_tokens = syms.select("w", F.size("syms").alias("n_tok"))
    corpus = docs.select(
        "source", F.explode(TX.tokens(F.lower(F.col("text")))).alias("w")
    )
    return (
        corpus.join(word_tokens, "w")
        .groupBy("source")
        .agg(
            F.sum("n_tok").alias("bpe_tokens"),
            F.count(F.lit(1)).alias("n_words"),
            F.round(F.avg(F.col("n_tok").cast("double")), 6).alias(
                "avg_tok_per_word"
            ),
        )
    )


def _bpe_encode_sql(n_rounds: int) -> str:
    merges = _bpe_merges_sql(n_rounds)
    body = merges[: merges.rindex("\nSELECT 1 AS round")]
    return (
        body
        + f""",
wt AS (SELECT wid, count(*) AS n_tok FROM s{n_rounds} GROUP BY wid)
SELECT source, CAST(sum(n_tok) AS BIGINT) AS bpe_tokens,
       count(*) AS n_words,
       round(avg(CAST(n_tok AS DOUBLE)), 6) AS avg_tok_per_word
FROM (SELECT source, unnest({_SQL_TOKENS}) AS w FROM documents) d
JOIN wt ON d.w = wt.wid
GROUP BY source"""
    )


QUERIES["tok_bpe_encode"] = tok_bpe_encode
ORACLE["tok_bpe_encode"] = _bpe_encode_sql(N_BPE_ROUNDS)


# ---------------------------------------------------------------------------
# 2. Distributed logistic-regression quality classifier (batch GD, unrolled)
def _features(docs: DataFrame) -> DataFrame:
    toks = docs.select(
        "lang", TX.tokens(F.lower(F.col("text"))).alias("t")
    ).where(F.size("t") >= 1)
    return toks.select(
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        (F.least(F.size("t"), F.lit(200)) / F.lit(200.0)).alias("x1"),
        (
            F.aggregate(F.col("t"), F.lit(0.0), lambda a, t: a + F.length(t))
            / F.size("t").cast("double")
            / F.lit(10.0)
        ).alias("x2"),
        (F.size(F.array_distinct("t")).cast("double") / F.size("t")).alias("x3"),
    )


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 batch-GD iterations of logistic regression predicting is-English
    from surface features; returns the learned weights + training accuracy.

    Per iteration the cluster moves exactly d+1 doubles to the driver (the
    gradient) — the bounded-collect pattern, identical in shape to k-means
    centroid updates (``iterative.py``).
    """
    feat = _features(_docs(spark, sf_dir)).cache()
    try:
        return _gd_train(spark, feat)
    finally:
        # all actions (GD iterations + final accuracy) happen inside, so the
        # cached feature projection can be released here instead of leaking
        # into the session for the rest of a bench/sweep run
        feat.unpersist()


def _gd_train(spark: SparkSession, feat: DataFrame) -> DataFrame:
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(GD_ITERS):
        z = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        d = p - F.col("y")
        g = feat.agg(
            F.avg(d).alias("g0"),
            F.avg(d * F.col("x1")).alias("g1"),
            F.avg(d * F.col("x2")).alias("g2"),
            F.avg(d * F.col("x3")).alias("g3"),
        ).collect()[0]
        w = [w[j] - LR * g[j] for j in range(4)]
    z = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    acc_row = feat.agg(
        F.avg(
            F.when((p >= 0.5) == (F.col("y") == 1.0), 1.0).otherwise(0.0)
        ).alias("train_acc"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    out = acc_row.select(
        *[F.round(F.lit(w[j]), 6).alias(f"w{j}") for j in range(4)],
        F.round(F.col("train_acc"), 6).alias("train_acc"),
        "n_rows",
    ).collect()[0]
    return spark.createDataFrame(
        [tuple(out)],
        "w0 double, w1 double, w2 double, w3 double, train_acc double, n_rows bigint",
    )


_P_SQL = "1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2 + w.w3 * x3)))"


def _classifier_sql() -> str:
    """Unrolled batch-GD CTE chain mirroring ``quality_classifier``
    arithmetic exactly: it{i} holds the weight vector after i updates."""
    ctes = [
        f"""feat AS (
  SELECT CAST(CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS DOUBLE) AS y,
         CAST(least(len(t), 200) AS DOUBLE) / 200.0 AS x1,
         list_sum(list_transform(t, s -> CAST(length(s) AS DOUBLE)))
           / len(t) / 10.0 AS x2,
         CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS x3
  FROM (SELECT lang, {_SQL_TOKENS} AS t FROM documents)
  WHERE len(t) >= 1
)""",
        "it0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,"
        " CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)",
    ]
    for i in range(GD_ITERS):
        ctes.append(
            f"""gd{i} AS (
  SELECT avg(({_P_SQL} - y)) AS g0,
         avg(({_P_SQL} - y) * x1) AS g1,
         avg(({_P_SQL} - y) * x2) AS g2,
         avg(({_P_SQL} - y) * x3) AS g3
  FROM feat, it{i} w
)"""
        )
        ctes.append(
            f"""it{i + 1} AS (
  SELECT w.w0 - {LR!r} * g.g0 AS w0, w.w1 - {LR!r} * g.g1 AS w1,
         w.w2 - {LR!r} * g.g2 AS w2, w.w3 - {LR!r} * g.g3 AS w3
  FROM it{i} w, gd{i} g
)"""
        )
    final = f"""SELECT round(w.w0, 6) AS w0, round(w.w1, 6) AS w1,
       round(w.w2, 6) AS w2, round(w.w3, 6) AS w3,
       round(avg(CASE WHEN ({_P_SQL} >= 0.5) = (y = 1.0)
                 THEN 1.0 ELSE 0.0 END), 6) AS train_acc,
       count(*) AS n_rows
FROM feat, it{GD_ITERS} w
GROUP BY w.w0, w.w1, w.w2, w.w3"""
    return "WITH " + ",\n".join(ctes) + "\n" + final


QUERIES["quality_classifier"] = quality_classifier
ORACLE["quality_classifier"] = _classifier_sql()


# ---------------------------------------------------------------------------
# 3. Deterministic corpus sharding
def assign_shard(df: DataFrame, key_col: str = "doc_id", n_shards: int = N_SHARDS):
    return df.withColumn(
        "shard", H.h60_seeded(df[key_col].cast("string"), SEED_SHARD) % n_shards
    )


def shard_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    # agg-only consumer (hash of doc_id + group-sum): the floor's
    # round-robin of full text rows buys nothing — scan raw
    docs = assign_shard(_docs(spark, sf_dir, floor=False))
    return docs.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


SHARD_CORPUS_SQL = f"""
SELECT {H.sql_h60_seeded('CAST(doc_id AS VARCHAR)', SEED_SHARD)} % {N_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""

QUERIES["shard_corpus"] = shard_corpus
ORACLE["shard_corpus"] = SHARD_CORPUS_SQL


def write_shards(df: DataFrame, path: str, key_col: str = "doc_id",
                 n_shards: int = N_SHARDS) -> None:
    """Materialize the corpus as exactly one parquet file per shard.

    ``repartition(n_shards, 'shard')`` puts each shard id wholly inside one
    task, so ``partitionBy('shard')`` emits exactly one file per shard —
    the fixed-layout contract data loaders want.  Assignment is a pure
    function of the key: re-running on a re-partitioned or grown cluster
    reproduces byte-identical shard membership.
    """
    sharded = assign_shard(df, key_col, n_shards)
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )


# ---------------------------------------------------------------------------
# 4. Token-budget mixture planner
def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenize feeds straight into a map-side-combined sum — no wide
    # per-row stage to spread, so the floor's shuffle is pure cost
    docs = _docs(spark, sf_dir, floor=False)
    wmap = dict(MIX_WEIGHTS)
    expr = F.lit(None).cast("double")
    for s, wt in MIX_WEIGHTS:
        expr = F.when(F.col("source") == s, F.lit(wt)).otherwise(expr)
    per_src = (
        docs.where(F.col("source").isin(*wmap))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(TX.tokens(F.col("text")))).alias("tokens"),
        )
        .withColumn("weight", expr)
    )
    target = F.col("weight") * F.lit(float(TOKEN_BUDGET))
    return per_src.select(
        "source",
        "n_docs",
        "tokens",
        "weight",
        F.round(target, 6).alias("target_tokens"),
        F.round(F.least(F.lit(1.0), target / F.col("tokens")), 6).alias("keep_rate"),
        F.round(target / F.col("tokens"), 6).alias("epochs"),
    )


_W_CASE = " ".join(
    f"WHEN source = '{s}' THEN {w!r}" for s, w in MIX_WEIGHTS
)
_SRC_IN = ", ".join(f"'{s}'" for s, _ in MIX_WEIGHTS)

SAMPLE_TOKEN_BUDGET_SQL = f"""
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
              AS BIGINT) AS tokens,
         CAST(CASE {_W_CASE} END AS DOUBLE) AS weight
  FROM documents
  WHERE source IN ({_SRC_IN})
  GROUP BY source
)
SELECT source, n_docs, tokens, weight,
       round(weight * {float(TOKEN_BUDGET)!r}, 6) AS target_tokens,
       round(least(CAST(1.0 AS DOUBLE), weight * {float(TOKEN_BUDGET)!r} / tokens), 6) AS keep_rate,
       round(weight * {float(TOKEN_BUDGET)!r} / tokens, 6) AS epochs
FROM per_src
"""

QUERIES["sample_token_budget"] = sample_token_budget
ORACLE["sample_token_budget"] = SAMPLE_TOKEN_BUDGET_SQL


# ---------------------------------------------------------------------------
# 5. Temperature-scaled language mixture (multilingual pretraining standard:
#    p_l ∝ tokens_l^alpha rebalances head languages toward the tail; alpha=1
#    is proportional, alpha=0 uniform).  One corpus scan → per-lang token
#    counts (a handful of rows); the normalization runs on that tiny frame
#    with an unpartitioned window, which is exactly right at any corpus
#    scale because the frame size is the number of languages, not documents.
TEMP_ALPHA = 0.5


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # agg-only (see sample_token_budget) — round-6 regression triage:
    # the floor cost 0.2 -> 0.63 s at sf0.1 for zero benefit
    return temperature_mixture(spark, _docs(spark, sf_dir, floor=False))


def temperature_mixture(spark: SparkSession, docs: DataFrame) -> DataFrame:
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(TX.tokens(F.col("text")))).alias("tokens"),
    )
    # the per-language frame is a handful of rows at ANY corpus scale, so
    # the normalization is driver arithmetic over a bounded collect — one
    # corpus scan, no single-partition window (an unpartitioned window here
    # trips Spark's all-data-to-one-partition path, and a constant
    # partitionBy gets folded away by Catalyst)
    rows = per_lang.collect()
    # a language whose documents are all empty/null text contributes zero
    # (or NULL) tokens — it gets no sampling mass and must not crash the
    # normalization (0**0.5 / tot is fine, but epochs divides BY tokens);
    # mirrored in the oracle SQL's `WHERE tokens > 0`
    rows = [r for r in rows if r["tokens"] is not None and r["tokens"] > 0]
    tot = sum(float(r["tokens"]) ** TEMP_ALPHA for r in rows)
    out = []
    for r in rows:
        p = float(r["tokens"]) ** TEMP_ALPHA / tot
        epochs = p * float(TOKEN_BUDGET) / r["tokens"]
        out.append((
            r["lang"], r["n_docs"], r["tokens"],
            round(p, 9), round(min(1.0, epochs), 9), round(epochs, 9),
        ))
    return spark.createDataFrame(
        out,
        "lang string, n_docs bigint, tokens bigint,"
        " p double, keep_rate double, epochs double",
    )


SAMPLE_TEMPERATURE_SQL = f"""
WITH per_lang AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
              AS BIGINT) AS tokens
  FROM documents GROUP BY lang
),
scaled AS (
  SELECT lang, n_docs, tokens,
         pow(CAST(tokens AS DOUBLE), {TEMP_ALPHA!r})
           / sum(pow(CAST(tokens AS DOUBLE), {TEMP_ALPHA!r})) OVER () AS p
  FROM per_lang
  WHERE tokens > 0
)
SELECT lang, n_docs, tokens,
       round(p, 9) AS p,
       round(least(CAST(1.0 AS DOUBLE),
                   p * {float(TOKEN_BUDGET)!r} / tokens), 9) AS keep_rate,
       round(p * {float(TOKEN_BUDGET)!r} / tokens, 9) AS epochs
FROM scaled
"""

QUERIES["sample_temperature"] = sample_temperature
ORACLE["sample_temperature"] = SAMPLE_TEMPERATURE_SQL


# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier — the standard learned
# alternative to the heuristic langid schemes in ``textstats`` (stopword
# voting, char-ngram profiles).  Train/test split by the shared seeded-hash
# family, multinomial NB with Laplace smoothing over word tokens, argmax
# prediction, and the confusion matrix as the query result.  The whole
# train-predict-evaluate loop is ONE declarative plan: the "model" is just
# two frames (a vocab×classes log-likelihood table and a classes-sized
# prior/default table), so training is a groupBy and prediction is a join —
# no driver-side weights at all, unlike the GD ``quality_classifier``.
#
# On the synthetic corpus the token distribution is label-independent, so
# the confusion matrix shows prior-dominated predictions — exactly what the
# query is FOR in a data pipeline: a learnability/label-leakage diagnostic
# (NB accuracy ≈ majority prior ⇒ no text signal for this label).  The
# learning machinery itself is unit-tested on a constructed corpus with a
# real per-class vocabulary (tests/test_training.py), and engine parity is
# strict-oracle-checked like every other query.
#
# Scale: the corpus-sized work is two token explodes (train + test) and
# their reducing aggregations, all map-side combined.  The likelihood frame
# is vocab×|classes| (dim-sized: ~1e7 rows at 100 TB, KBs per row) and joins
# the test token stream on (cls, w) — an equi-join AQE can broadcast when
# the vocab fits, shuffle-hash otherwise.  The classes frame is |languages|
# rows at ANY corpus size, so its crossJoin into the token stream is a
# bounded broadcast (plan-guard allowlisted).  The argmax window partitions
# by doc_id over a docs×|classes| frame — 5 rows per partition, never a
# corpus-wide sort.
NB_SEED = 7109
NB_TRAIN_FRAC = 0.8


def nb_confusion(docs: DataFrame, label_col: str = "lang") -> DataFrame:
    """Train/score multinomial NB over ``docs(doc_id, <label_col>, text)``;
    return the held-out confusion matrix (lang_true, lang_pred, n_docs)."""
    from pyspark.sql import Window

    docs = docs.select(
        "doc_id",
        F.col(label_col).alias("lang"),
        F.lower(F.col("text")).alias("text"),
        H.hash01(F.col("doc_id").cast("string"), NB_SEED).alias("h"),
    )
    train = docs.where(F.col("h") < NB_TRAIN_FRAC)
    test = docs.where(F.col("h") >= NB_TRAIN_FRAC)

    ttoks = train.select("lang", F.explode(TX.tokens("text")).alias("w"))
    # wc (the vocab×|classes| model frame) feeds three consumers that
    # each prune it differently, so without a barrier the exchange
    # subtrees are unequal, runtime exchange reuse never fires, and the
    # train-side tokenize runs once PER consumer (the sample_dsir
    # finding).  The lazy localCheckpoint plans it once; the first
    # consumer materializes it and the rest read the persisted RDD.
    wc = (
        ttoks.groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(_barrier)
    )
    tots = wc.groupBy("lang").agg(F.sum("c").alias("tot"))  # |classes| rows
    vocab = wc.agg(F.count_distinct(F.col("w")).alias("v"))  # 1 row, 1 pass
    priors = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    # total train docs = Σ per-class doc counts — derived from the
    # |classes|-row priors frame instead of a second corpus-sized scan
    n_train = priors.agg(F.sum("n_docs").alias("n"))  # 1 row

    classes = (
        priors.crossJoin(F.broadcast(n_train))
        .join(tots, "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("cls"),
            F.log(F.col("n_docs").cast("double") / F.col("n")).alias("log_prior"),
            F.log(F.lit(1.0) / (F.col("tot") + F.col("v"))).alias("log_default"),
        )
    )
    loglik = (
        wc.join(F.broadcast(tots), "lang")
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("lang").alias("cls"),
            "w",
            F.log((F.col("c") + F.lit(1.0)) / (F.col("tot") + F.col("v"))).alias("log_p"),
        )
    )

    stoks = test.select(
        "doc_id", F.col("lang").alias("lang_true"), F.explode(TX.tokens("text")).alias("w")
    )
    scored = (
        stoks.crossJoin(F.broadcast(classes))
        .join(loglik, ["cls", "w"], "left")
        .groupBy("doc_id", "lang_true", "cls")
        .agg(
            # rounded to 1e-9 before the argmax: the score is a sum of
            # log-probs whose cross-engine summation order differs, and a
            # near-tie between classes must not flip the row_number pick.
            F.round(
                F.first("log_prior")
                + F.sum(F.coalesce(F.col("log_p"), F.col("log_default"))),
                9,
            ).alias("score")
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cls").asc())
    )
    return (
        scored.withColumn("rn", rn)
        .where(F.col("rn") == 1)
        .groupBy("lang_true", F.col("cls").alias("lang_pred"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("lang_true", "lang_pred")
    )


def text_nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    return nb_confusion(_docs(spark, sf_dir), label_col="lang")


TEXT_NB_LANGID_SQL = f"""
WITH docs AS (
  SELECT doc_id, lang, lower(text) AS text,
         {H.sql_hash01(_KEY_SQL, NB_SEED)} AS h
  FROM documents
),
train AS (SELECT * FROM docs WHERE h < {NB_TRAIN_FRAC!r}),
test  AS (SELECT * FROM docs WHERE h >= {NB_TRAIN_FRAC!r}),
ttoks AS (
  SELECT lang, unnest({_SQL_TOKENS}) AS w FROM train
),
wc AS (SELECT lang, w, count(*) AS c FROM ttoks GROUP BY lang, w),
tots AS (SELECT lang, sum(c) AS tot FROM wc GROUP BY lang),
vocab AS (SELECT count(DISTINCT w) AS v FROM wc),
priors AS (SELECT lang, count(*) AS n_docs FROM train GROUP BY lang),
n_train AS (SELECT count(*) AS n FROM train),
classes AS (
  SELECT p.lang AS cls,
         ln(CAST(p.n_docs AS DOUBLE) / n.n) AS log_prior,
         ln(1.0 / (t.tot + v.v)) AS log_default
  FROM priors p, n_train n, vocab v
  JOIN tots t ON t.lang = p.lang
),
loglik AS (
  SELECT wc.lang AS cls, wc.w,
         ln((wc.c + 1.0) / (t.tot + v.v)) AS log_p
  FROM wc JOIN tots t ON wc.lang = t.lang, vocab v
),
stoks AS (
  SELECT doc_id, lang AS lang_true, unnest({_SQL_TOKENS}) AS w FROM test
),
scored AS (
  SELECT s.doc_id, s.lang_true, c.cls,
         round(any_value(c.log_prior)
               + sum(coalesce(l.log_p, c.log_default)), 9) AS score
  FROM stoks s
  CROSS JOIN classes c
  LEFT JOIN loglik l ON l.cls = c.cls AND l.w = s.w
  GROUP BY s.doc_id, s.lang_true, c.cls
),
pred AS (
  SELECT doc_id, lang_true, cls,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, cls ASC) AS rn
  FROM scored
)
SELECT lang_true, cls AS lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY lang_true, cls
"""

QUERIES["text_nb_langid"] = text_nb_langid
ORACLE["text_nb_langid"] = TEXT_NB_LANGID_SQL
