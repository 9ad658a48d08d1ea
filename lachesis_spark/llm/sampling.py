"""Deterministic sampling / splitting / mixing / packing for training-data
pipelines over the ``documents`` table.

A 100 TB pre-training corpus is never consumed whole: it is subsampled,
split into train/valid/test, mixed across sources with per-source weights,
and packed into fixed-token-budget sequences.  Every operator here is
deterministic (MD5-keyed, seedable) so a pipeline re-run reproduces the
exact same corpus — the property `df.sample()` cannot give across retries,
re-partitions, or cluster sizes.

All decisions are pure JVM-side column expressions over the cross-engine
hash family in ``functions.hashing`` (md5-prefix → BIGINT), so each operator
has an exact DuckDB oracle and zero Python in the hot path.

Operators
---------
- ``sample_bernoulli``  : keep a row iff hash01(key, seed) < rate — a
  deterministic Bernoulli sample, stable under repartitioning.
- ``assign_split``      : hash-bucket rows into named splits by weight
  (train/valid/test); every row lands in exactly one split, membership is
  a pure function of the key, so train/test never leak across re-runs.
- ``mix_sources``       : per-source keep-rates in one scan (CASE on the
  source column → rate), the standard corpus-mixture step (e.g. wiki ×1.0,
  crawl ×0.1) without a per-source union.
- ``pack_sequences``    : concat-and-chunk packing — deterministic order
  within hash buckets, running token count, bin = floor(cum_before / budget);
  the linear-packing approximation LLM data loaders use.
- ``sample_stratified`` : exact-n-per-group sample by hash order, computed
  in two window passes so no executor ever sees a whole group.

Scale notes
-----------
- bernoulli / split / mixture are *scan-only*: filter or tag with a codegen
  expression, 0 shuffles before the (optional) summary agg.  At 100 TB the
  sample is produced at full scan speed.
- ``pack_sequences`` needs an order to be deterministic; a global sort is
  the naive answer and is wrong at scale.  Instead rows are hash-bucketed
  (``n_buckets`` ≈ cluster cores) and ordered within buckets only — one
  shuffle, bounded per-task sort, buckets pack independently and in
  parallel.  Bin ids are (bucket, bin) pairs, which is all a data loader
  needs.
- ``sample_stratified``'s two-pass plan prunes each (group, bucket) to its
  local top-n before the per-group global pass, so the final window sees at
  most n_buckets×n rows per group instead of the whole group — the same
  trick as grouped top-k, immune to group skew (a 90%-English corpus never
  funnels 90 TB into one task).

Reference: the reference engine has no sampling surface at all (SURVEY §2.8
gap list); these are beyond-reference training-pipeline capabilities built
on the same hash family as its dedup operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lachesis_spark.functions import hashing as H
from lachesis_spark.functions import text as TX

from lachesis_spark.llm.textstats import _docs

from lachesis_spark.operators.core import barrier as _barrier

SEED_SAMPLE = 2101
SEED_SPLIT = 2102
SEED_MIX = 2103
SEED_PACK = 2104
SEED_STRAT = 2105

SAMPLE_RATE = 0.25
SPLITS = (("train", 8), ("valid", 1), ("test", 1))  # weights out of 10
PACK_BUDGET = 512  # tokens per packed sequence
PACK_BUCKETS = 8
STRAT_N = 20

# mixture: keep-rate per source (sf docs have sources src0..src19)
MIX_RATES = {f"src{i}": r for i, r in zip(range(20), [1.0, 0.5, 0.25, 0.1] * 5)}

_KEY_SQL = "CAST(doc_id AS VARCHAR)"


def _key(df: DataFrame, key_col: str) -> Column:
    return df[key_col].cast("string")


# ---------------------------------------------------------------------------
# 1. Deterministic Bernoulli sample
def sample_bernoulli(df: DataFrame, key_col: str, rate: float, seed: int) -> DataFrame:
    """Rows where hash01(key, seed) < rate — same rows on every run and any
    partitioning, unlike ``DataFrame.sample``."""
    return df.where(H.hash01(_key(df, key_col), seed) < rate)


def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, floor=False)
    return sample_bernoulli(docs, "doc_id", SAMPLE_RATE, SEED_SAMPLE).select(
        "doc_id", "lang", "source"
    )


SAMPLE_HASH_SQL = f"""
SELECT doc_id, lang, source
FROM documents
WHERE {H.sql_hash01(_KEY_SQL, SEED_SAMPLE)} < {SAMPLE_RATE}
"""


# ---------------------------------------------------------------------------
# 2. Train/valid/test split assignment
def assign_split(
    df: DataFrame, key_col: str, splits=SPLITS, seed: int = SEED_SPLIT
) -> DataFrame:
    """Add a ``split`` column; hash-bucket membership by integer weights.

    Total weight W buckets; split i owns the next weights[i] buckets.  A
    row's split is a pure function of its key: stable across runs, no
    train/test leakage when the corpus is re-ingested.
    """
    total = sum(w for _, w in splits)
    bucket = F.floor(H.hash01(_key(df, key_col), seed) * total)
    expr = None
    lo = 0
    for name, w in splits[:-1]:
        cond = bucket < lo + w
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += w
    expr = expr.otherwise(splits[-1][0]) if expr is not None else F.lit(splits[-1][0])
    return df.withColumn("split", expr)


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = assign_split(_docs(spark, sf_dir, floor=False), "doc_id")
    return docs.groupBy("split", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


SAMPLE_SPLIT_SQL = f"""
WITH tagged AS (
  SELECT source, n_chars,
         CASE WHEN floor({H.sql_hash01(_KEY_SQL, SEED_SPLIT)} * 10) < 8 THEN 'train'
              WHEN floor({H.sql_hash01(_KEY_SQL, SEED_SPLIT)} * 10) < 9 THEN 'valid'
              ELSE 'test' END AS split
  FROM documents)
SELECT split, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM tagged GROUP BY split, source
"""


# ---------------------------------------------------------------------------
# 3. Weighted source mixture in one scan
def mix_sources(
    df: DataFrame, source_col: str, key_col: str, rates: dict, seed: int = SEED_MIX
) -> DataFrame:
    """Keep each row with its source's rate: single filter expression, no
    per-source union — one scan at any corpus size.  Sources absent from
    ``rates`` are dropped (rate 0)."""
    rate = None
    for s, r in sorted(rates.items()):
        cond = df[source_col] == s
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = rate.otherwise(0.0)
    return df.where(H.hash01(_key(df, key_col), seed) < rate)


def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = mix_sources(_docs(spark, sf_dir, floor=False), "source", "doc_id", MIX_RATES)
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(TX.token_count("text")).cast("long").alias("sum_tokens"),
    )


def _mix_case_sql() -> str:
    arms = "\n".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(MIX_RATES.items())
    )
    return f"CASE source {arms} ELSE 0.0 END"


_SQL_NTOK = "len(list_filter(string_split(text, ' '), t -> t <> ''))"

SAMPLE_MIXTURE_SQL = f"""
SELECT source, count(*) AS n_docs,
       CAST(sum({_SQL_NTOK}) AS BIGINT) AS sum_tokens
FROM documents
WHERE {H.sql_hash01(_KEY_SQL, SEED_MIX)} < {_mix_case_sql()}
GROUP BY source
"""


# ---------------------------------------------------------------------------
# 4. Sequence packing (concat-and-chunk within hash buckets)
def pack_sequences(
    df: DataFrame,
    key_col: str,
    token_count_col: Column,
    budget: int = PACK_BUDGET,
    n_buckets: int = PACK_BUCKETS,
    seed: int = SEED_PACK,
) -> DataFrame:
    """Assign each row a (bucket, bin) packed-sequence id.

    bucket = h60(key) % n_buckets; rows ordered by key within the bucket;
    raw bin = floor(tokens_before / budget) — the concat-and-chunk packing
    rule — then bin ids are densified (dense_rank over the raw bin) so each
    bucket's bins are a contiguous 0..max range even when a single document
    exceeds the budget (which would otherwise skip the ids its overflow
    spans).  Deterministic; both windows partition by "bucket" so Spark
    plans ONE Exchange (two in-partition sorts, no second shuffle); buckets
    pack independently so parallelism = n_buckets (size it to cluster
    cores).
    """
    keyed = df.select(
        df[key_col].alias("pack_key"),
        token_count_col.cast("long").alias("n_tok"),
        (H.h60_seeded(_key(df, key_col), seed) % n_buckets).alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("pack_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tok").over(w)
    raw = keyed.withColumn(
        "_raw_bin", F.floor((cum - F.col("n_tok")) / F.lit(budget))
    )
    wd = Window.partitionBy("bucket").orderBy("_raw_bin")
    return raw.withColumn(
        "bin", (F.dense_rank().over(wd) - F.lit(1)).cast("long")
    ).drop("_raw_bin")


def pack_sequences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, floor=False)
    packed = pack_sequences(docs, "doc_id", TX.token_count("text"))
    return packed.groupBy("bucket", "bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
    )


PACK_SEQUENCES_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST({_SQL_NTOK} AS BIGINT) AS n_tok,
         {H.sql_h60_seeded(_KEY_SQL, SEED_PACK)} % {PACK_BUCKETS} AS bucket
  FROM documents),
c AS (
  SELECT bucket, n_tok,
         sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t),
d AS (
  SELECT bucket, n_tok,
         CAST(dense_rank() OVER (
           PARTITION BY bucket
           ORDER BY floor((cum - n_tok) / {PACK_BUDGET})) - 1 AS BIGINT) AS bin
  FROM c)
SELECT bucket, bin,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens
FROM d GROUP BY bucket, bin
"""


def pack_manifest_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader-facing form of packing: per (bucket, bin), the ORDERED
    document list with per-doc token counts ("id:ntok,...").  This is the
    manifest a training data loader consumes to materialize each packed
    sequence (concat order and boundaries for attention masking).

    Scale: same single Exchange as pack_sequences; the manifest agg adds a
    per-(bucket, bin) collect whose size is bounded by budget/min_doc_tok
    entries — a property of the packing, not the corpus.
    """
    docs = _docs(spark, sf_dir, floor=False)
    packed = pack_sequences(docs, "doc_id", TX.token_count("text"))
    return packed.groupBy("bucket", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pack_key"), F.col("n_tok")))
                ),
                lambda s: F.concat_ws(
                    ":", s["pack_key"].cast("string"), s["n_tok"].cast("string")
                ),
            ),
            ",",
        ).alias("doc_list"),
    )


PACK_MANIFEST_SQL = f"""
WITH t AS (
  SELECT doc_id, CAST({_SQL_NTOK} AS BIGINT) AS n_tok,
         {H.sql_h60_seeded(_KEY_SQL, SEED_PACK)} % {PACK_BUCKETS} AS bucket
  FROM documents),
c AS (
  SELECT bucket, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
                          ROWS UNBOUNDED PRECEDING) AS cum
  FROM t),
d AS (
  SELECT bucket, doc_id, n_tok,
         CAST(dense_rank() OVER (
           PARTITION BY bucket
           ORDER BY floor((cum - n_tok) / {PACK_BUDGET})) - 1 AS BIGINT) AS bin
  FROM c)
SELECT bucket, bin,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(n_tok AS VARCHAR),
                  ',' ORDER BY doc_id) AS doc_list
FROM d GROUP BY bucket, bin
"""


# ---------------------------------------------------------------------------
# 5. Stratified exact-n-per-group sample, skew-immune two-pass plan
def sample_stratified(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    seed: int = SEED_STRAT,
    n_buckets: int = PACK_BUCKETS,
) -> DataFrame:
    """First n rows per group by seeded hash order.

    Pass 1 keeps each (group, hash-bucket)'s local top-n — every global
    top-n row survives (its bucket rank ≤ its group rank), and each group
    is cut to ≤ n_buckets×n rows.  Pass 2 ranks those survivors per group.
    No task ever sorts a whole group, so a dominant group (90% of a corpus
    in one language) cannot funnel into a single executor.
    """
    ordk = H.h60_seeded(_key(df, key_col), seed).alias("_ord")
    bucket = (H.h60_seeded(_key(df, key_col), seed + 1) % n_buckets).alias("_bkt")
    tagged = df.select("*", ordk, bucket)
    w1 = Window.partitionBy(group_col, "_bkt").orderBy("_ord", key_col)
    pruned = tagged.withColumn("_r1", F.row_number().over(w1)).where(
        F.col("_r1") <= n
    )
    w2 = Window.partitionBy(group_col).orderBy("_ord", key_col)
    return (
        pruned.withColumn("_r2", F.row_number().over(w2))
        .where(F.col("_r2") <= n)
        .drop("_ord", "_bkt", "_r1", "_r2")
    )


def sample_stratified_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, floor=False)
    return sample_stratified(docs, "lang", "doc_id", STRAT_N).select("doc_id", "lang")


SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang
FROM documents
QUALIFY row_number() OVER (
  PARTITION BY lang
  ORDER BY {H.sql_h60_seeded(_KEY_SQL, SEED_STRAT)}, doc_id) <= {STRAT_N}
"""


# ---------------------------------------------------------------------------
# 6. Deterministic weighted sampling without replacement (Efraimidis–
#    Spirakis): key = u^(1/w) with u the seeded hash-uniform; the top-n keys
#    are a weight-proportional sample.  Deterministic because u comes from
#    the hash family, distributed because top-n is TakeOrdered (per-partition
#    heap + driver merge), no global sort.
def sample_weighted(
    df: DataFrame, key_col: str, weight_col: Column, n: int, seed: int
) -> DataFrame:
    u = H.hash01(_key(df, key_col), seed)
    es_key = F.pow(u, F.lit(1.0) / weight_col.cast("double"))
    return (
        df.withColumn("_es", es_key)
        .orderBy(F.desc("_es"), df[key_col])
        .limit(n)
        .drop("_es")
    )


WEIGHTED_N = 50
SEED_WEIGHTED = 2106


def sample_weighted_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, floor=False)
    return sample_weighted(
        docs, "doc_id", F.col("n_chars"), WEIGHTED_N, SEED_WEIGHTED
    ).select("doc_id", "lang", "n_chars")


SAMPLE_WEIGHTED_SQL = f"""
SELECT doc_id, lang, n_chars FROM documents
ORDER BY pow({H.sql_hash01(_KEY_SQL, SEED_WEIGHTED)},
             1.0 / CAST(n_chars AS DOUBLE)) DESC, doc_id
LIMIT {WEIGHTED_N}
"""


QUERIES = {
    "sample_hash": sample_hash,
    "sample_weighted": sample_weighted_query,
    "sample_split": sample_split,
    "sample_mixture": sample_mixture,
    "sample_stratified": sample_stratified_query,
    "pack_sequences": pack_sequences_query,
    "pack_manifest": pack_manifest_query,
}

ORACLE = {
    "sample_hash": SAMPLE_HASH_SQL,
    "sample_weighted": SAMPLE_WEIGHTED_SQL,
    "sample_split": SAMPLE_SPLIT_SQL,
    "sample_mixture": SAMPLE_MIXTURE_SQL,
    "sample_stratified": SAMPLE_STRATIFIED_SQL,
    "pack_sequences": PACK_SEQUENCES_SQL,
    "pack_manifest": PACK_MANIFEST_SQL,
}


# ---------------------------------------------------------------------------
# 7. Per-domain cap (RefinedWeb-style, Penedo et al. 2023, arXiv:2306.01116):
#    web corpora are dominated by a few giant domains; capping documents per
#    domain is a standard diversity control.  The kept subset must be a
#    *uniform* sample of each domain (not its first rows) and deterministic
#    across runs/cluster sizes, so rank within domain orders by the seeded
#    key hash: one shuffle on the domain key, skew-bounded by the same
#    grouped-top-k shape sample_stratified uses.
DOMAIN_CAP = 40
SEED_DOMCAP = 77


def cap_per_domain(
    df: DataFrame,
    key_col: str,
    domain_col: str,
    cap: int = DOMAIN_CAP,
    seed: int = SEED_DOMCAP,
) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy(domain_col).orderBy(
        H.h60_seeded(F.col(key_col).cast("string"), seed), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= cap)
        .drop("__rn")
    )


def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, floor=False)
    capped = cap_per_domain(docs, "doc_id", "source")
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("chars_kept"),
    )


SAMPLE_DOMAIN_CAP_SQL = f"""
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {H.sql_h60_seeded(_KEY_SQL, SEED_DOMCAP)}, doc_id
         ) AS rn
  FROM documents
)
SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
FROM ranked WHERE rn <= {DOMAIN_CAP} GROUP BY source
"""

QUERIES["sample_domain_cap"] = sample_domain_cap
ORACLE["sample_domain_cap"] = SAMPLE_DOMAIN_CAP_SQL


# ---------------------------------------------------------------------------
# 8. DSIR importance selection (Xie et al. 2023, arXiv:2302.03169): select
#    raw documents whose hashed-n-gram feature distribution looks like a
#    TARGET corpus.  Both LMs live in a fixed B-bucket hashed feature space
#    (the paper's trick: the model is O(B), never O(vocab)), so the two
#    models broadcast everywhere and scoring the 100 TB raw corpus is one
#    token explode + one broadcast join + one groupBy.  log w(x) =
#    sum_b n_b(x)(log p_T(b) - log p_R(b)), add-one smoothed; here the
#    target is the lang='en' slice and selection is deterministic top-N by
#    (rounded) log-weight — the Gumbel top-k of the paper with the noise
#    term dropped so the DuckDB oracle is exact.
DSIR_BUCKETS = 256
DSIR_N = 150
DSIR_TARGET_LANG = "en"


def dsir_logweights(
    docs: DataFrame,
    target_pred,
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    carry: tuple = (),
) -> DataFrame:
    """Per-doc DSIR log importance weight of ``docs`` against the subset
    selected by ``target_pred`` (a boolean Column over ``docs``).

    ONE corpus tokenize pass: the per-doc bucket counts carry the target
    marker (plus any ``carry`` passthrough columns), the raw LM is a
    256-row fold OF those per-doc counts, and the target LM the same
    fold over the marked subset.  The previous (docs, target-frame) form
    re-tokenized the corpus for the raw LM and the target subset for the
    target LM — three corpus-scale explodes where one suffices — and the
    caller re-joined the corpus for passthrough columns it can now
    carry for free."""
    toks = docs.select(
        "doc_id",
        target_pred.alias("is_t"),
        *[F.col(c) for c in carry],
        F.explode(TX.tokens(F.lower(F.col(text_col)))).alias("w"),
    )
    nb = (
        toks.select(
            "doc_id", "is_t", *carry, (H.h60("w") % n_buckets).alias("b")
        )
        .groupBy("doc_id", "b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("is_t").alias("is_t"),  # constant per doc
            *[F.first(c).alias(c) for c in carry],
        )
        # three consumers (raw LM, target LM, the weight join) — without
        # a barrier Catalyst prunes each copy differently, the exchange
        # subtrees stop being equal, runtime exchange reuse never fires,
        # and the corpus tokenize runs three times (seen in the executed
        # plan: 3 Generate+scan subtrees, 0 ReusedExchange).  A lazy
        # localCheckpoint plans nb once; the first consumer materializes
        # it and the rest read the persisted RDD.
        .transform(_barrier)
    )

    def lm(counts: DataFrame) -> DataFrame:
        # add-one smoothing over the fixed bucket space
        tot = counts.agg(F.sum("c").alias("tot"))
        return counts.crossJoin(F.broadcast(tot)).select(
            "b",
            F.log((F.col("c") + 1.0) / (F.col("tot") + float(n_buckets))).alias("lp"),
        )

    lm_r = lm(nb.groupBy("b").agg(F.sum("n").alias("c"))).withColumnRenamed(
        "lp", "lp_r"
    )
    lm_t = lm(
        nb.where(F.col("is_t")).groupBy("b").agg(F.sum("n").alias("c"))
    ).withColumnRenamed("lp", "lp_t")
    ratio = F.broadcast(lm_t.join(lm_r, "b"))  # <= n_buckets rows
    return (
        nb.join(ratio, "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("n") * (F.col("lp_t") - F.col("lp_r"))).alias("logw"),
            *[F.first(c).alias(c) for c in carry],
        )
    )


def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, floor=False)
    lw = dsir_logweights(
        docs, F.col("lang") == DSIR_TARGET_LANG, carry=("lang",)
    )
    return (
        lw.select("doc_id", "lang", F.round("logw", 6).alias("logw"))
        .orderBy(F.desc("logw"), F.asc("doc_id"))
        .limit(DSIR_N)
    )


_DSIR_TOKS = """
  SELECT doc_id,
         {h} % {B} AS b
  FROM (SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
        FROM {src})
"""


def _dsir_sql() -> str:
    h = H.sql_h60("w")
    B = DSIR_BUCKETS
    raw = _DSIR_TOKS.format(h=h, B=B, src="documents")
    tgt = _DSIR_TOKS.format(
        h=h, B=B, src=f"(SELECT * FROM documents WHERE lang = '{DSIR_TARGET_LANG}')"
    )
    return f"""
WITH raw_b AS ({raw}),
tgt_b AS ({tgt}),
lm_t AS (
  SELECT b, ln((count(*) + 1.0) / (sum(count(*)) OVER () + {B}.0)) AS lp_t
  FROM tgt_b GROUP BY b
),
lm_r AS (
  SELECT b, ln((count(*) + 1.0) / (sum(count(*)) OVER () + {B}.0)) AS lp_r
  FROM raw_b GROUP BY b
),
nb AS (SELECT doc_id, b, count(*) AS n FROM raw_b GROUP BY doc_id, b),
lw AS (
  SELECT nb.doc_id, sum(nb.n * (lm_t.lp_t - lm_r.lp_r)) AS logw
  FROM nb JOIN lm_t ON nb.b = lm_t.b JOIN lm_r ON nb.b = lm_r.b
  GROUP BY nb.doc_id
)
SELECT lw.doc_id, d.lang, round(lw.logw, 6) AS logw
FROM lw JOIN documents d ON d.doc_id = lw.doc_id
ORDER BY round(lw.logw, 6) DESC, lw.doc_id
LIMIT {DSIR_N}
"""


SAMPLE_DSIR_SQL = _dsir_sql()

QUERIES["sample_dsir"] = sample_dsir
ORACLE["sample_dsir"] = SAMPLE_DSIR_SQL
