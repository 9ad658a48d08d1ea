"""Deduplication operators over the ``documents`` / ``embeddings`` tables.

Five dedup families, each a driver-checkable query with a DuckDB oracle:

- exact           : hash-groupBy on content
- minhash-LSH     : shingle → seeded minhash → band → bucket self-join
- n-gram Jaccard  : inverted shingle index → pairwise exact Jaccard
- simhash         : per-bit weighted vote over shingle hashes
- embedding cosine: near-duplicate pairs above a cosine threshold

All hashing is the MD5-derived cross-engine family in functions.hashing, so
the Spark plan and the oracle agree bit-for-bit and the hot path stays
JVM-side (no Python UDFs anywhere in this module).

Scale notes
-----------
At 100 TB the only operators allowed to see all pairs are the LSH-bucketed
ones: minhash candidate pairs are generated by an equi-self-join on
(band, minhash) — shuffle on the band key, bucket sizes bounded by hash
uniformity (a hot bucket means near-identical docs, which is the signal).
The exact-Jaccard pass runs only on LSH candidates in production
(``ngram_jaccard_pairs(candidates=...)``); the all-pairs oracle query is the
test-scale configuration.  Embedding near-dup at scale composes the same way:
LSH/IVF prefilter (llm.similarity) then exact cosine on candidates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lachesis_spark.functions import hashing as H
from lachesis_spark.functions import text as TX
from lachesis_spark.functions import vectors as V

from lachesis_spark.binding import base_table
from lachesis_spark.llm.textstats import _docs

from lachesis_spark.operators.core import barrier as _barrier
from lachesis_spark.operators.core import driver_edges, driver_frame

N_BANDS = 8
SHINGLE_N = 3
COSINE_THRESHOLD = 0.3
SIMHASH_BITS = 16


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return base_table(spark, sf_dir, "embeddings")


# SQL fragment: tokenized/shingled documents, kept textually in sync with
# functions.text.tokens / word_shingles.
_SQL_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"
_SQL_SHINGLES = (
    f"list_transform(range(1, greatest(len({_SQL_TOKENS}) - {SHINGLE_N - 2}, 1)), "
    f"i -> {_SQL_TOKENS}[i] || ' ' || {_SQL_TOKENS}[i+1] || ' ' || {_SQL_TOKENS}[i+2])"
)


# ---------------------------------------------------------------------------
# 1. Exact dedup: hash-groupBy (one shuffle on the content hash; at 100 TB
#    hash first so the shuffle moves 16-byte keys, not documents).
def dedup_exact(spark, sf_dir):
    # one md5 per row feeding a map-side-combined groupBy: the floor's
    # full-text round-robin costs more than the hash it would spread
    docs = _docs(spark, sf_dir, floor=False)
    return (
        docs.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


# ---------------------------------------------------------------------------
# 2. MinHash + LSH candidate pairs: shingle → per-band seeded minhash →
#    self-join on (band, minhash).
def shingled_from(docs: DataFrame) -> DataFrame:
    """(doc_id, sh: array<string>) with the shingle array materialized
    behind a repartition barrier.  The barrier matters: without it
    CollapseProject inlines the (tokenize-heavy) shingle expression into
    every downstream use — 8 bands would re-tokenize every document 8
    times.  One tiny shuffle of (id, array) rows buys single evaluation."""
    return docs.select(
        "doc_id", TX.word_shingles("text", SHINGLE_N).alias("sh")
    ).repartition("doc_id")


def shingled_docs(spark, sf_dir) -> DataFrame:
    return shingled_from(_docs(spark, sf_dir))


def doc_shingles(spark, sf_dir) -> DataFrame:
    return (
        shingled_docs(spark, sf_dir)
        .select("doc_id", F.explode("sh").alias("sh"))
        .distinct()
    )


def _sig_entries(sh) -> F.Column:
    """The per-doc (band, minhash) struct array over a shingle-array
    column or lambda variable: band b's minhash = min over shingles of
    h60('b|' || shingle)."""
    return F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.array_min(
                F.transform(sh, lambda s: H.h60(F.concat(F.lit(f"{b}|"), s)))
            ).alias("minhash"),
        )
        for b in range(N_BANDS)
    ])


def minhash_signatures(spark, sf_dir) -> DataFrame:
    """(doc_id, band, minhash): band b's minhash = min over shingles of
    h60('b|' || shingle).

    Computed entirely as array expressions: per band, array_min over the
    transformed shingle array.  No shingle explode, no (doc, shingle, band)
    shuffle — and no barrier exchange either: the shingle array is bound
    as a LAMBDA VARIABLE (transform over a 1-element array, the
    text_langid_ngram trick), so the tokenize-heavy shingle expression is
    evaluated ONCE per row even though all N_BANDS band expressions
    reference it — where :func:`shingled_from`'s repartition barrier paid
    a full-corpus exchange for the same once-per-row guarantee.  min over
    duplicates == min over distinct, so the shingle array needs no dedup."""
    docs = _docs(spark, sf_dir)
    bound = F.element_at(
        F.transform(F.array(TX.word_shingles("text", SHINGLE_N)), _sig_entries), 1
    )
    return (
        docs.select("doc_id", F.explode(bound).alias("x"))
        .select("doc_id", "x.band", "x.minhash")
        .filter(F.col("minhash").isNotNull())
    )


def minhash_signatures_from(shingled: DataFrame) -> DataFrame:
    """Signature computation over an existing (doc_id, sh-array) frame, so
    callers composing several shingle consumers (e.g. dedup_recall's truth
    + candidate sides) share ONE corpus scan."""
    return (
        shingled.select("doc_id", F.explode(_sig_entries(F.col("sh"))).alias("x"))
        .select("doc_id", "x.band", "x.minhash")
        .filter(F.col("minhash").isNotNull())
    )


def dedup_minhash_lsh(spark, sf_dir):
    """Candidate near-dup pairs: docs sharing any band's minhash.

    The signature frame feeds BOTH sides of the band self-join, and Spark
    plans the subtree twice (no exchange-reuse across the join's inputs),
    doubling the tokenize/shingle/minhash work — the dominant cost.  A
    lazy localCheckpoint materializes signatures once and both sides read
    the checkpointed rows (measured 2.9 s → 2.3 s steady-state at sf0.1,
    and every CC-family consumer drops ~0.5-0.7 s the same way).  At
    100 TB this materialization IS the signature index the incremental
    loop (dedup_incremental_near) persists anyway."""
    sig = minhash_signatures(spark, sf_dir).transform(_barrier)
    a = sig.select(F.col("doc_id").alias("a_id"), "band", "minhash")
    b = sig.select(F.col("doc_id").alias("b_id"), F.col("band").alias("band2"),
                   F.col("minhash").alias("minhash2"))
    return (
        a.join(b, (F.col("band") == F.col("band2")) & (F.col("minhash") == F.col("minhash2")))
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


_SQL_MINHASH_SIG = f"""
  SELECT doc_id, band,
         min(CAST(('0x' || substr(md5(CAST(band AS VARCHAR) || '|' || sh), 1, 15)) AS BIGINT))
           AS minhash
  FROM (
    SELECT DISTINCT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents
  ), (SELECT unnest(range(0, {N_BANDS})) AS band)
  GROUP BY doc_id, band
"""

DEDUP_MINHASH_SQL = f"""
WITH sig AS ({_SQL_MINHASH_SIG})
SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash
WHERE a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# 3. Exact n-gram Jaccard: inverted shingle index → pair intersection counts
#    → top-20 most similar pairs.
def ngram_jaccard_pairs(spark, sf_dir, k: int = 20, candidates: DataFrame | None = None):
    """Top-k exact-Jaccard pairs.  Without ``candidates`` this is the
    all-pairs inverted-index form — the TEST-SCALE configuration (the
    oracle query).  The production path passes ``candidates`` (an
    (a_id, b_id) frame, e.g. ``dedup_minhash_lsh``'s output): the exact
    intersection then runs only over candidate pairs — shingles join the
    candidate list on each side instead of self-joining the whole corpus,
    so pair cost is O(|candidates| · shingles-per-doc), not O(corpus²)."""
    # Per-doc DISTINCT shingle arrays (the containment/dedup_recall
    # restructure pattern): exploding array_distinct(sh) is already
    # distinct — no index-wide DISTINCT shuffle — and the set size rides
    # each join side as a size() column folded into the pair groupBy,
    # so the two pair-sized size joins disappear.  Cached because both
    # join sides re-derive it (array frame: smaller than the exploded
    # index the old form cached).
    arr = (
        shingled_docs(spark, sf_dir)
        .select("doc_id", F.array_distinct("sh").alias("shs"))
        .cache()
    )
    sh = arr.select(
        "doc_id", F.size("shs").alias("sz"), F.explode("shs").alias("sh")
    )
    if candidates is not None:
        cand = candidates.select("a_id", "b_id").distinct()
        a_sh = cand.join(
            sh.select(
                F.col("doc_id").alias("a_id"), F.col("sz").alias("a_sz"), "sh"
            ),
            "a_id",
        )
        inter = (
            a_sh.join(
                sh.select(
                    F.col("doc_id").alias("b_id"), F.col("sz").alias("b_sz"), "sh"
                ),
                ["b_id", "sh"],
            )
            .groupBy("a_id", "b_id")
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.first("a_sz").alias("a_sz"),
                F.first("b_sz").alias("b_sz"),
            )
        )
    else:
        a = sh.select(
            F.col("doc_id").alias("a_id"), F.col("sz").alias("a_sz"), "sh"
        )
        b = sh.select(
            F.col("doc_id").alias("b_id"),
            F.col("sz").alias("b_sz"),
            F.col("sh").alias("sh2"),
        )
        inter = (
            a.join(b, (F.col("sh") == F.col("sh2")) & (F.col("a_id") < F.col("b_id")))
            .groupBy("a_id", "b_id")
            .agg(
                F.count(F.lit(1)).alias("inter"),
                F.first("a_sz").alias("a_sz"),
                F.first("b_sz").alias("b_sz"),
            )
        )
    scored = inter.select(
        "a_id", "b_id",
        (F.col("inter") / (F.col("a_sz") + F.col("b_sz") - F.col("inter"))).alias("jaccard"),
    )
    out = scored.orderBy(
        F.col("jaccard").desc(), F.col("a_id").asc(), F.col("b_id").asc()
    ).limit(k)
    try:
        rows = [tuple(r) for r in out.collect()]  # k rows via TakeOrdered
    finally:
        arr.unpersist()  # release the shingle cache with the final action
    return spark.createDataFrame(rows, "a_id bigint, b_id bigint, jaccard double")


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH sh AS (SELECT DISTINCT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT a_id, b_id,
       CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
ORDER BY jaccard DESC, a_id ASC, b_id ASC LIMIT 20
"""


# ---------------------------------------------------------------------------
# 4. SimHash: per-bit weighted vote over shingle hashes (16-bit signature).
#    Integer votes → no float nondeterminism across engines.
#    Pure array expressions: hash the distinct shingles once per doc, then
#    fold each bit's ±1 votes.  Zero shuffles (the earlier formulation
#    exploded docs × shingles × bits rows through two groupBys).
def dedup_simhash(spark, sf_dir):
    # The hashed-shingle array is bound as a LAMBDA VARIABLE (the
    # minhash_signatures / text_langid_ngram trick), so the tokenize +
    # md5 work runs once per row even though all SIMHASH_BITS bit folds
    # reference it — the old form bought the same guarantee with TWO
    # full-corpus repartition barriers (one for the shingle array, one
    # for the hash array).  The explode(1-element array) keeps the
    # empty-doc filter from re-evaluating the binding: a post-Generate
    # filter cannot inline into the generator expression.
    def sig_of(hs):
        def bit_votes(bit: int):
            return F.aggregate(
                hs,
                F.lit(0).cast("long"),
                lambda acc, h: acc
                + (F.shiftright(h, bit).bitwiseAND(F.lit(1)) * 2 - 1),
            )

        sig = sum(
            (
                F.when(bit_votes(b) > 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(SIMHASH_BITS)
            ),
            F.lit(0),
        )
        return F.struct(
            F.size(hs).alias("nsh"), sig.cast("long").alias("simhash")
        )

    hs_expr = F.transform(
        F.array_distinct(TX.word_shingles("text", SHINGLE_N)),
        lambda s: H.h60(s),
    )
    bound = F.element_at(F.transform(F.array(hs_expr), sig_of), 1)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(F.array(bound)).alias("s"))
        .filter(F.col("s.nsh") > 0)
        .select("doc_id", F.col("s.simhash").alias("simhash"))
    )


DEDUP_SIMHASH_SQL = f"""
WITH sh AS (SELECT DISTINCT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents),
bits AS (SELECT doc_id, sh, unnest(range(0, {SIMHASH_BITS})) AS bit FROM sh),
votes AS (
  SELECT doc_id, bit,
         sum(2 * ((CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) >> bit) & 1) - 1) AS s
  FROM bits GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# 5. Embedding-cosine near-duplicate pairs, blocked-GEMM formulation.
#    All-pairs expressed as a self-join of *blocks* (B(B+1)/2 block pairs,
#    each a dense numpy GEMM inside an Arrow batch) instead of n² row pairs
#    through scalar expressions — ~30× faster at sf0.1 and the shape that
#    scales: block size stays constant, block-pair tasks spread across the
#    cluster, and each task's working set is 2 blocks.  At 100 TB run this
#    over LSH/IVF candidate buckets (llm.similarity) rather than all blocks.
def dedup_embedding_cosine(
    spark,
    sf_dir,
    threshold: float = COSINE_THRESHOLD,
    block_rows: int = 2048,
):
    emb = _emb(spark, sf_dir).select(
        "vec_id", V.to_double_array("embedding").alias("e")
    )
    n = emb.count()
    n_blocks = max(1, -(-n // block_rows))
    blocks = (
        emb.groupBy((F.col("vec_id") % n_blocks).alias("g"))
        .agg(F.collect_list(F.struct("vec_id", "e")).alias("vs"))
    )
    left = blocks.select(F.col("g").alias("g1"), F.col("vs").alias("vs1"))
    right = blocks.select(F.col("g").alias("g2"), F.col("vs").alias("vs2"))
    bp = left.join(right, F.col("g1") <= F.col("g2"))

    def gemm(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"a_id": pd.Series(dtype="int64"), "b_id": pd.Series(dtype="int64")}
        )
        for pdf in batches:
            out_a, out_b = [], []
            for r in pdf.itertuples(index=False):
                ids1 = np.fromiter((v["vec_id"] for v in r.vs1), dtype=np.int64)
                m1 = np.asarray([v["e"] for v in r.vs1], dtype=np.float64)
                ids2 = np.fromiter((v["vec_id"] for v in r.vs2), dtype=np.int64)
                m2 = np.asarray([v["e"] for v in r.vs2], dtype=np.float64)
                m1 /= np.linalg.norm(m1, axis=1, keepdims=True)
                m2 /= np.linalg.norm(m2, axis=1, keepdims=True)
                ai, bi = np.nonzero(m1 @ m2.T >= threshold)
                a, b = ids1[ai], ids2[bi]
                if r.g1 == r.g2:
                    keep = a < b
                    a, b = a[keep], b[keep]
                else:
                    a, b = np.minimum(a, b), np.maximum(a, b)
                out_a.append(a)
                out_b.append(b)
            if out_a:
                yield pd.DataFrame(
                    {"a_id": np.concatenate(out_a), "b_id": np.concatenate(out_b)}
                )
            else:
                yield empty

    return bp.mapInPandas(gemm, "a_id bigint, b_id bigint")


DEDUP_EMBEDDING_SQL = f"""
WITH coo AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM coo GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dp
  FROM coo a JOIN coo b ON a.j = b.j AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT a_id, b_id
FROM dots JOIN norms na ON na.vec_id = a_id JOIN norms nb ON nb.vec_id = b_id
WHERE dp / (na.nrm * nb.nrm) >= {COSINE_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# 6. Connected components over the LSH candidate pairs, the step that
#    turns near-dup *pairs* into dedup *groups* (each doc keeps the smallest
#    doc_id of its component as canonical).  The oracle form runs a fixed
#    CC_ITERS min-label sweeps ≈ min-label BFS of that depth — enough for
#    the short chains near-dup clusters form, and DuckDB-unrollable; the
#    production form runs hook-and-jump rounds to convergence.  At 100 TB
#    each sweep or round is a few joins and one agg on the (small) pair
#    set, not the corpus.
CC_ITERS = 4


def _minhash_pairs_raw(spark, sf_dir):
    """Candidate pairs WITHOUT the final distinct — min-label propagation is
    duplicate-tolerant (min is idempotent), so components skip that shuffle.
    Signatures lazily checkpointed for the same both-sides reuse as
    dedup_minhash_lsh."""
    sig = minhash_signatures(spark, sf_dir).transform(_barrier)
    a = sig.select(F.col("doc_id").alias("a_id"), "band", "minhash")
    b = sig.select(F.col("doc_id").alias("b_id"), F.col("band").alias("band2"),
                   F.col("minhash").alias("minhash2"))
    return (
        a.join(b, (F.col("band") == F.col("band2")) & (F.col("minhash") == F.col("minhash2")))
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )


def _cc_edges(pairs):
    """Undirected edge list from a (a_id, b_id) pair frame, hash-partitioned
    on ``v``.  The pair set is orders of magnitude smaller than the corpus;
    the CC loops run at a partition count sized to it, not to the
    corpus-scale shuffle default (at test scale 64-way sweeps are pure
    scheduling overhead)."""
    n_parts = max(8, pairs.rdd.getNumPartitions() // 4)
    return (
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .union(pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
        .repartition(n_parts, "v")
    )


def _cc_sweep(edges, label):
    """One min-label propagation sweep (cc_fixed's unrolled form):
    messages = edges⋈label on the destination, per-u min, fold the min into
    the label (left join)."""
    messages = edges.join(label, edges["v"] == label["node"]).select("u", "lbl")
    neighbor_min = messages.groupBy("u").agg(F.min("lbl").alias("nlbl"))
    return (
        label.join(neighbor_min, label["node"] == neighbor_min["u"], "left")
        .select(
            "node",
            F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
        )
    )


def cc_fixed(pairs, iters: int = CC_ITERS):
    """Fixed-depth min-label propagation (DuckDB-unrollable; the oracle
    query form).  Labels two nodes identically only if a connecting path
    has min-label BFS depth <= ``iters`` — use :func:`cc_converged` when
    chains can run deeper (see its docstring)."""
    pairs = pairs.cache()  # the union below reads the pair frame twice
    edges = _cc_edges(pairs).cache()
    nodes = edges.select(F.col("u").alias("node")).distinct()
    label = nodes.withColumn("lbl", F.col("node"))
    for _ in range(iters):
        label = _cc_sweep(edges, label)
    return label.select(F.col("node").alias("doc_id"), F.col("lbl").alias("canonical_id"))


def _cc_round(edges, label, n_parts):
    """One hook-and-jump round over a (node, lbl) frame ``p``: hook
    ``new[p[u]] = min(new[p[u]], p[v])`` over every directed edge (u, v) —
    u's LABEL hooks onto v's label — then jump once, ``p = new[new]``.
    Only hooks with ``p[v] < p[u]`` can lower a label, so only those
    shuffle.

    ``edges`` must be a cached frame hash-partitioned on ``v`` at
    ``n_parts``.  Three explicit repartitions set the round's width: the
    label on node, the union on node (the min) and the jump rows on key;
    the one other exchange copies ``n_parts`` from the label side, so none
    runs at the session-global width (test-locked).  The join strategy is
    left to AQE."""
    lab = label.repartition(n_parts, "node").select(
        F.col("node").alias("key"), F.col("lbl").alias("lab")
    )
    # Every endpoint has a label, so the left joins match like inner ones;
    # they keep the edge side from being picked as a broadcast build.  The
    # coalesce keeps the filter from turning them back into inner joins.
    hooks = (
        edges.select(F.col("v").alias("key"), "u")
        .join(lab, "key", "left")
        .select(F.col("u").alias("key"), F.col("lab").alias("pv"))
        .join(lab, "key", "left")
        .where(F.coalesce(F.col("pv") < F.col("lab"), F.lit(True)))
        .select(F.col("lab").alias("node"), F.col("pv").alias("lbl"))
    )
    new = (
        label.unionByName(hooks)
        .repartition(n_parts, "node")
        .groupBy("node")
        .agg(F.min("lbl").alias("lbl"))
    )
    # The jump reads ``new`` once: each node's own row (key = node, val =
    # new[node]) meets the request rows (key = new[x]) on key.  A self-join
    # would plan ``new`` twice, and exchanges over the cached edges are not
    # reused, so it would run the hooks twice.
    rows = new.select(
        F.explode(F.array(
            F.struct(F.col("node").alias("key"), "node", F.col("lbl").alias("val")),
            F.struct(F.col("lbl").alias("key"), "node", F.lit(None).cast("long").alias("val")),
        )).alias("r")
    ).select("r.*")
    return (
        rows.repartition(n_parts, "key")
        .withColumn("lbl", F.max("val").over(Window.partitionBy("key")))
        .where(F.col("val").isNull())
        .select("node", "lbl")
    )


def _cc_driver(spark, nodes, ui, vi, max_sweeps):
    """cc_converged's driver kernel: the hook-and-jump round of
    :func:`_cc_round` on node indices (ids sorted, so the smallest index is
    the smallest id).  lbl[x] always names a node of x's component with
    lbl[x] <= x; a round hooks each edge's u-label onto its v-label, then
    jumps every pointer once."""
    lbl = np.arange(len(nodes))
    for _ in range(max_sweeps):
        pu, pv = lbl[ui], lbl[vi]
        hook = pv < pu
        new = lbl.copy()
        np.minimum.at(new, pu[hook], pv[hook])
        new = new[new]
        if np.array_equal(new, lbl):
            return driver_frame(spark, doc_id=nodes, canonical_id=nodes[lbl])
        lbl = new
    raise RuntimeError(f"cc_converged did not converge in {max_sweeps} rounds")


def _label_drop(label):
    """The convergence probe: the exact total drop Σ(node − lbl), 0 for the
    identity labeling, and the one action that materializes the round's
    lazy checkpoint."""
    dec = "decimal(38,0)"
    drop = F.col("node").cast(dec) - F.col("lbl").cast(dec)
    return label.agg(F.sum(drop)).collect()[0][0]


def cc_converged(pairs, max_sweeps: int = 200):
    """Connected components TO CONVERGENCE — the production form.

    A fixed sweep count silently mis-groups any component whose label chain
    is deeper than the count (incremental template drift on a 100 TB corpus
    produces exactly such chains), so this runs hook-and-jump rounds
    (:func:`_cc_round`; the hook-and-shortcut family of Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014) until a round
    changes nothing — measured at O(log n) rounds, even on long chains with
    shuffled ids (SCALE.md) — and raises if ``max_sweeps`` rounds run out
    first.  Each doc's
    canonical id is its component's smallest doc_id.

    Edge lists under the driver gate (:func:`driver_edges`) are collected
    and labeled by :func:`_cc_driver`, the same round in numpy.  Bigger
    ones run the round in Spark, where the convergence test is one tiny
    aggregation per round: labels only ever DECREASE, so the total drop
    Σ(node − lbl) strictly increases from 0 until the fixpoint and "drop
    unchanged" ⟺ "no label changed".  The sum runs in decimal(38,0) so it
    cannot overflow at any node-count/id scale.  Every round lazily
    checkpoints the node-sized label frame and the probe materializes it,
    so lineage stays one round deep; superseded checkpoint blocks are
    GC-released.  No path writes the session conf (test-locked in
    tests/test_dedup_components.py)."""
    pairs = pairs.cache()  # read twice by the edge union; released just below
    edges = _cc_edges(pairs).transform(_barrier)
    n_parts = edges.rdd.getNumPartitions()
    g = driver_edges(edges)  # also materializes the edge checkpoint
    pairs.unpersist()
    if g is not None:
        return _cc_driver(edges.sparkSession, *g, max_sweeps)
    # the checkpoint forgets its partitioning under AQE and a cache keeps
    # it, so the rounds read one cached copy partitioned on v
    edges = edges.repartition(n_parts, "v").cache()
    label = (
        edges.select(F.col("u").alias("node"))
        .repartition(n_parts, "node")
        .distinct()
        .withColumn("lbl", F.col("node"))
        .transform(_barrier)
    )
    try:
        prev = 0
        for _ in range(max_sweeps):
            label = _cc_round(edges, label, n_parts).transform(_barrier)
            drop = _label_drop(label)
            if drop == prev:
                return label.select(
                    F.col("node").alias("doc_id"), F.col("lbl").alias("canonical_id")
                )
            prev = drop
        raise RuntimeError(f"cc_converged did not converge in {max_sweeps} rounds")
    finally:
        edges.unpersist()


def cc_incremental(labels, new_pairs):
    """Fold a NEW batch of near-dup pairs into an existing component
    labeling without re-running CC over all historical pairs — the
    operational form at 100 TB/day (the pair history grows forever; the
    label table is one row per ever-paired doc).

    Prior components are summarized as star edges (node ↔ canonical), which
    is exactly the information min-label propagation needs from history:
    within a known component every member reaches the old minimum in one
    hop, so convergence depth is bounded by the NEW pairs' chain structure,
    not the historical graph's.  Equivalent to cc_converged over
    (all-old-pairs ∪ new-pairs) — test-locked — at the cost of the new
    batch plus one star edge per labeled node."""
    star = labels.where(F.col("doc_id") != F.col("canonical_id")).select(
        F.col("doc_id").alias("a_id"), F.col("canonical_id").alias("b_id")
    )
    return cc_converged(star.unionByName(new_pairs))


def dedup_incremental_near(
    sig_index: DataFrame | None, labels: DataFrame | None, new_docs: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """One batch step of the incremental NEAR-dup loop — the 100 TB/day
    operational form, completing what ``dedup_incremental`` (exact hashes)
    starts: the corpus TEXT is never re-read; the persistent state is the
    signature index (docs × N_BANDS fixed-width rows) and the component
    label table.

    Per batch: signatures for the new docs only; candidate pairs =
    in-batch band self-join ∪ batch×index band join (both equi-joins on
    (band, minhash) — the index side is never self-joined again); labels
    folded forward with :func:`cc_incremental`.  Returns (the batch's
    signature rows — union them into the stored index, and the updated
    label table).  Proven equal to a full ``cc_converged`` over the
    combined corpus's pairs in tests."""
    # eagerly materialized (not cache/unpersist): the documented contract is
    # for the CALLER to union the returned batch signatures into the stored
    # index — a lazy plan would recompute the whole shingle+minhash pipeline
    # at that later action.  localCheckpoint blocks serve every downstream
    # read (both band joins here AND the caller's index append) from one
    # computation, and are GC-released with the frame.
    new_sig = minhash_signatures_from(shingled_from(new_docs)).transform(_barrier, eager=True)
    a = new_sig.select(F.col("doc_id").alias("a_id"), "band", "minhash")
    b = new_sig.select(F.col("doc_id").alias("b_id"),
                       F.col("band").alias("band2"),
                       F.col("minhash").alias("minhash2"))
    in_batch = (
        a.join(b, (F.col("band") == F.col("band2"))
               & (F.col("minhash") == F.col("minhash2")))
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
    )
    if sig_index is not None:
        idx = sig_index.select(F.col("doc_id").alias("b_id"),
                               F.col("band").alias("band2"),
                               F.col("minhash").alias("minhash2"))
        cross = (
            a.join(idx, (F.col("band") == F.col("band2"))
               & (F.col("minhash") == F.col("minhash2")))
            .filter(F.col("a_id") != F.col("b_id"))
            .select(F.least("a_id", "b_id").alias("a_id"),
                    F.greatest("a_id", "b_id").alias("b_id"))
        )
        pairs = in_batch.unionByName(cross)
    else:
        pairs = in_batch
    if labels is not None:
        new_labels = cc_incremental(labels, pairs)
    else:
        new_labels = cc_converged(pairs)
    return new_sig, new_labels


def dedup_components(spark, sf_dir):
    return cc_fixed(_minhash_pairs_raw(spark, sf_dir))


def dedup_components_conv(spark, sf_dir):
    """Convergent dedup grouping over the LSH candidate pairs.  Oracled by
    a DuckDB RECURSIVE transitive-closure query (true component minimum),
    so unlike the fixed-depth form the check is depth-independent."""
    return cc_converged(_minhash_pairs_raw(spark, sf_dir))


def dedup_near_survivors(spark, sf_dir):
    """The step near-dup dedup actually ships: keep ONE document per
    near-dup component (its min doc_id) plus every unpaired document, and
    report per-source survivor counts.  Composes the convergent grouping
    (labels join back to the corpus on doc_id — one corpus-side join, the
    label frame is pair-set-sized) with the keep-canonical rule; at 100 TB
    the labels frame is the only state between the dedup run and the
    corpus rewrite."""
    labels = cc_converged(_minhash_pairs_raw(spark, sf_dir))
    # the corpus side goes straight into a doc_id join (its own shuffle);
    # a round-robin ahead of it is pure cost
    docs = _docs(spark, sf_dir, floor=False)
    tagged = docs.join(labels, "doc_id", "left")
    survivors = tagged.where(
        F.col("canonical_id").isNull() | (F.col("canonical_id") == F.col("doc_id"))
    )
    return survivors.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )


def _components_sql() -> str:
    base = f"""
pairs AS ({DEDUP_MINHASH_SQL.strip()}),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
),
nodes AS (SELECT DISTINCT u AS node FROM edges),
l0 AS (SELECT node, node AS lbl FROM nodes)"""
    its = []
    for i in range(1, CC_ITERS + 1):
        its.append(f"""
nm{i} AS (
  SELECT e.u, min(l.lbl) AS nlbl
  FROM edges e JOIN l{i - 1} l ON e.v = l.node GROUP BY e.u
),
l{i} AS (
  SELECT l.node, least(l.lbl, coalesce(n.nlbl, l.lbl)) AS lbl
  FROM l{i - 1} l LEFT JOIN nm{i} n ON l.node = n.u
)""")
    return (
        f"WITH {base},{','.join(its)}\n"
        f"SELECT node AS doc_id, lbl AS canonical_id FROM l{CC_ITERS}"
    )


# True-fixpoint oracle for the CONVERGENT form: recursive transitive
# closure (UNION dedups, so it terminates), then the component minimum.
# Depth-independent — exactly what a fixed unrolling structurally cannot
# check, which was the round-4 flag on dedup_components.
DEDUP_COMPONENTS_CONV_SQL = f"""
WITH RECURSIVE
pairs AS MATERIALIZED ({DEDUP_MINHASH_SQL.strip()}),
edges AS MATERIALIZED (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
),
reach(node, lbl) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
)
SELECT node AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY node
"""

DEDUP_NEAR_SURVIVORS_SQL = f"""
WITH RECURSIVE
pairs AS MATERIALIZED ({DEDUP_MINHASH_SQL.strip()}),
edges AS MATERIALIZED (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
),
reach(node, lbl) AS (
  SELECT DISTINCT u, u FROM edges
  UNION
  SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.node
),
labels AS (
  SELECT node AS doc_id, min(lbl) AS canonical_id FROM reach GROUP BY node
)
SELECT d.source, count(*) AS n_kept,
       CAST(sum(d.n_chars) AS BIGINT) AS kept_chars
FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
WHERE l.canonical_id IS NULL OR l.canonical_id = d.doc_id
GROUP BY d.source
"""


# ---------------------------------------------------------------------------
# 7. End-to-end corpus clean: quality filter → exact dedup keep-canonical →
#    per-source survivor stats.  The composed pipeline a pretraining corpus
#    actually runs; one pass + two aggregations.
def corpus_clean(spark, sf_dir, min_quality: float = 0.5):
    from lachesis_spark.functions import text as TX

    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id", "source", "text", TX.quality_score("text").alias("q")
    ).filter(F.col("q") >= min_quality)
    canon = (
        scored.withColumn("content_hash", F.md5("text"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            # deterministically keep the min-doc_id row's source
            F.min(F.struct("doc_id", "source"))["source"].alias("source"),
            F.avg("q").alias("q"),
        )
    )
    return canon.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("q").alias("avg_q"),
    )


# quality-score fragments textually mirroring functions.text (as textstats)
_SQL_ATL = (
    f"(list_sum(list_transform({_SQL_TOKENS}, t -> CAST(length(t) AS DOUBLE)))"
    f" / CAST(len({_SQL_TOKENS}) AS DOUBLE))"
)
_SQL_PUNCT = (
    "(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE))"
)

CORPUS_CLEAN_SQL = f"""
WITH scored AS (
  SELECT doc_id, source, text,
         ((CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.5 END)
          + (CASE WHEN {_SQL_ATL} BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
          + (1.0 - least({_SQL_PUNCT} * 5.0, 1.0))) / 3.0 AS q
  FROM documents
),
filtered AS (SELECT * FROM scored WHERE q >= 0.5),
canon AS (
  SELECT md5(text) AS content_hash, min(doc_id) AS doc_id,
         arg_min(source, doc_id) AS source, avg(q) AS q
  FROM filtered GROUP BY md5(text)
)
SELECT source, count(*) AS n_docs, avg(q) AS avg_q
FROM canon GROUP BY source
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_ngram_jaccard": ngram_jaccard_pairs,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_components": dedup_components,
    "dedup_components_conv": dedup_components_conv,
    "dedup_near_survivors": dedup_near_survivors,
    "corpus_clean": corpus_clean,
}

ORACLE = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": DEDUP_MINHASH_SQL,
    "dedup_ngram_jaccard": DEDUP_NGRAM_JACCARD_SQL,
    "dedup_simhash": DEDUP_SIMHASH_SQL,
    "dedup_embedding_cosine": DEDUP_EMBEDDING_SQL,
    "dedup_components": _components_sql(),
    "dedup_components_conv": DEDUP_COMPONENTS_CONV_SQL,
    "dedup_near_survivors": DEDUP_NEAR_SURVIVORS_SQL,
    "corpus_clean": CORPUS_CLEAN_SQL,
}


# ---------------------------------------------------------------------------
# 8. Incremental dedup — the operational form at 100 TB/day: a new batch is
#    deduped against the EXISTING corpus's hash index, never by re-scanning
#    the corpus text.  Two steps, both hash-keyed:
#      (a) in-batch: keep one row per content hash (min doc_id);
#      (b) vs-index: anti-join the batch's 16-byte hashes against the
#          corpus index (bucketed on content_hash in production, so the
#          anti-join is partition-local; the corpus TEXT is never read).
#    Here doc_id < INCR_SPLIT plays the existing corpus, the rest the
#    arriving batch; output = per-source admission stats.
INCR_SPLIT = 300


def dedup_incremental(spark, sf_dir, use_bloom: bool = False):
    """``use_bloom`` routes the index anti-join through
    :func:`anti_join_bloom` — row-identical output (test-locked), with the
    index join's probe side Bloom-screened map-side.  The registry query
    keeps the plain path (the inline words-build would be pure overhead on
    a one-shot run); operationally the words list is built once per index
    epoch and amortized over every subsequent batch."""
    # md5-only consumer — round-6 regression triage: the floor cost
    # 0.47 -> 0.68 s at sf0.1 for zero benefit
    docs = _docs(spark, sf_dir, floor=False).withColumn("content_hash", F.md5("text"))
    index = (
        docs.where(F.col("doc_id") < INCR_SPLIT)
        .select("content_hash").distinct()
    )
    batch = docs.where(F.col("doc_id") >= INCR_SPLIT)
    in_batch = batch.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_batch_copies"),
    )
    if use_bloom:
        h60c = F.conv(F.substring("content_hash", 1, 15), 16, 10).cast("long")
        admitted = anti_join_bloom(
            in_batch.withColumn("h60c", h60c),
            index.withColumn("h60c", h60c),
            "content_hash",
            "h60c",
        ).drop("h60c")
    else:
        admitted = in_batch.join(index, "content_hash", "left_anti")
    src = batch.select("doc_id", "source")
    return (
        admitted.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_admitted"),
            F.sum(F.col("n_batch_copies") - 1).cast("bigint").alias("n_in_batch_dupes"),
        )
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH hashed AS (SELECT doc_id, source, md5(text) AS content_hash FROM documents),
idx AS (SELECT DISTINCT content_hash FROM hashed WHERE doc_id < {INCR_SPLIT}),
batch AS (SELECT * FROM hashed WHERE doc_id >= {INCR_SPLIT}),
in_batch AS (
  SELECT content_hash, min(doc_id) AS doc_id, count(*) AS n_batch_copies
  FROM batch GROUP BY content_hash
),
admitted AS (
  SELECT * FROM in_batch WHERE content_hash NOT IN (SELECT content_hash FROM idx)
)
SELECT b.source, count(*) AS n_admitted,
       CAST(sum(a.n_batch_copies - 1) AS BIGINT) AS n_in_batch_dupes
FROM admitted a JOIN batch b ON a.doc_id = b.doc_id
GROUP BY b.source
"""

QUERIES["dedup_incremental"] = dedup_incremental
ORACLE["dedup_incremental"] = DEDUP_INCREMENTAL_SQL


# ---------------------------------------------------------------------------
# 8b. SOFT dedup (SoftDeDup, Xue et al. 2024, arXiv:2401.00396): instead of
#     DROPPING duplicates, reweight every document by the "commonness" of
#     its content — sampling weight w = 1/n_copies^alpha — so duplicated
#     text contributes roughly one effective copy to training while rare
#     text keeps full weight.  Production pipelines prefer this to hard
#     removal when duplication correlates with quality (boilerplate vs
#     popular quotations).  Plan shape: ONE hash groupBy (16-byte keys, the
#     corpus text never shuffles) + a broadcast-eligible join back on the
#     hash — the same dataflow as dedup_exact plus one join; at 100 TB the
#     count table is |distinct contents| rows of (hash, long).
SOFT_DEDUP_ALPHA = 1.0


def dedup_soft(spark, sf_dir):
    docs = _docs(spark, sf_dir, floor=False).withColumn(
        "content_hash", F.md5("text")
    )
    counts = docs.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    weighted = docs.select("doc_id", "source", "content_hash", "n_chars").join(
        counts, "content_hash"
    ).withColumn(
        "w", F.pow(F.col("n_copies").cast("double"), F.lit(-SOFT_DEDUP_ALPHA))
    )
    # per-source accounting: raw vs effective (weight-discounted) corpus
    # mass — the number a mixture planner feeds on instead of hard-dropped
    # row counts
    return weighted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("w"), 6).alias("effective_docs"),
        F.sum("n_chars").alias("raw_chars"),
        F.round(F.sum(F.col("w") * F.col("n_chars")), 6).alias("effective_chars"),
    )


DEDUP_SOFT_SQL = f"""
WITH counts AS (
  SELECT md5(text) AS content_hash, count(*) AS n_copies
  FROM documents GROUP BY 1
),
weighted AS (
  SELECT d.doc_id, d.source, d.n_chars,
         pow(CAST(c.n_copies AS DOUBLE), -{SOFT_DEDUP_ALPHA!r}) AS w
  FROM documents d JOIN counts c ON md5(d.text) = c.content_hash
)
SELECT source, count(*) AS n_docs,
       round(sum(w), 6) AS effective_docs,
       CAST(sum(n_chars) AS BIGINT) AS raw_chars,
       round(sum(w * n_chars), 6) AS effective_chars
FROM weighted GROUP BY source
"""

QUERIES["dedup_soft"] = dedup_soft
ORACLE["dedup_soft"] = DEDUP_SOFT_SQL


# ---------------------------------------------------------------------------
# 9. Semantic dedup (SemDeDup, Abbas et al. 2023, arXiv:2303.09540): cluster
#    the embedding space, then search for near-duplicates ONLY within each
#    cluster — the cluster assignment is the candidate pruning that makes
#    embedding dedup tractable at corpus scale (all-pairs GEMM over the
#    whole corpus is O(n2); within-cluster it is sum of per-cluster
#    squares).  Centroids here are the k lowest-vec_id vectors — i.e. one
#    deterministic k-means assignment step, which keeps the whole plan
#    DuckDB-mirrorable; swap in iterative.kmeans centroids for production.
#    Inside a cluster the same blocked-GEMM shape as dedup_embedding_cosine
#    runs per (cluster, block) group, so one giant cluster still fans out
#    across tasks instead of landing in one.
SEM_K = 8


def dedup_semantic(
    spark,
    sf_dir,
    k: int = SEM_K,
    threshold: float = COSINE_THRESHOLD,
    block_rows: int = 2048,
):

    emb = _emb(spark, sf_dir).select(
        "vec_id", V.to_double_array("embedding").alias("e")
    )
    cent = (
        emb.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    )
    # k rows broadcast; argmax-cosine assignment, cid tiebreak for determinism
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .withColumn("cos", V.cosine(F.col("e"), F.col("ce")))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
            ),
        )
        .where(F.col("rn") == 1)
        .select("vec_id", "cid", "e")
    )
    n = emb.count()
    n_blocks = max(1, -(-n // block_rows))
    blocks = assigned.groupBy(
        "cid", (F.col("vec_id") % n_blocks).alias("g")
    ).agg(F.collect_list(F.struct("vec_id", "e")).alias("vs"))
    left = blocks.select("cid", F.col("g").alias("g1"), F.col("vs").alias("vs1"))
    right = blocks.select(
        F.col("cid").alias("cid2"), F.col("g").alias("g2"), F.col("vs").alias("vs2")
    )
    bp = left.join(
        right, (F.col("cid") == F.col("cid2")) & (F.col("g1") <= F.col("g2"))
    )

    def gemm(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"a_id": pd.Series(dtype="int64"), "b_id": pd.Series(dtype="int64")}
        )
        for pdf in batches:
            out_a, out_b = [], []
            for r in pdf.itertuples(index=False):
                ids1 = np.fromiter((v["vec_id"] for v in r.vs1), dtype=np.int64)
                m1 = np.asarray([v["e"] for v in r.vs1], dtype=np.float64)
                ids2 = np.fromiter((v["vec_id"] for v in r.vs2), dtype=np.int64)
                m2 = np.asarray([v["e"] for v in r.vs2], dtype=np.float64)
                m1 /= np.linalg.norm(m1, axis=1, keepdims=True)
                m2 /= np.linalg.norm(m2, axis=1, keepdims=True)
                ai, bi = np.nonzero(m1 @ m2.T >= threshold)
                a, b = ids1[ai], ids2[bi]
                if r.g1 == r.g2:
                    keep = a < b
                    a, b = a[keep], b[keep]
                else:
                    a, b = np.minimum(a, b), np.maximum(a, b)
                out_a.append(a)
                out_b.append(b)
            if out_a:
                yield pd.DataFrame(
                    {"a_id": np.concatenate(out_a), "b_id": np.concatenate(out_b)}
                )
            else:
                yield empty

    return bp.mapInPandas(gemm, "a_id bigint, b_id bigint")


DEDUP_SEMANTIC_SQL = f"""
WITH coo AS (
  SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS BIGINT) AS j,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM coo GROUP BY vec_id),
cent AS (SELECT vec_id AS cid FROM embeddings ORDER BY vec_id LIMIT {SEM_K}),
cosines AS (
  SELECT a.vec_id AS vid, c.cid,
         sum(a.v * b.v) / (any_value(na.nrm) * any_value(nb.nrm)) AS cos
  FROM coo a
  JOIN cent c ON TRUE
  JOIN coo b ON b.vec_id = c.cid AND b.j = a.j
  JOIN norms na ON na.vec_id = a.vec_id
  JOIN norms nb ON nb.vec_id = c.cid
  GROUP BY a.vec_id, c.cid
),
assign AS (
  SELECT vid, cid FROM (
    SELECT vid, cid,
           row_number() OVER (PARTITION BY vid ORDER BY cos DESC, cid ASC) AS rn
    FROM cosines
  ) WHERE rn = 1
),
dots AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dp
  FROM assign aa
  JOIN assign ab ON aa.cid = ab.cid AND aa.vid < ab.vid
  JOIN coo a ON a.vec_id = aa.vid
  JOIN coo b ON b.vec_id = ab.vid AND b.j = a.j
  GROUP BY a.vec_id, b.vec_id
)
SELECT a_id, b_id
FROM dots
JOIN norms na ON na.vec_id = a_id
JOIN norms nb ON nb.vec_id = b_id
WHERE dp / (na.nrm * nb.nrm) >= {COSINE_THRESHOLD}
"""

QUERIES["dedup_semantic"] = dedup_semantic
ORACLE["dedup_semantic"] = DEDUP_SEMANTIC_SQL


# ---------------------------------------------------------------------------
# 9. Exact substring (chunk-level) dedup — the Lee et al. "Deduplicating
#    Training Data Makes Language Models Better" pattern at chunk
#    granularity: split every document into consecutive CHUNK_W-word
#    chunks, find chunks appearing in more than one document, and score
#    each document by its duplicated-chunk fraction.  Catches partial /
#    templated duplication that whole-doc hashing misses and that MinHash
#    only scores in aggregate.
#
#    Scale: chunk text never shuffles — chunks are hashed (60-bit) in the
#    map stage, so the groupBy moves (hash, doc_id) pairs only; the count
#    table is hash→n_docs (16 bytes + long per distinct chunk) and joins
#    back on the hash key.  Two shuffles total, both on fixed-width keys,
#    linear in corpus token count.
CHUNK_W = 10
CHUNK_HEAVY = 0.5


def _chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= CHUNK_W)
    return (
        toks.select(
            "doc_id",
            "source",
            F.explode(
                F.expr(
                    f"transform(sequence(0, CAST(size(t) / {CHUNK_W} AS INT) - 1),"
                    f" i -> array_join(slice(t, i * {CHUNK_W} + 1, {CHUNK_W}), ' '))"
                )
            ).alias("chunk"),
        )
        .select("doc_id", "source", H.h60(F.col("chunk")).alias("ch"))
    )


def dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = _chunked(spark, sf_dir)
    shared = chunks.groupBy("ch").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    marked = chunks.join(shared, "ch").select(
        "doc_id",
        "source",
        F.when(F.col("nd") > 1, 1.0).otherwise(0.0).alias("dup"),
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.avg("dup").alias("dup_frac")
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("dup_frac"), 9).alias("avg_dup_chunk_frac"),
        F.sum(
            F.when(F.col("dup_frac") >= CHUNK_HEAVY, 1).otherwise(0)
        ).cast("bigint").alias("n_heavy_dup"),
    )


DEDUP_CHUNKS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, {_SQL_TOKENS} AS t FROM documents
  WHERE len({_SQL_TOKENS}) >= {CHUNK_W}
),
chunks AS (
  SELECT doc_id, source,
         {H.sql_h60('chunk')} AS ch
  FROM (
    SELECT doc_id, source,
           unnest(list_transform(
             generate_series(0, CAST(trunc(len(t) / {CHUNK_W}) AS INT) - 1),
             i -> array_to_string(list_slice(t, i * {CHUNK_W} + 1,
                                             i * {CHUNK_W} + {CHUNK_W}), ' ')
           )) AS chunk
    FROM toks
  )
),
shared AS (
  SELECT ch, count(DISTINCT doc_id) AS nd FROM chunks GROUP BY ch
),
per_doc AS (
  SELECT c.doc_id, c.source,
         avg(CASE WHEN s.nd > 1 THEN 1.0 ELSE 0.0 END) AS dup_frac
  FROM chunks c JOIN shared s ON c.ch = s.ch
  GROUP BY c.doc_id, c.source
)
SELECT source, count(*) AS n_docs,
       round(avg(dup_frac), 9) AS avg_dup_chunk_frac,
       CAST(sum(CASE WHEN dup_frac >= {CHUNK_HEAVY} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_heavy_dup
FROM per_doc GROUP BY source
"""

QUERIES["dedup_chunks"] = dedup_chunks
ORACLE["dedup_chunks"] = DEDUP_CHUNKS_SQL


# ---------------------------------------------------------------------------
# 9b. Paragraph REMOVAL — the shipped form of dedup_chunks.  CCNet's
#     paragraph-level dedup doesn't just measure cross-document repetition,
#     it deletes the repeated paragraphs and ships the cleaned corpus
#     (boilerplate headers/footers/navigation occur verbatim across many
#     pages).  Unit = consecutive CHUNK_W-word window (the synthetic docs
#     are single-line, so word windows stand in for paragraphs exactly as
#     in dedup_chunks); any unit seen in ≥ min_df distinct documents is
#     removed from ALL of them, and each document's surviving units are
#     reassembled IN ORDER.
#
#     100 TB shape: one explode (no shuffle), one unit-hash groupBy
#     (map-side combined — the doc-frequency count), then the boilerplate
#     SUBSET (df ≥ min_df — tiny vs the distinct-unit universe) broadcasts
#     back onto the unit stream, and one groupBy(doc_id) rebuilds the
#     text: 2 shuffles total, corpus text shuffled once (the rebuild).
#     The result is verified to the byte: the oracle compares md5 of every
#     reassembled document.
def dedup_paragraphs(spark, sf_dir, min_df: int = 2):
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= CHUNK_W)
    units = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(size(t) / {CHUNK_W} AS INT) - 1),"
                f" i -> array_join(slice(t, i * {CHUNK_W} + 1, {CHUNK_W}), ' '))"
            )
        ).alias("idx", "unit"),
    ).withColumn("uh", H.h60(F.col("unit")))
    # the unit stream feeds BOTH the doc-frequency count and the rebuild
    # join; a lazy localCheckpoint materializes tokenize+window+hash ONCE
    # (the dedup_minhash_lsh signature-reuse pattern — without it Spark
    # plans the subtree twice and the corpus is scanned and re-hashed
    # twice)
    units = units.transform(_barrier)
    boiler = (
        units.groupBy("uh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_df)
        .select("uh", F.lit(1).alias("bp"))
    )
    flagged = units.join(F.broadcast(boiler), "uh", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("bp").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_kept"),
            F.sum(F.when(F.col("bp").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_removed"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    F.col("bp").isNull(),
                                    F.struct("idx", "unit"),
                                )
                            )
                        ),
                        lambda x: x["unit"],
                    ),
                    " ",
                )
            ).alias("cleaned_md5"),
        )
    )


DEDUP_PARAGRAPHS_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
  WHERE len({_SQL_TOKENS}) >= {CHUNK_W}
),
units AS (
  SELECT doc_id,
         CAST(generate_subscripts(ch, 1) - 1 AS BIGINT) AS idx,
         unnest(ch) AS unit
  FROM (
    SELECT doc_id, list_transform(
             generate_series(0, CAST(trunc(len(t) / {CHUNK_W}) AS INT) - 1),
             i -> array_to_string(list_slice(t, i * {CHUNK_W} + 1,
                                             i * {CHUNK_W} + {CHUNK_W}), ' ')
           ) AS ch
    FROM toks
  )
),
hashed AS (
  SELECT doc_id, idx, unit, {H.sql_h60('unit')} AS uh FROM units
),
boiler AS (
  SELECT uh FROM hashed GROUP BY uh HAVING count(DISTINCT doc_id) >= 2
)
SELECT h.doc_id,
       CAST(sum(CASE WHEN b.uh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN b.uh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       md5(coalesce(
         string_agg(CASE WHEN b.uh IS NULL THEN h.unit END, ' ' ORDER BY h.idx),
         '')) AS cleaned_md5
FROM hashed h LEFT JOIN boiler b ON h.uh = b.uh
GROUP BY h.doc_id
"""

QUERIES["dedup_paragraphs"] = dedup_paragraphs
ORACLE["dedup_paragraphs"] = DEDUP_PARAGRAPHS_SQL


# ---------------------------------------------------------------------------
# 9b-ii. Duplicate-SPAN removal — exact-substring dedup at OVERLAPPING
#     n-gram granularity (Lee et al. 2022, "Deduplicating Training Data
#     Makes Language Models Better": any substring repeated in the corpus
#     is excised from the training set).  dedup_paragraphs only catches
#     duplication ALIGNED to its fixed non-overlapping windows; this
#     operator slides a SPAN_K-token window over every position, marks the
#     token range of EVERY occurrence of any window seen more than once
#     corpus-wide, coalesces a document's overlapping/adjacent ranges
#     (gaps-and-islands interval merge), and reassembles the surviving
#     tokens in order, byte-verified by md5.  Deviation from the paper
#     (documented, deterministic): the paper keeps one occurrence — WHICH
#     one depends on a global scan order no distributed plan should
#     depend on — so this removes ALL occurrences, the order-free choice.
#
#     100 TB shape: gram TEXT never shuffles — each window is hashed to
#     60 bits map-side, the occurrence count groupBy moves bare hashes
#     with map-side combine, and the duplicated-hash table (8-byte rows)
#     joins back on the hash key, AQE choosing broadcast while it fits
#     and hash-shuffle beyond (the join-back is deliberately NOT
#     broadcast-pinned: on crawl-scale corpora the duplicated-gram set is
#     billions of rows).  The interval merge is a per-document window —
#     skew bounded by tokens-per-document — and the rebuild is one
#     groupBy(doc_id).  Everything is codegen expressions; no Python.
#     (Reference parity: beyond-reference LLM-pipeline operator; nearest
#     reference surface is the chunked TopJaccard workload,
#     applications/TopKJaccardSimilarity.)
SPAN_K = 8


def _gram_stream(toks: DataFrame, k: int) -> DataFrame:
    """(doc_id, idx, gh): 60-bit hashes of every overlapping k-token
    window.  Gram text never leaves the map stage — downstream shuffles
    carry only (doc_id, idx, hash) rows.  Windows come from
    functions.text.token_shingles (the zip_with-over-shifted-slices form
    that cannot re-evaluate the token expression per element); posexplode's
    position IS the gram's 0-based start token."""
    return toks.select(
        "doc_id",
        F.posexplode(TX.token_shingles(F.col("t"), k)).alias("idx", "gram"),
    ).select("doc_id", "idx", H.h60(F.col("gram")).alias("gh"))


def _merged_spans_per_doc(spans: DataFrame) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, s, e) ranges →
    (doc_id, n_spans, tokens_removed, spans: array<struct<s,e>>) for
    documents that lost at least one span."""
    from pyspark.sql import Window

    # a span starts a new island iff it begins past the running max end
    # of everything before it (+1 coalesces adjacency)
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        spans.withColumn("pmax", F.max("e").over(w_prev))
        .withColumn(
            "new_isl",
            F.when(
                F.col("pmax").isNull() | (F.col("s") > F.col("pmax") + 1), 1
            ).otherwise(0),
        )
        .withColumn("isl", F.sum("new_isl").over(w_run))
    )
    merged = islands.groupBy("doc_id", "isl").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    return merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("tokens_removed"),
        F.collect_list(F.struct("s", "e")).alias("spans"),
    )


def _dup_spans_per_doc(toks: DataFrame, k: int) -> DataFrame:
    """Merged duplicated-gram token ranges per document (batch form: a
    gram is duplicated iff it occurs more than once corpus-wide).

    ``toks`` = (doc_id, t: array<string>) with size(t) >= k, already
    materialized (localCheckpoint) by the caller since it feeds both the
    gram stream here and the caller's rebuild join."""
    grams = _gram_stream(toks, k).transform(_barrier)
    dup = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .select("gh")
    )
    spans = grams.join(dup, "gh").select(
        "doc_id",
        F.col("idx").alias("s"),
        (F.col("idx") + F.lit(k - 1)).alias("e"),
    )
    return _merged_spans_per_doc(spans)


# the in-order reassembly of a doc's surviving tokens, shared by the query
# form (md5-verified) and the corpus-rewrite form (cleaned text shipped)
_SPAN_REBUILD = (
    "filter(t, (tok, i) -> spans IS NULL"
    " OR NOT exists(spans, sp -> i >= sp.s AND i <= sp.e))"
)


def _span_stats(toks: DataFrame, per_doc: DataFrame) -> DataFrame:
    """Per-doc removal stats + md5 of the in-order reassembly — the
    oracle-compared projection shared by the batch and incremental query
    forms."""
    return toks.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("tokens_removed", F.lit(0))
        .cast("bigint")
        .alias("tokens_removed"),
        (F.size("t") - F.coalesce("tokens_removed", F.lit(0)))
        .cast("bigint")
        .alias("tokens_kept"),
        F.md5(F.array_join(F.expr(_SPAN_REBUILD), " ")).alias("cleaned_md5"),
    )


def dedup_span_removal(spark: SparkSession, sf_dir: str, k: int = SPAN_K) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= k)
    # feeds BOTH the gram stream and the rebuild (the dedup_paragraphs
    # reuse pattern — without it the corpus is tokenized twice)
    toks = toks.transform(_barrier)
    return _span_stats(toks, _dup_spans_per_doc(toks, k))


def dedup_span_incremental(spark: SparkSession, sf_dir: str, k: int = SPAN_K) -> DataFrame:
    """Incremental (daily-batch) duplicate-span removal — the operational
    form: the established corpus (doc_id < INCR_SPLIT, standing in for
    yesterday's corpus exactly as in dedup_incremental) contributes only
    its distinct GRAM-HASH INDEX; the incoming batch is cleaned against
    that index plus its own internal repetition.

    A batch gram with batch-count b >= 1 and index presence i ∈ {0,1} is
    duplicated in the union iff total occurrences > 1, i.e. iff
    (i = 1 OR b > 1) — presence suffices, counts need not be stored — so
    the batch output EQUALS dedup_span_removal over the full union
    restricted to batch documents (test-locked equivalence).  At 100 TB
    the index is 8-byte hash rows persisted once and grown by each
    batch's distinct grams; yesterday's corpus text is never re-read, and
    the index membership join Bloom-screens exactly like
    dedup_incremental's (anti_join_bloom pattern) when the maybe-seen
    residue is worth shrinking."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= k)
    idx_grams = (
        _gram_stream(toks.where(F.col("doc_id") < INCR_SPLIT), k)
        .select("gh")
        .distinct()
    )
    batch_toks = toks.where(F.col("doc_id") >= INCR_SPLIT).transform(_barrier)
    return span_incremental_stats(batch_toks, idx_grams, k)


def span_incremental_stats(
    batch_toks: DataFrame, idx_grams: DataFrame, k: int = SPAN_K
) -> DataFrame:
    """One batch step against a PERSISTED gram index — the operational
    core dedup_span_incremental wraps and tools/span_incr_probe.py times:
    ``batch_toks`` = (doc_id, t) materialized by the caller, ``idx_grams``
    = (gh) distinct hash index of the established corpus."""
    grams = _gram_stream(batch_toks, k).transform(_barrier)
    counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("n"))
    # the index is data-sized (it grows with the corpus, and its SORTED
    # hash file delta-compresses far below its in-memory footprint, so a
    # size-threshold broadcast decision would be fooled) — merge-pin it,
    # the house rule for data-sized joins; a bucketed persisted index then
    # joins with neither exchange nor sort on its side
    dup = (
        counts.join(
            idx_grams.withColumn("in_idx", F.lit(1)).hint("merge"),
            "gh",
            "left",
        )
        .where((F.col("n") > 1) | F.col("in_idx").isNotNull())
        .select("gh")
    )
    spans = grams.join(dup, "gh").select(
        "doc_id",
        F.col("idx").alias("s"),
        (F.col("idx") + F.lit(k - 1)).alias("e"),
    )
    return _span_stats(batch_toks, _merged_spans_per_doc(spans))


def span_removal_clean(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """Corpus-rewrite form of dedup_span_removal — the stage a curation
    pipeline actually ships: duplicated spans are excised from ``text``
    (n_chars recomputed), documents shorter than k tokens pass through
    verbatim, and every other column is preserved.  Every span-scanned
    document's text is the token stream rejoined single-spaced — whether
    or not it lost a span — so the output is whitespace-normalized
    uniformly and md5-equal to the query form's cleaned_md5 for ALL
    scanned docs (test-locked), not just the spanned ones.  Same plan
    shape as the query form (2 hash exchanges + join-back), plus the
    corpus-sized doc_id join carrying the rewrite."""
    toks = docs.select(
        "doc_id", TX.tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= k)
    toks = toks.transform(_barrier)
    per_doc = _dup_spans_per_doc(toks, k).select("doc_id", "spans")
    rebuilt = (
        toks.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            # _SPAN_REBUILD keeps every token when spans IS NULL, so
            # untouched docs get the same single-space rejoin
            F.array_join(F.expr(_SPAN_REBUILD), " ").alias("_cleaned"),
        )
    )
    passthrough = [c for c in docs.columns if c not in ("text", "n_chars")]
    out = docs.join(rebuilt, "doc_id", "left").select(
        *passthrough,
        F.coalesce("_cleaned", "text").alias("text"),
    )
    if "n_chars" in docs.columns:
        out = out.withColumn("n_chars", F.length("text").cast("long"))
    return out.select(*docs.columns)


# shared oracle fragments: tokenize/window/hash head and the island-merge +
# rebuild tail — ONE text for both the batch and incremental oracles, so a
# fix to either side cannot silently diverge the other
_SPAN_SQL_GRAMS = f"""toks AS (
  SELECT doc_id, {_SQL_TOKENS} AS t FROM documents
  WHERE len({_SQL_TOKENS}) >= {SPAN_K}
),
gramlists AS (
  SELECT doc_id, list_transform(
           generate_series(1, len(t) - {SPAN_K} + 1),
           i -> array_to_string(list_slice(t, i, i + {SPAN_K} - 1), ' ')
         ) AS gl
  FROM toks
),
grams AS (
  SELECT doc_id,
         CAST(generate_subscripts(gl, 1) - 1 AS BIGINT) AS idx,
         {H.sql_h60('unnest(gl)')} AS gh
  FROM gramlists
)"""


def _span_sql_tail(scope_pred: str = "TRUE") -> str:
    """Island merge → per-doc stats → rebuild → output, continuing from a
    ``spans`` CTE.  ``scope_pred`` restricts the emitted/rebuilt documents
    ("{a}doc_id >= N" — ``{a}`` is the table alias slot; "TRUE" = all)."""
    return f"""marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(
                 max(e) OVER (PARTITION BY doc_id ORDER BY s
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING), -2) + 1
              THEN 1 ELSE 0 END AS new_isl
  FROM spans
),
islands AS (
  SELECT doc_id, s, e,
         sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS isl
  FROM marked
),
merged AS (
  SELECT doc_id, isl, min(s) AS s, max(e) AS e
  FROM islands GROUP BY doc_id, isl
),
per_doc AS (
  SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS tokens_removed
  FROM merged GROUP BY doc_id
),
tokpos AS (
  SELECT doc_id,
         CAST(generate_subscripts(t, 1) - 1 AS BIGINT) AS i,
         unnest(t) AS tok
  FROM toks WHERE {scope_pred.format(a="")}
),
rebuilt AS (
  SELECT tp.doc_id,
         md5(string_agg(tp.tok, ' ' ORDER BY tp.i)) AS cleaned_md5
  FROM tokpos tp
  WHERE NOT EXISTS (
    SELECT 1 FROM merged m
    WHERE m.doc_id = tp.doc_id AND tp.i >= m.s AND tp.i <= m.e
  )
  GROUP BY tp.doc_id
)
SELECT tk.doc_id,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.tokens_removed, 0) AS BIGINT) AS tokens_removed,
       CAST(len(tk.t) - coalesce(p.tokens_removed, 0) AS BIGINT)
         AS tokens_kept,
       coalesce(r.cleaned_md5, md5('')) AS cleaned_md5
FROM toks tk
LEFT JOIN per_doc p ON tk.doc_id = p.doc_id
LEFT JOIN rebuilt r ON tk.doc_id = r.doc_id
WHERE {scope_pred.format(a="tk.")}"""


DEDUP_SPAN_REMOVAL_SQL = f"""
WITH {_SPAN_SQL_GRAMS},
dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(*) > 1
),
spans AS (
  SELECT g.doc_id, g.idx AS s, g.idx + {SPAN_K} - 1 AS e
  FROM grams g JOIN dup d ON g.gh = d.gh
),
{_span_sql_tail()}
"""

QUERIES["dedup_span_removal"] = dedup_span_removal
ORACLE["dedup_span_removal"] = DEDUP_SPAN_REMOVAL_SQL


DEDUP_SPAN_INCREMENTAL_SQL = f"""
WITH {_SPAN_SQL_GRAMS},
idx_grams AS (
  SELECT DISTINCT gh FROM grams WHERE doc_id < {INCR_SPLIT}
),
bgrams AS (
  SELECT * FROM grams WHERE doc_id >= {INCR_SPLIT}
),
counts AS (
  SELECT gh, count(*) AS n FROM bgrams GROUP BY gh
),
dup AS (
  SELECT c.gh FROM counts c LEFT JOIN idx_grams i ON c.gh = i.gh
  WHERE c.n > 1 OR i.gh IS NOT NULL
),
spans AS (
  SELECT g.doc_id, g.idx AS s, g.idx + {SPAN_K} - 1 AS e
  FROM bgrams g JOIN dup d ON g.gh = d.gh
),
{_span_sql_tail(f"{{a}}doc_id >= {INCR_SPLIT}")}
"""

QUERIES["dedup_span_incremental"] = dedup_span_incremental
ORACLE["dedup_span_incremental"] = DEDUP_SPAN_INCREMENTAL_SQL


# ---------------------------------------------------------------------------
# 9c. Bloom-filter membership pre-filter — the 100 TB incremental-dedup
#     accelerator.  The exact incremental loop (dedup_incremental,
#     dedup_incremental_near) joins every new batch against the persisted
#     hash index; at corpus scale that join touches the FULL index shuffle
#     even though the overwhelming majority of new units were never seen.
#     A Bloom bitmap over the index's 60-bit unit hashes is tiny
#     (m = 128 Ki bits here — ~10 bits per key at sf0.1, the classic
#     ~1% FP operating point for k = 4 — stored as 63-bit words so no
#     engine ever
#     shifts into the sign bit; a few GB covers trillions of units at <1% FP)
#     and BROADCASTS, so every executor discards definite-new units
#     map-side; only the maybe-seen residue — Bloom guarantees it contains
#     ALL true duplicates — pays the index join, with its probe side
#     shrunk by the filter's selectivity.
#
#     Positions use double hashing from the single stored h60 (Kirsch &
#     Mitzenmacher: p_i = (h1 + i·h2) mod m) — the bitmap is derived from
#     the hash index alone, never re-reading corpus text.  All-integer
#     arithmetic, so DuckDB replays it bit-for-bit: the oracle checks the
#     bitmap semantics (n_maybe), the no-false-negative guarantee
#     (n_true_seen counted only inside the maybe subset), and the measured
#     FP counts.
BLOOM_M = 1 << 17   # bits in the filter (2^17 → 2081 63-bit words)
BLOOM_K = 4         # probes per key


def _bloom_positions(hcol):
    h1 = hcol % BLOOM_M
    h2 = F.lit(1) + (F.shiftright(hcol, 20) % (BLOOM_M - 1))
    return F.array(*[(h1 + F.lit(i) * h2) % BLOOM_M for i in range(BLOOM_K)])


def _bloom_sql_positions(hexpr: str) -> str:
    h1 = f"(({hexpr}) % {BLOOM_M})"
    h2 = f"(1 + ((({hexpr}) // 1048576) % {BLOOM_M - 1}))"
    return ("[" + ", ".join(f"({h1} + {i} * {h2}) % {BLOOM_M}"
                            for i in range(BLOOM_K)) + "]")


def dedup_bloom_probe(spark, sf_dir):
    """Probe the odd-doc_id half of the corpus (the 'new batch') against a
    Bloom filter built from the even half's chunk-hash index; verify the
    filter's guarantees with exact counts per source."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "source", TX.tokens(F.col("text")).alias("t")
    ).where(F.size("t") >= CHUNK_W)
    units = toks.select(
        "doc_id", "source",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, CAST(size(t) / {CHUNK_W} AS INT) - 1),"
                f" i -> array_join(slice(t, i * {CHUNK_W} + 1, {CHUNK_W}), ' '))"
            )
        ).alias("idx", "unit"),
    ).select(
        "doc_id", "source", "idx", H.h60(F.col("unit")).alias("ch")
    ).transform(_barrier)  # one corpus scan feeds build + probe
    base = units.where(F.col("doc_id") % 2 == 0)
    probe = units.where(F.col("doc_id") % 2 == 1)

    # build: 256-row (word, bits) bitmap from the index hashes
    bitmap = (
        base.select(F.explode(_bloom_positions(F.col("ch"))).alias("p"))
        .groupBy(F.expr(f"CAST(p DIV 63 AS INT)").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(p % 63 AS INT)))").alias("bits"))
    )

    # probe map-side: every position's bit must be set
    pp = (
        probe.select(
            "doc_id", "source", "idx", "ch",
            F.explode(_bloom_positions(F.col("ch"))).alias("p"),
        )
        .withColumn("w", F.expr("CAST(p DIV 63 AS INT)"))
        .join(F.broadcast(bitmap), "w", "left")
        .withColumn(
            "hit",
            F.when(
                F.coalesce(F.col("bits"), F.lit(0))
                .bitwiseAND(F.expr("shiftleft(1L, CAST(p % 63 AS INT))"))
                != 0,
                1,
            ).otherwise(0),
        )
    )
    per_unit = pp.groupBy("doc_id", "source", "idx", "ch").agg(
        F.min("hit").alias("maybe")
    )

    # the index join runs ONLY on the maybe-seen residue (the scale story)
    truth = base.select("ch").distinct().withColumn("seen", F.lit(1))
    flagged = (
        per_unit.where(F.col("maybe") == 1)
        .join(truth, "ch", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_maybe_seen"),
            F.sum(F.coalesce(F.col("seen"), F.lit(0)))
            .cast("bigint").alias("n_true_seen"),
        )
    )
    totals = per_unit.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_units")
    )
    return (
        totals.join(flagged, "source", "left")
        .select(
            "source",
            "n_units",
            F.coalesce(F.col("n_maybe_seen"), F.lit(0))
            .cast("bigint").alias("n_maybe_seen"),
            F.coalesce(F.col("n_true_seen"), F.lit(0))
            .cast("bigint").alias("n_true_seen"),
            (F.coalesce(F.col("n_maybe_seen"), F.lit(0))
             - F.coalesce(F.col("n_true_seen"), F.lit(0)))
            .cast("bigint").alias("n_false_pos"),
        )
    )


_BLOOM_UNITS_SQL = f"""
  SELECT doc_id, source,
         CAST(generate_subscripts(chl, 1) - 1 AS BIGINT) AS idx,
         {H.sql_h60('unnest(chl)')} AS ch
  FROM (
    SELECT doc_id, source, list_transform(
             generate_series(0, CAST(trunc(len(t) / {CHUNK_W}) AS INT) - 1),
             i -> array_to_string(list_slice(t, i * {CHUNK_W} + 1,
                                             i * {CHUNK_W} + {CHUNK_W}), ' ')
           ) AS chl
    FROM (
      SELECT doc_id, source, {_SQL_TOKENS} AS t FROM documents
      WHERE len({_SQL_TOKENS}) >= {CHUNK_W}
    )
  )
"""

DEDUP_BLOOM_PROBE_SQL = f"""
WITH units AS ({_BLOOM_UNITS_SQL}),
base AS (SELECT * FROM units WHERE doc_id % 2 = 0),
probe AS (SELECT * FROM units WHERE doc_id % 2 = 1),
bitmap AS (
  SELECT p // 63 AS w, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
  FROM (SELECT unnest({_bloom_sql_positions('ch')}) AS p FROM base)
  GROUP BY p // 63
),
per_unit AS (
  SELECT doc_id, source, idx, ch, min(hit) AS maybe
  FROM (
    SELECT pr.doc_id, pr.source, pr.idx, pr.ch,
           CASE WHEN (coalesce(bm.bits, 0) &
                      (1::BIGINT << CAST(pr.p % 63 AS INT))) <> 0
                THEN 1 ELSE 0 END AS hit,
           pr.p
    FROM (SELECT doc_id, source, idx, ch,
                 unnest({_bloom_sql_positions('ch')}) AS p FROM probe) pr
    LEFT JOIN bitmap bm ON pr.p // 63 = bm.w
  )
  GROUP BY doc_id, source, idx, ch
),
truth AS (SELECT DISTINCT ch, 1 AS seen FROM base),
flagged AS (
  SELECT pu.source,
         count(*) AS n_maybe_seen,
         CAST(sum(coalesce(t.seen, 0)) AS BIGINT) AS n_true_seen
  FROM per_unit pu LEFT JOIN truth t ON pu.ch = t.ch
  WHERE pu.maybe = 1
  GROUP BY pu.source
)
SELECT tot.source,
       tot.n_units,
       CAST(coalesce(f.n_maybe_seen, 0) AS BIGINT) AS n_maybe_seen,
       CAST(coalesce(f.n_true_seen, 0) AS BIGINT) AS n_true_seen,
       CAST(coalesce(f.n_maybe_seen, 0) - coalesce(f.n_true_seen, 0)
            AS BIGINT) AS n_false_pos
FROM (SELECT source, count(*) AS n_units FROM per_unit GROUP BY source) tot
LEFT JOIN flagged f ON tot.source = f.source
"""

QUERIES["dedup_bloom_probe"] = dedup_bloom_probe
ORACLE["dedup_bloom_probe"] = DEDUP_BLOOM_PROBE_SQL


# -- Bloom as a production API: map-side screening expression ---------------
# dedup_bloom_probe (above) demonstrates the arithmetic with an
# oracle-replayable join; the operational form is cheaper still: the bitmap
# is words-sized (m/63 longs — driver-bounded by construction, the same
# class of collect as BPE's top row or k-means centroids), so it embeds in
# the plan as an array literal and membership becomes a pure codegen
# filter expression — no join, no explode, evaluated inside the scan stage.
# This is how production engines consume a Bloom filter: build once over
# the index, persist the words, screen every future batch map-side.
def bloom_words(index_df: DataFrame, hcol) -> list:
    """Build the filter over a frame's nonneg-long hash column and return
    the dense word list (length m/63 + 1).  One map-side-combined
    aggregation over the index; the collect is words-sized, not
    index-sized."""
    rows = (
        index_df.select(F.explode(_bloom_positions(hcol)).alias("p"))
        .groupBy(F.expr("CAST(p DIV 63 AS INT)").alias("w"))
        .agg(F.expr("bit_or(shiftleft(1L, CAST(p % 63 AS INT)))").alias("bits"))
        .collect()
    )
    words = [0] * (BLOOM_M // 63 + 1)
    for r in rows:
        words[r["w"]] = r["bits"]
    return words


def bloom_member(hcol, words: list):
    """Boolean Column: all BLOOM_K probe bits of ``hcol`` are set in
    ``words``.  Pure expression — Catalyst subexpression elimination keeps
    the repeated array literal cheap."""
    arr = F.lit(words)
    h1 = hcol % BLOOM_M
    h2 = F.lit(1) + (F.shiftright(hcol, 20) % (BLOOM_M - 1))
    cond = F.lit(True)
    for i in range(BLOOM_K):
        p = (h1 + F.lit(i) * h2) % BLOOM_M
        # p < 2^17 so the double divisions below are exact
        word = F.element_at(arr, (p / 63).cast("int") + 1)
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("long"), (p % 63).cast("int")
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond


def anti_join_bloom(
    batch: DataFrame, index: DataFrame, join_col: str, hash_col: str | None = None
) -> DataFrame:
    """``batch.join(index, join_col, 'left_anti')`` accelerated by a Bloom
    screen: definite-new rows (filter says absent — no false negatives, so
    provably not in the index) pass through WITHOUT touching the index;
    only the maybe-seen residue pays the anti-join, its probe side shrunk
    to true-dups + ~1% FP.  Result is row-identical to the plain anti-join
    (test-locked).

    ``hash_col`` names the nonneg-long column the filter hashes (present
    on both frames); it defaults to ``join_col``.  Keeping the JOIN on the
    full-width key while SCREENING on a derived 60-bit key preserves exact
    semantics — a 60-bit collision only adds a false positive, which the
    residue anti-join then resolves on the full key."""
    hc = hash_col or join_col
    words = bloom_words(index, F.col(hc))
    maybe = bloom_member(F.col(hc), words)
    definite_new = batch.where(~maybe)
    residue = batch.where(maybe).join(
        index.select(join_col), join_col, "left_anti"
    )
    return definite_new.unionByName(residue)


# ---------------------------------------------------------------------------
# 10. Dedup-quality evaluation: recall/precision of the LSH candidate pairs
#     against exact-Jaccard ground truth, on a hash-defined probe subset —
#     the dedup twin of ann_recall.  Before a 100 TB dedup run you tune
#     (bands, shingle width) on exactly this measurement: ground truth is
#     all-pairs and therefore probe-only (probe pairs = probe_frac² of the
#     corpus); the LSH side is the production-shaped band join.
J_THRESH = 0.8
PROBE_MOD = 2  # probe subset: doc_id % PROBE_MOD == 0


def dedup_recall(spark, sf_dir, probe_mod: int = PROBE_MOD):
    """LSH recall/precision vs exact-Jaccard ground truth on a probe subset.

    ``probe_mod`` sizes the probe: the truth side is an all-pairs shingle
    self-join over the subset, so its pair count is ~(N/probe_mod)² — at
    test scale the default keeps enough truth pairs to measure against,
    but before a 100 TB run pass probe_mod in the 100–1000 range so the
    quadratic side stays genuinely probe-sized (1e9 docs / 1000 → 1e6-doc
    probe) while the LSH side remains the production-shaped band join."""
    probe = F.col("doc_id") % probe_mod == 0
    # ONE shingled scan feeds both sides (truth explode + LSH signatures)
    shingled = shingled_docs(spark, sf_dir).cache()
    # Truth side on per-doc DISTINCT shingle arrays (the
    # containment_topk_prefix restructure pattern): exploding
    # array_distinct(sh) already yields distinct (doc_id, sh) rows — no
    # index-wide DISTINCT shuffle — the set size rides along as a
    # size() column on BOTH join sides, so the pair groupBy folds it in
    # with first() and the two pair-sized size joins disappear.
    arr = shingled.where(probe).select(
        "doc_id",
        F.array_distinct("sh").alias("shs"),
    )
    a = arr.select(
        F.col("doc_id").alias("a_id"),
        F.size("shs").alias("a_sz"),
        F.explode("shs").alias("sh"),
    )
    b = arr.select(
        F.col("doc_id").alias("b_id"),
        F.size("shs").alias("b_sz"),
        F.explode("shs").alias("sh2"),
    )
    truth = (
        a.join(b, (F.col("sh") == F.col("sh2")) & (F.col("a_id") < F.col("b_id")))
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first("a_sz").alias("a_sz"),
            F.first("b_sz").alias("b_sz"),
        )
        .where(
            F.col("inter") / (F.col("a_sz") + F.col("b_sz") - F.col("inter"))
            >= J_THRESH
        )
        .select("a_id", "b_id")
    )
    sig = minhash_signatures_from(shingled)
    sa_sig = sig.select(F.col("doc_id").alias("a_id"), "band", "minhash")
    sb_sig = sig.select(
        F.col("doc_id").alias("b_id"),
        F.col("band").alias("band2"),
        F.col("minhash").alias("minhash2"),
    )
    cand = (
        sa_sig.join(
            sb_sig,
            (F.col("band") == F.col("band2"))
            & (F.col("minhash") == F.col("minhash2")),
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
        .where((F.col("a_id") % probe_mod == 0) & (F.col("b_id") % probe_mod == 0))
    )
    hits = truth.join(cand.withColumn("hit", F.lit(1)), ["a_id", "b_id"], "left")
    t = hits.agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count("hit").alias("n_hit"),
    )
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    out = t.crossJoin(c).select(
        "n_truth",
        "n_cand",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_truth"), 6).alias("recall"),
        F.round(F.col("n_hit") / F.col("n_cand"), 6).alias("precision"),
    )
    try:
        row = out.collect()[0]  # 1-row metric frame; eager so the cache
        # backing both measurement sides can be released right here
    finally:
        shingled.unpersist()
    return spark.createDataFrame(
        [tuple(row)],
        "n_truth bigint, n_cand bigint, n_hit bigint, recall double, precision double",
    )


DEDUP_RECALL_SQL = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents
  WHERE doc_id % {PROBE_MOD} = 0
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
truth AS (
  SELECT a_id, b_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = a_id
  JOIN sizes sb ON sb.doc_id = b_id
  WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= {J_THRESH}
),
sig AS ({_SQL_MINHASH_SIG}),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM sig a JOIN sig b ON a.band = b.band AND a.minhash = b.minhash
  WHERE a.doc_id < b.doc_id
    AND a.doc_id % {PROBE_MOD} = 0 AND b.doc_id % {PROBE_MOD} = 0
),
t AS (
  SELECT count(*) AS n_truth, count(c.a_id) AS n_hit
  FROM truth tr LEFT JOIN cand c ON tr.a_id = c.a_id AND tr.b_id = c.b_id
),
c AS (SELECT count(*) AS n_cand FROM cand)
SELECT n_truth, n_cand, n_hit,
       round(CAST(n_hit AS DOUBLE) / n_truth, 6) AS recall,
       round(CAST(n_hit AS DOUBLE) / n_cand, 6) AS precision
FROM t, c
"""

QUERIES["dedup_recall"] = dedup_recall
ORACLE["dedup_recall"] = DEDUP_RECALL_SQL


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) similarity join — the string-matching member of the
# dedup family: "which values are within d edits of each other" over a
# column with heavy duplication (names, titles, product strings).
FUZZY_D = 2        # edit-distance threshold
FUZZY_Q = 2        # q-gram width for the candidate filter
FUZZY_KEY_CAP = 1500  # bounded key slice so the ORACLE can brute-force


def fuzzy_value_pairs(
    values: DataFrame, d: int = FUZZY_D, q: int = FUZZY_Q
) -> DataFrame:
    """All DISTINCT value pairs within edit distance ``d``, with pair
    multiplicity mapped back from the duplicate counts.

    The production shape (the Ed-Join/PassJoin family):

    1. **Dedupe first**: the join runs over DISTINCT strings — with
       real-world name/title columns that is orders of magnitude smaller
       than the row count, and multiplicities multiply back at the end
       (``n_pairs = cnt_a · cnt_b``).
    2. **q-gram pigeonhole filter**: ``d`` edits destroy at most ``d·q``
       of a string's ``len−q+1`` q-grams, so any pair within distance
       ``d`` with ``len ≥ (d+1)·q`` SHARES at least one q-gram — the
       candidate join is an equi-join on the exploded grams, never a
       cross product.  Strings too short for the guarantee are
       cross-checked against everything (they are by definition rare and
       cheap).
    3. **Exact verify**: ``F.levenshtein`` (JVM codegen) on the
       candidates only.

    ``values`` must be (name, cnt) distinct rows.  Completeness is by the
    pigeonhole theorem, not sampling — the oracle brute-forces all
    distinct pairs and must hash-match.
    """
    safe_len = (d + 1) * q  # shares >= 1 gram below distance d at this length
    long_v = values.filter(F.length("name") >= safe_len)
    short_v = values.filter(F.length("name") < safe_len)
    grams = long_v.select(
        "name",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(name) - {q} + 1),"
                f" i -> substring(name, i, {q}))"
            )
        ).alias("g"),
    ).distinct()
    cand_long = (
        grams.select(F.col("name").alias("a"), "g")
        .join(grams.select(F.col("name").alias("b"), "g"), "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # short strings: guarantee does not hold -> check against every value
    cand_short = (
        F.broadcast(short_v.select(F.col("name").alias("a")))
        .crossJoin(values.select(F.col("name").alias("b")))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    cand = cand_long.unionByName(cand_short).distinct()
    close = cand.withColumn("dist", F.levenshtein("a", "b")).filter(
        F.col("dist") <= d
    )
    ca = values.select(F.col("name").alias("a"), F.col("cnt").alias("cnt_a"))
    cb = values.select(F.col("name").alias("b"), F.col("cnt").alias("cnt_b"))
    return (
        close.join(ca, "a")
        .join(cb, "b")
        .select(
            F.col("a").alias("name_a"),
            F.col("b").alias("name_b"),
            F.col("dist").cast("long").alias("dist"),
            (F.col("cnt_a") * F.col("cnt_b")).cast("long").alias("n_pairs"),
        )
        .orderBy("name_a", "name_b")
    )


def dedup_fuzzy_names(spark, sf_dir):
    """Edit-distance ≤ 2 pairs over part names (bounded key slice): the
    fuzzy-match data-cleaning primitive, with multiplicities."""
    part = base_table(spark, sf_dir, "part")
    values = (
        part.filter(F.col("p_partkey") <= FUZZY_KEY_CAP)
        .groupBy(F.col("p_name").alias("name"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return fuzzy_value_pairs(values)


DEDUP_FUZZY_NAMES_SQL = f"""
WITH v AS (
  SELECT p_name AS name, CAST(count(*) AS BIGINT) AS cnt
  FROM part WHERE p_partkey <= {FUZZY_KEY_CAP}
  GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist,
       CAST(a.cnt * b.cnt AS BIGINT) AS n_pairs
FROM v a JOIN v b ON a.name < b.name
WHERE levenshtein(a.name, b.name) <= {FUZZY_D}
ORDER BY name_a, name_b
"""

QUERIES["dedup_fuzzy_names"] = dedup_fuzzy_names
ORACLE["dedup_fuzzy_names"] = DEDUP_FUZZY_NAMES_SQL


# ---------------------------------------------------------------------------
# 15. Shingle containment — the ASYMMETRIC near-dup relation Jaccard hides.
#     containment(src -> dst) = |src ∩ dst| / |src| finds documents mostly
#     CONTAINED in another (quotes, boilerplate wrappers, excerpt pages)
#     even when the symmetric Jaccard is low because |dst| >> |src|; it is
#     the dedup signal CCNet/Gopher-style pipelines use to drop excerpts
#     of already-kept pages.
#
#     Same production/oracle split as ``ngram_jaccard_pairs``: without
#     ``candidates`` the intersection runs over the inverted shingle index
#     (the TEST-SCALE all-pairs configuration, mirrored by the oracle);
#     production passes the LSH band output so cost is
#     O(|candidates| · shingles-per-doc).  Both directions of each pair
#     are emitted — the relation is asymmetric by design.
def _both_directions(j: DataFrame) -> DataFrame:
    """Emit both directed containment rows per undirected pair — as ONE
    generator over ``j``, not a unionAll of two projections of ``j``.  The
    union form pastes the whole upstream candidate-intersection subtree
    into the plan TWICE (each branch re-derives ``j``), and exchange reuse
    is a runtime maybe, not a guarantee; a 2-element explode reads ``j``
    once and is a narrow operator, so the plan halves (measured on
    dedup_containment's opener: static plan 148 → ~70 Exchanges)."""
    return j.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a_id").alias("src_id"),
                    F.col("b_id").alias("dst_id"),
                    (F.col("inter") / F.col("a_sz")).alias("containment"),
                ),
                F.struct(
                    F.col("b_id").alias("src_id"),
                    F.col("a_id").alias("dst_id"),
                    (F.col("inter") / F.col("b_sz")).alias("containment"),
                ),
            )
        ).alias("d")
    ).select("d.*")


def containment_pairs(spark, sf_dir, k: int = 20, candidates: DataFrame | None = None):
    sh = doc_shingles(spark, sf_dir).cache()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    if candidates is not None:
        # every frame in this branch is DATA-sized (candidate pairs grow
        # with the corpus; sh is the doc×shingle index), so pin both joins
        # to sort-merge: at ×100 the optimizer's size estimate for the
        # candidate frame undershot and it attempted a broadcast build
        # that exhausted memory — the exact 1000× trap the session config
        # avoids for SF-growing dims.
        cand = candidates.select("a_id", "b_id").distinct()
        a_sh = cand.join(
            sh.select(F.col("doc_id").alias("a_id"), "sh").hint("merge"), "a_id"
        )
        inter = (
            a_sh.join(
                sh.select(F.col("doc_id").alias("b_id"), "sh").hint("merge"),
                ["b_id", "sh"],
            )
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a = sh.select(F.col("doc_id").alias("a_id"), "sh")
        b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh2"))
        inter = (
            a.join(b, (F.col("sh") == F.col("sh2")) & (F.col("a_id") < F.col("b_id")))
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("a_sz"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("b_sz"))
    j = inter.join(sa, "a_id").join(sb, "b_id")
    directed = _both_directions(j)
    out = directed.orderBy(
        F.col("containment").desc(), F.col("src_id").asc(), F.col("dst_id").asc()
    ).limit(k)
    try:
        rows = [tuple(r) for r in out.collect()]  # k rows via TakeOrdered
    finally:
        sh.unpersist()
    return spark.createDataFrame(rows, "src_id bigint, dst_id bigint, containment double")


DEDUP_CONTAINMENT_SQL = f"""
WITH sh AS (SELECT DISTINCT doc_id, unnest({_SQL_SHINGLES}) AS sh FROM documents),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
j AS (
  SELECT i.a_id, i.b_id, i.inter, sa.sz AS a_sz, sb.sz AS b_sz
  FROM inter i
  JOIN sizes sa ON sa.doc_id = i.a_id
  JOIN sizes sb ON sb.doc_id = i.b_id
)
SELECT src_id, dst_id, containment FROM (
  SELECT a_id AS src_id, b_id AS dst_id, CAST(inter AS DOUBLE) / a_sz AS containment FROM j
  UNION ALL
  SELECT b_id AS src_id, a_id AS dst_id, CAST(inter AS DOUBLE) / b_sz AS containment FROM j
)
ORDER BY containment DESC, src_id ASC, dst_id ASC LIMIT 20
"""

def containment_topk_prefix(
    spark,
    sf_dir,
    k: int = 20,
    thresholds: tuple = (1.0, 0.875, 0.75, 0.5, 0.25, 0.0),
    backstop: bool = True,
):
    """EXACT top-k directed containment via prefix filtering (AllPairs /
    PPJoin family — Bayardo et al. WWW'07, Xiao et al. WWW'08) — the
    scale path that needs neither the all-pairs Σd² inverted-index
    self-join nor the MinHash bands' probabilistic recall.

    Candidate rule: order every document's shingles by ascending global
    document frequency (rarest first; ties broken by the shingle string
    so the order is deterministic and engine-independent).  If
    containment(src→dst) = |src∩dst|/|src| ≥ t then |src∩dst| ≥ ⌈t·|src|⌉,
    so the |src| − ⌈t·|src|⌉ + 1 RAREST shingles of src cannot all miss
    dst — at least one lands in the intersection.  Joining only those
    prefix shingles against the full index therefore finds every
    qualifying directed pair, and the posting lists touched are by
    construction the SHORT ones (rare shingles), which kills the
    hot-shingle Σd² blowup: candidate volume is Σ_prefix-shingle df(s)
    instead of Σ_shingle df(s)².

    Top-k from a threshold join, exactly: run at descending thresholds
    t; once ≥ k directed pairs have containment ≥ t, every global top-k
    pair is in that result set (anything outside it scores < t ≤ the
    k-th value), so the pass's top-k IS the global top-k.  Thresholds
    are exact binary fractions so ceil() agrees bit-for-bit across
    engines; t = 0.0 degenerates to the all-pairs plan and exists only
    as the completeness backstop — by default it is APPENDED to any
    schedule that omits it (every call returns a DataFrame, possibly via
    the quadratic plan); pass ``backstop=False`` to bound cost to the
    scheduled thresholds exactly, accepting < k rows when the schedule
    exhausts first.  The t = 1.0 opener is the cheap
    common case for a dedup corpus: full containment needs the src's
    SINGLE rarest shingle to land in dst (prefix length 1), so the
    candidate join touches one posting per document — this corpus
    terminates there, with ≥ 20 directed pairs at containment 1.0 at
    both SFs.

    Cost class per pass: one df groupBy over the exploded index, one
    prefix×index merge join bounded by rare-shingle postings (plus, on
    t<1 passes only, one per-doc ranking window computed once for the
    whole descent), then candidate VERIFICATION as two pair-sized merge
    joins against the persisted per-doc shingle-SET frame with the
    intersection size and both doc sizes computed as per-row array
    expressions — the round-11 restructure (guide §2.3/§2.4) that
    replaced the exploded-index intersection (two full-index sort-merge
    joins + a pair groupBy + two size joins) with the same O(|a|+|b|)
    per-pair set work and ~5 fewer shuffle/sort stages.  Every
    data-sized join stays sort-merge-pinned, no broadcasts.  Nothing
    doc×shingle-sized is ever pinned in executor memory: what persists
    (DISK_ONLY — serialized blocks on local disk, zero heap residency,
    the same durability class as a shuffle file) is the per-doc set
    frame, one row per document, and the exploded index is re-derived
    from it by a narrow explode per consumer, whose exchange Catalyst
    shares across the uses inside each single-pass plan."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    # The persisted frame is the per-doc shingle SET (doc_id, arr) — not the
    # exploded (doc_id, sh) index.  Round-11 restructure (guide §2.4, fewer
    # shuffles): the exploded form forced candidate VERIFICATION through two
    # full-index sort-merge joins plus a pair groupBy plus two size joins
    # (~6 shuffle/sort stages per pass); with the set array on the row,
    # verification is two pair-sized merge joins and a per-row
    # array_intersect — same O(|a|+|b|) work per candidate pair, zero
    # re-shuffles of the index, and the per-doc size is size(arr), an
    # expression instead of a join.  explode(arr) is already distinct per
    # doc (array_distinct), so the old (doc_id, sh) DISTINCT shuffle and
    # the pre-explode repartition barrier both disappear — the persist
    # itself is the single-evaluation barrier for the shingle expression.
    arr = (
        _docs(spark, sf_dir)
        .select("doc_id", F.array_distinct(
            TX.word_shingles("text", SHINGLE_N)).alias("arr"))
        .persist(StorageLevel.DISK_ONLY)
    )
    arr.count()  # materialize BEFORE the multi-branch DAG: its consumer
    # stages are independent, so a lazy cache would race them into
    # concurrent tokenize recomputes of the same partitions
    sh = arr.select("doc_id", F.explode("arr").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    joined = sh.join(dfreq.hint("merge"), "sh")
    # one partial-aggregated pass gives the t=1.0 opener's whole prefix: at
    # full containment the prefix is the single globally-rarest shingle per
    # doc, i.e. argmin over (df, sh) — min(struct) under the same (df asc,
    # sh asc) order the window uses, so the opener never pays the per-doc
    # sort/window at all (map-side combine collapses the index to one row
    # per doc before the shuffle)
    per_doc = joined.groupBy("doc_id").agg(
        F.min(F.struct(F.col("df"), F.col("sh"))).alias("m"),
    )

    # The per-doc ranking (pos by ascending df, ties by shingle) does not
    # depend on the threshold — only the prefix LENGTH cut does — so the
    # descent computes the window ONCE and each t<1 pass is a filter over
    # the persisted frame instead of its own sort/window shuffle.  Without
    # this, a descent visiting p thresholds paid p ranking windows over
    # the doc×shingle index — the dominant cost of the t<1 path at scale.
    # DISK_ONLY + eager count for the same reasons as the index persist
    # above (no heap residency; no sibling-stage recompute races).
    ranked_state: dict = {}

    def _ranked():
        if "df" not in ranked_state:
            w_rank = Window.partitionBy("doc_id").orderBy(
                F.col("df").asc(), F.col("sh").asc()
            )
            w_sz = Window.partitionBy("doc_id")
            r = joined.select(
                "doc_id",
                "sh",
                F.row_number().over(w_rank).alias("pos"),
                F.count(F.lit(1)).over(w_sz).alias("sz"),
            ).persist(StorageLevel.DISK_ONLY)
            r.count()
            ranked_state["df"] = r
        return ranked_state["df"]

    def prefix_for(t: float):
        if t >= 1.0:
            return per_doc.select(
                F.col("doc_id").alias("src_id"), F.col("m.sh").alias("sh")
            )
        plen = F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
        return _ranked().filter(F.col("pos") <= plen).select(
            F.col("doc_id").alias("src_id"), "sh"
        )

    try:
        return _containment_threshold_descent(
            spark, sh, arr, prefix_for, k, thresholds, backstop=backstop
        )
    finally:
        arr.unpersist()
        if "df" in ranked_state:
            ranked_state["df"].unpersist()


def _containment_threshold_descent(
    spark, sh, arr, prefix_for, k, thresholds, backstop=True
):
    # A caller-supplied schedule that never reaches t=0.0 could exhaust the
    # loop with < k pairs accumulated and fall off the end returning None;
    # the t=0.0 backstop (the all-pairs plan) guarantees a DataFrame on
    # every call path, so append it when the schedule omits it — UNLESS the
    # caller opted out (backstop=False) to bound cost away from the
    # quadratic plan, in which case the final scheduled threshold's result
    # is returned even when it holds fewer than k pairs.
    thresholds = tuple(thresholds)
    if backstop and (not thresholds or thresholds[-1] != 0.0):
        thresholds = thresholds + (0.0,)
    if not thresholds:
        raise ValueError("empty threshold schedule with backstop=False")
    for t in thresholds:
        prefix = prefix_for(t)
        cand = (
            prefix.join(
                sh.select(F.col("doc_id").alias("dst_id"), "sh").hint("merge"), "sh"
            )
            .filter(F.col("src_id") != F.col("dst_id"))
            .select(
                F.least("src_id", "dst_id").alias("a_id"),
                F.greatest("src_id", "dst_id").alias("b_id"),
            )
            .distinct()
        )
        # verification on the SET ARRAYS: two pair-sized merge joins attach
        # each side's shingle set, then intersection size and both doc sizes
        # are per-row expressions — no full-index re-join, no pair groupBy,
        # no separate size joins.  Work per pair is the same O(|a|+|b|)
        # set intersection the exploded plan paid, minus its shuffles.
        j = (
            cand.join(
                arr.select(F.col("doc_id").alias("a_id"),
                           F.col("arr").alias("a_arr")).hint("merge"),
                "a_id",
            )
            .join(
                arr.select(F.col("doc_id").alias("b_id"),
                           F.col("arr").alias("b_arr")).hint("merge"),
                "b_id",
            )
            .select(
                "a_id", "b_id",
                F.size(F.array_intersect("a_arr", "b_arr")).alias("inter"),
                F.size("a_arr").alias("a_sz"),
                F.size("b_arr").alias("b_sz"),
            )
        )
        directed = _both_directions(j).filter(F.col("containment") >= F.lit(t))
        out = directed.orderBy(
            F.col("containment").desc(), F.col("src_id").asc(), F.col("dst_id").asc()
        ).limit(k)
        rows = [tuple(r) for r in out.collect()]  # k rows via TakeOrdered
        if len(rows) >= k or t == thresholds[-1]:
            return spark.createDataFrame(
                rows, "src_id bigint, dst_id bigint, containment double",
            )


def dedup_containment_production(spark, sf_dir):
    """THE registry entry: exact top-k containment through the
    prefix-filter plan (``containment_topk_prefix``) — exact BY
    CONSTRUCTION (no MinHash recall caveat: an extreme-asymmetry pair a
    band scheme could miss is still found, because the prefix bound is a
    counting argument, not a probabilistic one) and scale-safe (rare-
    shingle postings, never Σd²).  The LSH-candidates form
    (``containment_pairs(candidates=dedup_minhash_lsh(...))``) remains
    the composable production variant when a band-candidate frame
    already exists, equivalence-locked in
    `test_containment_candidates_path_matches_allpairs_on_lsh_pairs`;
    the all-pairs form mirrors the oracle at test scale."""
    return containment_topk_prefix(spark, sf_dir, k=20)


QUERIES["dedup_containment"] = dedup_containment_production
ORACLE["dedup_containment"] = DEDUP_CONTAINMENT_SQL
