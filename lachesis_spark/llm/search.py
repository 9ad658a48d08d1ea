"""Keyword search over the ``documents`` table: inverted index + BM25.

The retrieval surface a training-data pipeline needs next to dedup and ANN:
given a term set, rank documents by BM25; boolean (conjunctive) retrieval;
positional phrase match.  (The reference's text surface is open-coded C++
scalar lambdas — SURVEY.md §2.2, reference
src/tpch/source/Query22/RunQuery22.cc:60 — it has no retrieval operators;
this module is part of the beyond-reference LLM-corpus engine, same status
as llm/dedup and llm/similarity.)

Design for 100 TB:

- The inverted index is data, not driver state: ``postings`` (doc_id, term,
  tf) and ``doc_lengths`` (doc_id, dl) are DataFrames produced by ONE
  tokenize+groupBy pass over the corpus (shuffle keyed on (doc_id, term),
  map-side combined).  :func:`index_documents` persists them as catalog
  sets with the postings BUCKETED BY term — a search then reads only the
  buckets its query terms hash to, and the per-term df aggregation plans
  no Exchange (layout-routing ``read_set``; same mechanism as the
  bucketed-join plan tests in tests/test_lachesis_source.py).
- A query touches |Q| terms: postings are FILTERED to the query terms
  before any aggregation, so df(term) and the tf join cost O(matching
  postings), not O(index).  The |Q|-row idf table and the 1-row corpus
  stats (N, avgdl) broadcast into the scoring plan — the only corpus-wide
  aggregates, computed once at index time in the persisted path.
- Scoring is pure Catalyst expressions (log/arithmetic) — whole-stage
  codegen, no Python in the hot path.  Top-k is orderBy().limit(k) =
  TakeOrdered: per-partition k-heaps + driver merge of k rows, never a
  global sort.
- Phrase match joins positional postings with itself on (doc_id, pos+1) —
  co-partitioned on doc_id, so the adjacency check never moves a document's
  postings across the cluster.

Oracles: DuckDB computes the identical tokenization
(string_split_regex/lower), BM25 formula (Lucene-style
ln(1+(N-df+0.5)/(df+0.5)) idf), and phrase adjacency; scores rounded at
1e-6 with doc_id tie-breaks so both engines rank identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lachesis_spark.llm.textstats import _docs

from lachesis_spark.operators.core import barrier as _barrier

# default BM25 parameters (the standard Robertson/Lucene values)
K1 = 1.2
B = 0.75

# deterministic query-term sets for the registry queries (present in the
# synthetic corpus vocabulary at every SF)
BM25_TERMS = ["spark", "window", "merge"]
AND_TERMS = ["dup", "spark", "sort"]  # "dup" is the rare discriminator (~5% df)
PHRASE = ("fast", "sort")


def _tokens_col():
    """lower + split on non-alphanumeric runs, empties removed — kept
    textually in sync with _SQL_TOKS below."""
    return F.array_remove(F.split(F.lower(F.col("text")), "[^a-z0-9]+"), "")


_SQL_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"


# ---------------------------------------------------------------------------
# index construction (one corpus pass)
def build_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf): one explode + one map-side-combined groupBy."""
    return (
        docs.select("doc_id", F.explode(_tokens_col()).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def doc_lengths(docs: DataFrame) -> DataFrame:
    """(doc_id, dl): token count per document — no shuffle (projection)."""
    return docs.select("doc_id", F.size(_tokens_col()).cast("double").alias("dl"))


def doc_lengths_from_postings(postings: DataFrame) -> DataFrame:
    """(doc_id, dl) derived from the postings index: dl = Σ tf per doc.
    Saves the second tokenize pass over the corpus — the index already
    contains the lengths (docs with zero tokens have no postings and no
    meaningful BM25 score, so their absence is harmless by construction)."""
    return postings.groupBy("doc_id").agg(
        F.sum("tf").cast("double").alias("dl")
    )


def positional_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, term): the positional index phrase search joins on."""
    return docs.select("doc_id", F.posexplode(_tokens_col()).alias("pos", "term"))


# ---------------------------------------------------------------------------
# scoring
def bm25_topk(
    postings: DataFrame,
    dlens: DataFrame,
    terms: list[str],
    k: int = 20,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 top-k over a postings index.

    ``postings`` may be the full index (the filter prunes it to the query
    terms — on the bucketed persisted index that prune is a bucket prune)
    or an already-candidate-limited frame.
    """
    q = postings.filter(F.col("term").isin(terms))
    # per-term document frequency over the corpus — only for the |Q| query
    # terms, so the aggregation input is the filtered postings
    df_t = q.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = dlens.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    scored = (
        q.join(F.broadcast(df_t), "term")
        .join(dlens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "contrib",
            F.col("idf")
            * F.col("tf").cast("double")
            * F.lit(k1 + 1.0)
            / (
                F.col("tf").cast("double")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# persisted-index path (the 100 TB shape: build once, search many)
def index_documents(cat, db: str, docs: DataFrame, n_buckets: int = 8) -> None:
    """Persist the inverted index as catalog sets: postings bucketed by
    term (searches prune to their terms' buckets; per-term aggs plan no
    Exchange via the layout-routing read_set), doc lengths bucketed by
    doc_id (the tf⋈dl join side), and the 1-row corpus stats."""
    cat.create_database(db)
    postings = build_postings(docs).transform(_barrier, eager=True)
    cat.write_set(postings, db, "postings", bucket_by=(n_buckets, ["term"]))
    dlens = doc_lengths_from_postings(postings)
    cat.write_set(dlens, db, "doclens", bucket_by=(n_buckets, ["doc_id"]))
    stats = doc_lengths_from_postings(postings).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    cat.write_set(stats, db, "stats")


def search_index(cat, db: str, terms: list[str], k: int = 20) -> DataFrame:
    """BM25 top-k against a persisted index built by :func:`index_documents`."""
    return bm25_topk(cat.read_set(db, "postings"), cat.read_set(db, "doclens"), terms, k=k)


# ---------------------------------------------------------------------------
# incremental index maintenance: the inverted index IS a materialized view
# (postings = count per (doc_id, term) over the tokenized corpus), so the
# MV layer's file-level watermark + delta fold maintains it: appending a
# day's documents re-tokenizes ONLY the new files and folds their postings
# into the term-bucketed state — never a full corpus re-index.
def _postings_transform(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", F.explode(_tokens_col()).alias("term"))


def index_documents_incremental(
    cat, idx_db: str, src_db: str, src_name: str, n_buckets: int = 8
) -> None:
    """Create the incremental inverted index over a stored documents set."""
    from lachesis_spark.plans import matview as MV

    MV.register_transform("search_postings", _postings_transform)
    cat.create_database(idx_db)
    MV.create_agg_view(
        cat, idx_db, "postings_mv", src_db, src_name,
        keys=["doc_id", "term"], cols=[],
        bucket_by=(n_buckets, ["term"]), transform="search_postings",
    )


def refresh_index(cat, idx_db: str) -> str:
    """Fold newly appended document files into the index (see
    matview.refresh_view for the modes)."""
    from lachesis_spark.plans import matview as MV

    MV.register_transform("search_postings", _postings_transform)
    return MV.refresh_view(cat, idx_db, "postings_mv")


def search_incremental_index(cat, idx_db: str, terms: list[str], k: int = 20) -> DataFrame:
    """BM25 over the MV-maintained index: tf is the MV count, doc lengths
    derive from the postings (one more reason dl = Σ tf pays off: the
    incremental index needs no separate length table)."""
    postings = cat.read_set(idx_db, "postings_mv").select(
        "doc_id", "term", F.col("mv_count").alias("tf")
    )
    return bm25_topk(postings, doc_lengths_from_postings(postings), terms, k=k)


# ---------------------------------------------------------------------------
# registry queries
def search_bm25_topk(spark, sf_dir):
    """Top-20 documents by BM25 for a 3-term query.  ONE corpus
    tokenize+groupBy pass: the postings frame is lazily checkpointed and
    feeds both the scoring join and the doc-length/corpus-stats
    derivations (dl = Σ tf), instead of tokenizing the corpus twice."""
    docs = _docs(spark, sf_dir)
    postings = build_postings(docs).transform(_barrier)
    return bm25_topk(
        postings, doc_lengths_from_postings(postings), BM25_TERMS, k=20
    )


def _sql_terms(terms) -> str:
    return ", ".join(f"'{t}'" for t in terms)


SEARCH_BM25_TOPK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS ts FROM documents
), dl AS (
  -- docs with >= 1 token, mirroring the postings-derived lengths
  SELECT doc_id, CAST(len(ts) AS DOUBLE) AS dl FROM toks WHERE len(ts) > 0
), post AS (
  SELECT doc_id, unnest(ts) AS term FROM toks
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM post
  WHERE term IN ({_sql_terms(BM25_TERMS)}) GROUP BY doc_id, term
), dft AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM post
  WHERE term IN ({_sql_terms(BM25_TERMS)}) GROUP BY term
), stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl
), contrib AS (
  SELECT tf.doc_id,
         ln(CAST(1.0 AS DOUBLE) + (stats.n_docs - dft.df + CAST(0.5 AS DOUBLE))
            / (dft.df + CAST(0.5 AS DOUBLE)))
         * CAST(tf.tf AS DOUBLE) * CAST({K1 + 1.0} AS DOUBLE)
         / (CAST(tf.tf AS DOUBLE) + CAST({K1} AS DOUBLE)
            * (CAST({1.0 - B} AS DOUBLE) + CAST({B} AS DOUBLE) * dl.dl / stats.avgdl)) AS c
  FROM tf JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id, ROUND(SUM(c), 6) AS score
FROM contrib GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 20
"""


def search_keyword_and(spark, sf_dir):
    """Conjunctive boolean retrieval: documents containing ALL query terms,
    with the summed term frequency.  Posting-list intersection =
    filter + groupBy(doc_id) + countDistinct(term) == |Q| — one shuffle on
    doc_id over only the matching postings."""
    docs = _docs(spark, sf_dir)
    hits = (
        build_postings(docs)
        .filter(F.col("term").isin(AND_TERMS))
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("tf").alias("total_tf"),
        )
        .filter(F.col("n_terms") == len(AND_TERMS))
        .select("doc_id", F.col("total_tf").cast("long").alias("total_tf"))
    )
    return hits.orderBy("doc_id")


SEARCH_KEYWORD_AND_SQL = f"""
WITH post AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM post
  WHERE term IN ({_sql_terms(AND_TERMS)}) GROUP BY doc_id, term
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total_tf
FROM tf GROUP BY doc_id
HAVING count(DISTINCT term) = {len(AND_TERMS)}
ORDER BY doc_id
"""


def search_phrase(spark, sf_dir):
    """Positional phrase search for the 2-gram PHRASE: self-join of the
    positional index on (doc_id, pos+1) — adjacency never leaves the
    document's partition (both sides keyed by doc_id)."""
    docs = _docs(spark, sf_dir)
    pos = positional_postings(docs)
    p1 = pos.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("p1")
    )
    p2 = pos.filter(F.col("term") == PHRASE[1]).select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("p2")
    )
    return (
        p1.join(
            p2,
            (F.col("doc_id") == F.col("doc_id2")) & (F.col("p2") == F.col("p1") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy("doc_id")
    )


SEARCH_PHRASE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS ts FROM documents
), pos AS (
  SELECT doc_id, CAST(generate_subscripts(ts, 1) - 1 AS BIGINT) AS pos,
         unnest(ts) AS term
  FROM toks
)
SELECT p1.doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
FROM pos p1 JOIN pos p2
  ON p1.doc_id = p2.doc_id AND p2.pos = p1.pos + 1
WHERE p1.term = '{PHRASE[0]}' AND p2.term = '{PHRASE[1]}'
GROUP BY p1.doc_id
ORDER BY p1.doc_id
"""


# ---------------------------------------------------------------------------
# TF-IDF cosine ranking — the sparse-lexical twin of llm/similarity's dense
# cosine: rank documents by cosine(query tf-idf vector, doc tf-idf vector)
# with log-tf weighting w(d,t) = (1 + ln tf) · ln(N/df).
#
# Scale: doc norms require idf over EVERY term of each doc — one linear
# postings⋈term-df join co-keyed on term plus one groupBy(doc_id); at
# index time this is materialized alongside the postings (same one-pass
# amortization as doc_lengths_from_postings), so a query touches only the
# |Q|-term numerator, the broadcast |Q|-row idf table and the persisted
# norms.  Nothing here is quadratic; top-k is TakeOrdered.
def tfidf_doc_norms(postings: DataFrame) -> DataFrame:
    """(doc_id, dnorm): L2 norm of each doc's full tf-idf vector."""
    n_docs = postings.select("doc_id").distinct().count()
    df_t = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = (
        postings.join(df_t, "term")
        .select(
            "doc_id",
            (
                (F.lit(1.0) + F.log(F.col("tf").cast("double")))
                * F.log(F.lit(float(n_docs)) / F.col("df"))
            ).alias("w"),
        )
    )
    return w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("dnorm"))


def tfidf_cosine_topk(
    postings: DataFrame, terms: list[str], k: int = 20
) -> DataFrame:
    spark = postings.sparkSession
    p = postings.transform(_barrier)  # shared: norms + numerator
    n_docs = p.select("doc_id").distinct().count()
    norms = tfidf_doc_norms(p)
    qdf = (
        p.filter(F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .withColumn("idf", F.log(F.lit(float(n_docs)) / F.col("df")))
    )
    qnorm = qdf.agg(F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("qnorm"))
    num = (
        p.join(F.broadcast(qdf), "term")
        .select(
            "doc_id",
            (
                (F.lit(1.0) + F.log(F.col("tf").cast("double")))
                * F.col("idf")
                * F.col("idf")
            ).alias("c"),
        )
        .groupBy("doc_id")
        .agg(F.sum("c").alias("num"))
    )
    return (
        num.join(norms, "doc_id")
        .join(F.broadcast(qnorm))
        .select(
            "doc_id",
            F.round(F.col("num") / (F.col("dnorm") * F.col("qnorm")), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def search_tfidf_cosine(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return tfidf_cosine_topk(build_postings(docs), BM25_TERMS)


SEARCH_TFIDF_COSINE_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_SQL_TOKS} AS ts FROM documents
), post AS (
  SELECT doc_id, unnest(ts) AS term FROM toks
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM post GROUP BY doc_id, term
), n AS (
  SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM tf
), dft AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), w AS (
  SELECT tf.doc_id,
         (1.0 + ln(CAST(tf.tf AS DOUBLE))) * ln((SELECT n_docs FROM n) / dft.df) AS w,
         tf.term
  FROM tf JOIN dft USING (term)
), norms AS (
  SELECT doc_id, sqrt(sum(w * w)) AS dnorm FROM w GROUP BY doc_id
), qdf AS (
  SELECT term, df, ln((SELECT n_docs FROM n) / df) AS idf
  FROM dft WHERE term IN ({_sql_terms(BM25_TERMS)})
), qn AS (
  SELECT sqrt(sum(idf * idf)) AS qnorm FROM qdf
), num AS (
  SELECT tf.doc_id, sum((1.0 + ln(CAST(tf.tf AS DOUBLE))) * qdf.idf * qdf.idf) AS num
  FROM tf JOIN qdf USING (term) GROUP BY tf.doc_id
)
SELECT num.doc_id, round(num.num / (norms.dnorm * qn.qnorm), 6) AS cosine
FROM num JOIN norms USING (doc_id) CROSS JOIN qn
ORDER BY cosine DESC, doc_id ASC LIMIT 20
"""


QUERIES = {
    "search_bm25_topk": search_bm25_topk,
    "search_keyword_and": search_keyword_and,
    "search_phrase": search_phrase,
    "search_tfidf_cosine": search_tfidf_cosine,
}

ORACLE = {
    "search_bm25_topk": SEARCH_BM25_TOPK_SQL,
    "search_keyword_and": SEARCH_KEYWORD_AND_SQL,
    "search_phrase": SEARCH_PHRASE_SQL,
    "search_tfidf_cosine": SEARCH_TFIDF_COSINE_SQL,
}
