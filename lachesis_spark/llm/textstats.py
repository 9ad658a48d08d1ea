"""Text-analysis queries over the ``documents`` table.

The training-data-pipeline text surface: token counting, quality scoring,
language ID, document fingerprinting — all as JVM-side expressions from
functions.text, each with a DuckDB oracle.  (The reference open-codes all
scalar text logic inside native C++ lambdas — SURVEY.md §2.2; reference
src/tpch/source/Query22/RunQuery22.cc:60 — here the same logic is Catalyst
expressions, which keeps a 100 TB corpus pass inside whole-stage codegen.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lachesis_spark.functions import text as TX

from lachesis_spark.binding import base_table

from lachesis_spark.operators.core import barrier as _barrier

# DuckDB fragments mirroring functions.text (kept textually in sync).
_SQL_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"
_SQL_NTOK = f"len({_SQL_TOKENS})"
_SQL_ATL = (
    f"(list_sum(list_transform({_SQL_TOKENS}, t -> CAST(length(t) AS DOUBLE)))"
    f" / CAST({_SQL_NTOK} AS DOUBLE))"
)
_SQL_PUNCT = (
    "(CAST(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS DOUBLE)"
    " / CAST(length(text) AS DOUBLE))"
)


def _docs(spark: SparkSession, sf_dir: str, floor: bool = True) -> DataFrame:
    # parallelism floor (opt-out): the expensive per-row expressions most
    # consumers run (md5 windows, shingling, tokenize/explode) otherwise run
    # on however few splits the (test-scale) file offers — 1 at sf0.1; the
    # gate reads actual scan splits, so a big corpus is a no-op (measured:
    # text_rolling_fp 2.9 -> 0.5 s at sf0.1).  Aggregate-only consumers
    # pass floor=False and scan raw — the round-robin buys them nothing
    # (round-6 regression triage: quality_classifier/sample_temperature).
    from lachesis_spark.operators.core import parallelism_floor

    df = base_table(spark, sf_dir, "documents")
    return parallelism_floor(df, spark) if floor else df


# ---------------------------------------------------------------------------
# 1. Per-document stats: token count, avg token length, punct ratio.
def text_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        TX.token_count("text").cast("long").alias("n_tokens"),
        TX.avg_token_len("text").alias("avg_tok_len"),
        TX.punct_ratio("text").alias("punct_ratio"),
    )


TEXT_STATS_SQL = f"""
SELECT doc_id,
       CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
       {_SQL_ATL} AS avg_tok_len,
       {_SQL_PUNCT} AS punct_ratio
FROM documents
"""


# ---------------------------------------------------------------------------
# 2. Corpus quality report: quality-score band × source, with counts —
#    the shape of a pretraining-corpus filter audit.
def text_quality(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "source", TX.quality_score("text").alias("q")
    )
    return (
        scored.withColumn(
            "band",
            F.when(F.col("q") >= 0.9, "high")
            .when(F.col("q") >= 0.7, "mid")
            .otherwise("low"),
        )
        .groupBy("source", "band")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("q").alias("avg_q"))
    )


TEXT_QUALITY_SQL = f"""
WITH scored AS (
  SELECT source,
         ((CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.5 END)
          + (CASE WHEN {_SQL_ATL} BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
          + (1.0 - least({_SQL_PUNCT} * 5.0, 1.0))) / 3.0 AS q
  FROM documents
)
SELECT source,
       CASE WHEN q >= 0.9 THEN 'high' WHEN q >= 0.7 THEN 'mid' ELSE 'low' END AS band,
       count(*) AS n_docs, avg(q) AS avg_q
FROM scored GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 3. Language ID: argmax stopword-hit ratio across the candidate languages,
#    scored against the table's ground-truth lang column.
def text_langid(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        "doc_id",
        "lang",
        *[TX.stopword_ratio("text", lg).alias(f"r_{lg}") for lg in sorted(TX.STOPWORDS)],
    )
    ratios = F.array(*[
        F.struct(F.col(f"r_{lg}").alias("r"), F.lit(lg).alias("lg"))
        for lg in sorted(TX.STOPWORDS)
    ])
    # argmax with deterministic ties: max (r, then reverse-alphabetic lg wins
    # ties via struct ordering) — array_max orders structs lexicographically
    pred = F.array_max(ratios)["lg"]
    return (
        scored.withColumn("pred_lang", pred)
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _sql_stop_ratio(lang: str) -> str:
    from lachesis_spark.functions.text import STOPWORDS

    inlist = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"(CAST(len(list_filter({_SQL_TOKENS}, t -> lower(t) IN ({inlist}))) AS DOUBLE)"
        f" / CAST({_SQL_NTOK} AS DOUBLE))"
    )


def _langid_sql() -> str:
    from lachesis_spark.functions.text import STOPWORDS

    langs = sorted(STOPWORDS)
    cols = ", ".join(f"{_sql_stop_ratio(lg)} AS r_{lg}" for lg in langs)
    structs = ", ".join(f"{{'r': r_{lg}, 'lg': '{lg}'}}" for lg in langs)
    return f"""
WITH scored AS (SELECT doc_id, lang, {cols} FROM documents),
pred AS (
  SELECT lang, list_max([{structs}]).lg AS pred_lang FROM scored
)
SELECT lang, pred_lang, count(*) AS n_docs FROM pred GROUP BY lang, pred_lang
"""


# ---------------------------------------------------------------------------
# 4. Fingerprint collision groups: documents sharing a 1-perm MinHash
#    fingerprint (lexicographic-min token md5) — the cheap first-pass dedup
#    signal; shuffle moves one 32-char key per doc.
def text_fingerprint(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", TX.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


TEXT_FINGERPRINT_SQL = f"""
SELECT fp, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM (
  SELECT doc_id, list_min(list_transform({_SQL_TOKENS}, t -> md5(t))) AS fp
  FROM documents
) GROUP BY fp HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# 5. LLM-token accounting: BPE-style pre-tokenizer counts per source — the
#    number a pretraining data budget is measured in (whitespace tokens
#    over-merge punctuation).  Same regex evaluated by both engines.
def text_tokens_bpe(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return docs.groupBy("source").agg(
        F.sum(TX.bpe_token_count("text")).cast("long").alias("total_bpe_tokens"),
        F.avg(TX.bpe_token_count("text")).alias("avg_bpe_tokens"),
        F.sum(TX.token_count("text")).cast("long").alias("total_ws_tokens"),
    )


TEXT_TOKENS_BPE_SQL = f"""
SELECT source,
       CAST(sum(len(regexp_extract_all(text, '{TX.BPE_PATTERN}'))) AS BIGINT)
         AS total_bpe_tokens,
       avg(len(regexp_extract_all(text, '{TX.BPE_PATTERN}'))) AS avg_bpe_tokens,
       CAST(sum({_SQL_NTOK}) AS BIGINT) AS total_ws_tokens
FROM documents GROUP BY source
"""


# ---------------------------------------------------------------------------
# 6. Rolling-hash (winnowing-style) fingerprint groups: documents sharing
#    the min hash over sliding 16-char windows — catches near-dups that
#    token-level fingerprints miss when token boundaries shift.
def text_rolling_fp(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", TX.rolling_fingerprint("text").alias("rfp"))
        .groupBy("rfp")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("canonical_id"))
        .filter(F.col("n_docs") > 1)
    )


TEXT_ROLLING_FP_SQL = """
SELECT rfp, count(*) AS n_docs, min(doc_id) AS canonical_id
FROM (
  SELECT doc_id,
         list_min(list_transform(
           range(1, greatest(length(text) - 15, 1) + 1),
           i -> CAST(('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 16)), 1, 15))
                     AS BIGINT)
         )) AS rfp
  FROM documents
) GROUP BY rfp HAVING count(*) > 1
"""




# ---------------------------------------------------------------------------
# 2b. Quantile-threshold corpus filter: keep the top quality quartile.  The
#     threshold is an exact percentile computed in one aggregate pass and
#     broadcast back as a 1-row scalar join — never collected to the driver,
#     so the whole filter is a single job at any corpus size (agg pass +
#     filter pass), the standard shape of a perplexity/quality cut.
_SQL_Q = f"""((CASE WHEN length(text) BETWEEN 100 AND 2000 THEN 1.0 ELSE 0.5 END)
          + (CASE WHEN {_SQL_ATL} BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END)
          + (1.0 - least({_SQL_PUNCT} * 5.0, 1.0))) / 3.0"""


def text_quality_filter(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # The exact-percentile cut is inherently two-pass (threshold pass +
    # filter pass), but both passes need only (doc_id, lang, q) — a lazy
    # localCheckpoint materializes that narrow scored frame once, so the
    # full-width text scan and the per-row quality_score expression run
    # ONCE instead of once per pass (the sample_dsir scan-dedup pattern;
    # a plain .cache() measured slower on text_nb_langid, see
    # OPTIMIZATION_r11.md).
    scored = docs.select(
        "doc_id", "lang", TX.quality_score("text").alias("q")
    ).transform(_barrier)
    thr = scored.agg(F.expr("percentile(q, 0.75)").alias("thr"))
    kept = scored.join(F.broadcast(thr), scored["q"] >= F.col("thr"))
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("q").alias("avg_q")
    )


TEXT_QUALITY_FILTER_SQL = f"""
WITH scored AS (SELECT doc_id, lang, {_SQL_Q} AS q FROM documents),
t AS (SELECT quantile_cont(q, 0.75) AS thr FROM scored)
SELECT lang, count(*) AS n_docs, avg(q) AS avg_q
FROM scored, t WHERE q >= thr GROUP BY lang
"""


QUERIES = {
    "text_tokens_bpe": text_tokens_bpe,
    "text_rolling_fp": text_rolling_fp,
    "text_stats": text_stats,
    "text_quality": text_quality,
    "text_quality_filter": text_quality_filter,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
}

ORACLE = {
    "text_tokens_bpe": TEXT_TOKENS_BPE_SQL,
    "text_rolling_fp": TEXT_ROLLING_FP_SQL,
    "text_stats": TEXT_STATS_SQL,
    "text_quality": TEXT_QUALITY_SQL,
    "text_quality_filter": TEXT_QUALITY_FILTER_SQL,
    "text_langid": _langid_sql(),
    "text_fingerprint": TEXT_FINGERPRINT_SQL,
}


# ---------------------------------------------------------------------------
# 7. Char-n-gram language ID: argmax over languages of the fraction of the
#    document's distinct character trigrams found in that language's
#    stopword-derived trigram profile — the classic n-gram LID heuristic
#    (profiles are deterministic, no external models).  The lowercase text
#    and the trigram set are bound as LAMBDA VARIABLES (transform over a
#    1-element array), so each is evaluated once per row even though the
#    downstream expressions reference them many times — projection collapse
#    cannot inline into a lambda binding.  The old form forced the same
#    once-per-row evaluation with two full-corpus repartition("doc_id")
#    barriers; those exchanges are gone and the whole query is one narrow
#    map plus the final per-(lang, pred) aggregation.
def text_langid_ngram(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    profiles = TX.lang_trigram_profiles()
    langs = sorted(profiles)
    plits = {lg: F.array(*[F.lit(t) for t in profiles[lg]]) for lg in langs}

    # tris is distinct (char_trigrams applies array_distinct), so the match
    # count is |tris ∩ profile|; array_intersect hash-builds the profile side
    # once instead of isin's O(|tris|×|profile|) OR-chain per document
    def best_lang(ts):
        return F.array_max(
            F.array(*[
                F.struct(
                    (F.size(F.array_intersect(ts, plits[lg])) / F.size(ts)).alias("r"),
                    F.lit(lg).alias("lg"),
                )
                for lg in langs
            ])
        )["lg"]

    pred = F.element_at(
        F.transform(
            F.array(F.lower(F.col("text"))),
            lambda lt: F.element_at(
                F.transform(F.array(TX.char_trigrams(lt)), best_lang), 1
            ),
        ),
        1,
    )
    return (
        docs.select("lang", pred.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _langid_ngram_sql() -> str:
    profiles = __import__("lachesis_spark.functions.text", fromlist=["x"]).lang_trigram_profiles()
    langs = sorted(profiles)
    tris = ("list_distinct(list_transform(range(1, greatest(length(lt) - 2, 1) + 1), "
            "i -> substr(lt, CAST(i AS INTEGER), 3)))")
    cols = []
    for lg in langs:
        inlist = ", ".join("'" + t.replace("'", "''") + "'" for t in profiles[lg])
        cols.append(
            f"(CAST(len(list_filter(tris, x -> x IN ({inlist}))) AS DOUBLE)"
            f" / CAST(len(tris) AS DOUBLE)) AS r_{lg}"
        )
    structs = ", ".join(f"{{'r': r_{lg}, 'lg': '{lg}'}}" for lg in langs)
    return f"""
WITH lowered AS (SELECT doc_id, lang, lower(text) AS lt FROM documents),
tri AS (SELECT doc_id, lang, {tris} AS tris FROM lowered),
scored AS (SELECT doc_id, lang, {', '.join(cols)} FROM tri),
pred AS (SELECT lang, list_max([{structs}]).lg AS pred_lang FROM scored)
SELECT lang, pred_lang, count(*) AS n_docs FROM pred GROUP BY lang, pred_lang
"""


QUERIES["text_langid_ngram"] = text_langid_ngram
ORACLE["text_langid_ngram"] = _langid_ngram_sql()


# ---------------------------------------------------------------------------
# 8. Repetition-based quality filtering (the Gopher/C4 rule family): a
#    document dominated by one repeated phrase is boilerplate/spam even when
#    its length and stopword profile look fine.  Signals per doc:
#      dup_word_frac   = 1 - distinct(words)/words     (word-level repetition)
#      top_bigram_share = count(most frequent bigram)/bigrams
#    Aggregated per lang with a flagged-fraction at the Gopher-ish 0.2
#    threshold on top_bigram_share.
#
#    Scale: the max bigram multiplicity is the longest run of equal adjacent
#    elements in the SORTED bigram array, so the whole per-doc computation is
#    expression-only (array_sort + one aggregate() fold) — no bigram explode,
#    no (doc, bigram) shuffle.  The only shuffle left is the final per-lang
#    aggregation; per-doc work is O(n log n) local sort vs the old plan's
#    corpus×token-count row blow-up through two exchanges.
REP_SHARE_FLAG = 0.2


def text_repetition(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "lang", TX.tokens(F.lower(F.col("text"))).alias("t")
    )
    base = toks.select(
        "doc_id",
        "lang",
        F.size("t").alias("n_words"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
        F.expr(
            "transform(sequence(0, size(t) - 2), i -> concat(t[i], ' ', t[i + 1]))"
        ).alias("bigrams"),
    ).where(F.col("n_words") >= 2)
    # longest equal-run in the sorted array == max multiplicity == max(c)
    per_doc = base.withColumn("s", F.array_sort("bigrams")).select(
        "doc_id",
        "lang",
        "n_words",
        "n_distinct",
        (
            F.when(F.size("s") <= 1, F.lit(1.0)).otherwise(
                F.expr(
                    "CAST(aggregate("
                    " sequence(1, size(s) - 1),"
                    " named_struct('run', 1, 'best', 1),"
                    " (acc, i) -> named_struct("
                    "   'run', IF(s[i] = s[i - 1], acc.run + 1, 1),"
                    "   'best', greatest(acc.best,"
                    "     IF(s[i] = s[i - 1], acc.run + 1, 1))),"
                    " acc -> acc.best) AS DOUBLE)"
                )
            )
            / F.size("s")
        ).alias("top_bigram_share"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg(1.0 - F.col("n_distinct") / F.col("n_words")).alias("avg_dup_word_frac"),
            F.avg("top_bigram_share").alias("avg_top_bigram_share"),
            F.sum(
                F.when(F.col("top_bigram_share") > REP_SHARE_FLAG, 1).otherwise(0)
            ).cast("bigint").alias("n_flagged"),
        )
    )


TEXT_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
  FROM documents
),
base AS (
  SELECT doc_id, lang, len(t) AS n_words,
         len(list_distinct(t)) AS n_distinct,
         list_transform(generate_series(1, len(t) - 1),
                        i -> t[i] || ' ' || t[i + 1]) AS bigrams
  FROM toks WHERE len(t) >= 2
),
bg AS (
  SELECT doc_id, lang, n_words, n_distinct, unnest(bigrams) AS bg FROM base
),
per_bg AS (
  SELECT doc_id, lang, n_words, n_distinct, bg, count(*) AS c
  FROM bg GROUP BY doc_id, lang, n_words, n_distinct, bg
),
per_doc AS (
  SELECT doc_id, lang, n_words, n_distinct,
         CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_share
  FROM per_bg GROUP BY doc_id, lang, n_words, n_distinct
)
SELECT lang, count(*) AS n_docs,
       avg(1.0 - CAST(n_distinct AS DOUBLE) / n_words) AS avg_dup_word_frac,
       avg(top_bigram_share) AS avg_top_bigram_share,
       CAST(sum(CASE WHEN top_bigram_share > {REP_SHARE_FLAG} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged
FROM per_doc GROUP BY lang
"""

QUERIES["text_repetition"] = text_repetition
ORACLE["text_repetition"] = TEXT_REPETITION_SQL


# ---------------------------------------------------------------------------
# 9. Unigram-LM quality scoring (the CCNet/kenLM filtering pattern, with the
#    LM trained in-corpus): per-lang unigram distribution over the corpus,
#    each document scored by its mean token log-probability, per-lang
#    summary with an outlier count at mean - 2*stddev (population stddev).
#    A doc whose tokens are improbable under its own language's distribution
#    is noise/ocr-garbage/wrong-lang — the standard perplexity-filter signal.
#
#    Scale: the LM is a (lang, word) -> p aggregate — vocab-sized, tiny next
#    to the corpus — built with one groupBy and joined back to the token
#    stream on (lang, word): fact-to-dim, broadcastable per lang shard.  Two
#    strictly-reducing groupBys after that.  No Python anywhere.
def text_unigram_logprob(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "lang", F.explode(TX.tokens(F.lower(F.col("text")))).alias("w")
    )
    # per-lang totals via groupBy + broadcast join, NOT a lang-partitioned
    # window: a window would sort each language's whole vocabulary in ONE
    # task (1e7-1e8 rows/lang at corpus scale); the totals frame is
    # languages-sized and broadcasts for free
    wc = toks.groupBy("lang", "w").agg(F.count(F.lit(1)).alias("c"))
    tots = wc.groupBy("lang").agg(F.sum("c").alias("tot"))
    lm = (
        wc.join(F.broadcast(tots), "lang")
        .select("lang", "w", (F.col("c") / F.col("tot")).alias("p"))
    )
    scored = (
        toks.join(lm, ["lang", "w"])
        .groupBy("doc_id", "lang")
        .agg(F.avg(F.log("p")).alias("doc_lp"))
    )
    stats = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("doc_lp").alias("mean_lp"),
        F.stddev_pop("doc_lp").alias("sd_lp"),
    )
    return (
        scored.join(F.broadcast(stats), "lang")
        .groupBy("lang")
        .agg(
            F.first("n_docs").alias("n_docs"),
            F.first("mean_lp").alias("mean_lp"),
            F.sum(
                F.when(
                    F.col("doc_lp") < F.col("mean_lp") - 2 * F.col("sd_lp"), 1
                ).otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


TEXT_UNIGRAM_LOGPROB_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
  FROM documents
),
lm AS (
  SELECT lang, w,
         CAST(count(*) AS DOUBLE)
           / sum(count(*)) OVER (PARTITION BY lang) AS p
  FROM toks GROUP BY lang, w
),
scored AS (
  SELECT t.doc_id, t.lang, avg(ln(lm.p)) AS doc_lp
  FROM toks t JOIN lm ON t.lang = lm.lang AND t.w = lm.w
  GROUP BY t.doc_id, t.lang
),
stats AS (
  SELECT lang, count(*) AS n_docs, avg(doc_lp) AS mean_lp,
         stddev_pop(doc_lp) AS sd_lp
  FROM scored GROUP BY lang
)
SELECT s.lang, st.n_docs, st.mean_lp,
       CAST(sum(CASE WHEN s.doc_lp < st.mean_lp - 2 * st.sd_lp
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM scored s JOIN stats st ON s.lang = st.lang
GROUP BY s.lang, st.n_docs, st.mean_lp
"""

QUERIES["text_unigram_logprob"] = text_unigram_logprob
ORACLE["text_unigram_logprob"] = TEXT_UNIGRAM_LOGPROB_SQL


# ---------------------------------------------------------------------------
# 10. Word-entropy quality signal: Shannon entropy (bits) of each document's
#     word distribution.  Low entropy = repetitive/templated text, the same
#     family as the Gopher repetition rule but distribution-wide.
#
#     Scale: like text_repetition, the per-doc histogram never materializes —
#     tokens are array_sort'ed and a single aggregate() fold walks the runs,
#     emitting each run's -(c/n)·log2(c/n) term at its boundary.  Zero
#     per-doc shuffles; the only Exchange is the final per-lang aggregation.
#     Per-doc entropy is rounded to 1e-6 BEFORE aggregating so the fold
#     (run order) and the oracle's groupBy (hash order) summation-order
#     difference cannot reach the comparator.
ENTROPY_LOW_BITS = 3.0


def text_entropy(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    base = docs.select(
        "doc_id",
        "lang",
        F.array_sort(TX.tokens(F.lower(F.col("text")))).alias("s"),
    ).where(F.size("s") >= 1)
    ent = base.select(
        "doc_id",
        "lang",
        F.when(F.size("s") == 1, F.lit(0.0))
        .otherwise(
            F.expr(
                "round((aggregate("
                " sequence(1, size(s) - 1),"
                " named_struct('run', 1, 'acc', CAST(0.0 AS DOUBLE)),"
                " (st, i) -> IF(s[i] = s[i - 1],"
                "   named_struct('run', st.run + 1, 'acc', st.acc),"
                "   named_struct('run', 1, 'acc',"
                "     st.acc - (CAST(st.run AS DOUBLE) / size(s))"
                "       * log2(CAST(st.run AS DOUBLE) / size(s)))),"
                " st -> st.acc - (CAST(st.run AS DOUBLE) / size(s))"
                "   * log2(CAST(st.run AS DOUBLE) / size(s)))), 6)"
            )
        )
        .alias("entropy"),
    )
    return ent.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("entropy"), 6).alias("avg_entropy"),
        F.sum(
            F.when(F.col("entropy") < ENTROPY_LOW_BITS, 1).otherwise(0)
        ).cast("bigint").alias("n_low_entropy"),
    )


TEXT_ENTROPY_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, {_SQL_TOKENS.replace("string_split(text", "string_split(lower(text)")} AS t
  FROM documents
),
base AS (SELECT doc_id, lang, t FROM toks WHERE len(t) >= 1),
wc AS (
  SELECT doc_id, lang, w, count(*) AS c
  FROM (SELECT doc_id, lang, unnest(t) AS w FROM base)
  GROUP BY doc_id, lang, w
),
n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM wc GROUP BY doc_id),
ent AS (
  SELECT wc.doc_id, wc.lang,
         round(sum(-(CAST(c AS DOUBLE) / n.n) * log2(CAST(c AS DOUBLE) / n.n)), 6)
           AS entropy
  FROM wc JOIN n ON wc.doc_id = n.doc_id
  GROUP BY wc.doc_id, wc.lang
)
SELECT lang, count(*) AS n_docs,
       round(avg(entropy), 6) AS avg_entropy,
       CAST(sum(CASE WHEN entropy < {ENTROPY_LOW_BITS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_low_entropy
FROM ent GROUP BY lang
"""

QUERIES["text_entropy"] = text_entropy
ORACLE["text_entropy"] = TEXT_ENTROPY_SQL


# ---------------------------------------------------------------------------
# 11. Perplexity-bucketed curriculum binning: split the corpus into unigram-
#     LM log-prob quartiles (CCNet's head/middle/tail policy generalized to
#     4 bins).  Exact quartile thresholds come from ONE 3-number aggregation
#     broadcast back into the plan — never an unpartitioned NTILE window,
#     which would sort the whole corpus in one task.  doc_lp is rounded
#     (1e-9) BEFORE the percentile so both engines interpolate thresholds
#     from identical doubles and boundary docs bucket identically.
def text_ppl_buckets(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id", "lang", F.explode(TX.tokens(F.lower(F.col("text")))).alias("w")
    )
    # ONE tokenize pass (guide §6 — the sample_dsir pattern): per-doc word
    # counts feed BOTH the language model (integer count sums — the LM is
    # bit-identical to the direct count) and the per-doc score, where
    # avg(ln p) over token instances equals Σ c·ln p / Σ c.  The old form
    # tokenized the corpus once for the LM and AGAIN for the scoring join.
    dwc = (
        toks.groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(_barrier)
    )
    # per-lang totals via groupBy + broadcast join, NOT a lang-partitioned
    # window: a window would sort each language's whole vocabulary in ONE
    # task (1e7-1e8 rows/lang at corpus scale); the totals frame is
    # languages-sized and broadcasts for free
    wc = dwc.groupBy("lang", "w").agg(F.sum("c").alias("c"))
    tots = wc.groupBy("lang").agg(F.sum("c").alias("tot"))
    lm = (
        wc.join(F.broadcast(tots), "lang")
        .select("lang", "w", (F.col("c") / F.col("tot")).alias("p"))
    )
    # scored feeds the threshold aggregate AND the binning — barriered so
    # the quartile probe does not re-run the whole upstream pipeline
    scored = (
        dwc.join(lm, ["lang", "w"])
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("c") * F.log("p")) / F.sum("c"), 9
            ).alias("doc_lp")
        )
        .transform(_barrier)
    )
    thr = scored.agg(
        F.expr("percentile(doc_lp, 0.25)").alias("q1"),
        F.expr("percentile(doc_lp, 0.5)").alias("q2"),
        F.expr("percentile(doc_lp, 0.75)").alias("q3"),
    )
    binned = scored.crossJoin(F.broadcast(thr)).withColumn(
        "bucket",
        F.when(F.col("doc_lp") < F.col("q1"), 0)
        .when(F.col("doc_lp") < F.col("q2"), 1)
        .when(F.col("doc_lp") < F.col("q3"), 2)
        .otherwise(3),
    )
    return binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_lp"), 6).alias("avg_lp"),
        F.round(F.min("doc_lp"), 6).alias("min_lp"),
        F.round(F.max("doc_lp"), 6).alias("max_lp"),
    )


TEXT_PPL_BUCKETS_SQL = """
WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
  FROM documents
),
lm AS (
  SELECT lang, w,
         CAST(count(*) AS DOUBLE)
           / sum(count(*)) OVER (PARTITION BY lang) AS p
  FROM toks GROUP BY lang, w
),
scored AS (
  SELECT t.doc_id, round(avg(ln(lm.p)), 9) AS doc_lp
  FROM toks t JOIN lm ON t.lang = lm.lang AND t.w = lm.w
  GROUP BY t.doc_id
),
thr AS (
  SELECT quantile_cont(doc_lp, 0.25) AS q1,
         quantile_cont(doc_lp, 0.5) AS q2,
         quantile_cont(doc_lp, 0.75) AS q3
  FROM scored
),
binned AS (
  SELECT doc_lp,
         CASE WHEN doc_lp < q1 THEN 0
              WHEN doc_lp < q2 THEN 1
              WHEN doc_lp < q3 THEN 2
              ELSE 3 END AS bucket
  FROM scored, thr
)
SELECT CAST(bucket AS INTEGER) AS bucket, count(*) AS n_docs,
       round(avg(doc_lp), 6) AS avg_lp,
       round(min(doc_lp), 6) AS min_lp,
       round(max(doc_lp), 6) AS max_lp
FROM binned GROUP BY bucket
"""

QUERIES["text_ppl_buckets"] = text_ppl_buckets
ORACLE["text_ppl_buckets"] = TEXT_PPL_BUCKETS_SQL


# ---------------------------------------------------------------------------
# 12. Zipf fit — the rank-frequency diagnostic every corpus health check
#     runs (a natural corpus fits ln(freq) ≈ a + s·ln(rank) with s ≈ −1;
#     template/boilerplate corpora flatten, spam steepens).  Top-K word
#     counts arrive via TakeOrdered (per-partition k-heaps + driver merge —
#     never a vocabulary-wide rank window); the OLS fit over K ≤ 1000
#     (ln rank, ln count) points is driver arithmetic on a bounded collect,
#     with the oracle computing the identical closed-form sums.
ZIPF_TOP = 1000


def text_zipf(spark, sf_dir):
    import math

    docs = _docs(spark, sf_dir, floor=False)
    wc = (
        docs.select(F.explode(TX.tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = wc.cache()
    try:
        tot = wc.agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("c").alias("total_tokens"),
        ).first()
        top = wc.orderBy(F.desc("c"), F.asc("w")).limit(ZIPF_TOP).collect()
    finally:
        wc.unpersist()
    xs = [math.log(i + 1) for i in range(len(top))]
    ys = [math.log(r["c"]) for r in top]
    n = float(len(top))
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return docs.sparkSession.createDataFrame(
        [(
            int(n), int(tot["vocab_size"]), int(tot["total_tokens"]),
            round(slope, 6), round(intercept, 6),
            top[0]["w"], int(top[0]["c"]),
        )],
        "top_n int, vocab_size bigint, total_tokens bigint,"
        " slope double, intercept double, top_word string, top_cnt bigint",
    )


TEXT_ZIPF_SQL = f"""
WITH wc AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS w
        FROM documents)
  GROUP BY w
),
tot AS (SELECT count(*) AS vocab_size, CAST(sum(c) AS BIGINT) AS total_tokens FROM wc),
ranked AS (
  SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rn FROM wc
),
top AS (SELECT * FROM ranked WHERE rn <= {ZIPF_TOP}),
sums AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         sum(ln(rn)) AS sx, sum(ln(c)) AS sy,
         sum(ln(rn) * ln(c)) AS sxy, sum(ln(rn) * ln(rn)) AS sxx
  FROM top
)
SELECT CAST(s.n AS INTEGER) AS top_n, t.vocab_size, t.total_tokens,
       round((s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx), 6) AS slope,
       round((s.sy - (s.n * s.sxy - s.sx * s.sy) / (s.n * s.sxx - s.sx * s.sx) * s.sx) / s.n, 6) AS intercept,
       (SELECT w FROM top WHERE rn = 1) AS top_word,
       (SELECT CAST(c AS BIGINT) FROM top WHERE rn = 1) AS top_cnt
FROM sums s, tot t
"""

QUERIES["text_zipf"] = text_zipf
ORACLE["text_zipf"] = TEXT_ZIPF_SQL


# ---------------------------------------------------------------------------
# 13. Bigram language-model scoring — the KenLM-shaped fluency signal one
#     tier above the unigram model: per-source perplexity under an add-k
#     smoothed bigram LM trained on the corpus itself.
#
#     Scale: the bigram stream comes from a lag window PARTITIONED BY
#     doc_id (adjacency never crosses a document's partition — the
#     search_phrase co-location argument), the LM is two map-side-combined
#     groupBys (bigram, then left-word totals derived FROM the bigram
#     frame, never a second corpus pass), the 1-row vocabulary size
#     broadcasts into the smoothing expression, and scoring re-joins the
#     model on (w1, w2) — linear everywhere, output is source-sized.
BIGRAM_K = 0.5


def text_bigram_ppl(spark, sf_dir):
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    t = docs.select(
        "doc_id", "source",
        F.posexplode(TX.tokens(F.lower(F.col("text")))).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        t.select(
            "doc_id", "source",
            F.lag("w").over(w).alias("w1"), F.col("w").alias("w2"),
        )
        .filter(F.col("w1").isNotNull())
        .transform(_barrier)  # shared: LM counts + scoring join
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = c2.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = bg.agg(F.countDistinct("w2").cast("double").alias("V"))
    # the LM frames are DATA-sized (distinct bigrams/unigrams grow with the
    # corpus): pin their joins to sort-merge so a runtime size-estimate
    # undershoot can never attempt a vocab-sized broadcast build (the ×100
    # probe hit exactly that).  The 1-row vocab scalar stays broadcast.
    lm = (
        c2.join(c1.hint("merge"), "w1")
        .join(F.broadcast(vocab))
        .select(
            "w1", "w2",
            ((F.col("c12") + F.lit(BIGRAM_K)) / (F.col("c1") + F.lit(BIGRAM_K) * F.col("V"))).alias("p"),
        )
    )
    scored = (
        bg.join(lm.hint("merge"), ["w1", "w2"])
        .groupBy("doc_id", "source")
        .agg(F.avg(F.log("p")).alias("lp"))
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("lp"), 6).alias("mean_lp"),
            F.round(F.exp(-F.avg("lp")), 6).alias("ppl"),
        )
        .orderBy("source")
    )


TEXT_BIGRAM_PPL_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(generate_subscripts(ts, 1) AS BIGINT) AS pos, unnest(ts) AS w
  FROM (
    SELECT doc_id, source,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts
    FROM documents
  )
), bg AS (
  SELECT doc_id, source,
         lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w AS w2
  FROM toks
  QUALIFY w1 IS NOT NULL
), c2 AS (
  SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
), c1 AS (
  SELECT w1, sum(c12) AS c1 FROM c2 GROUP BY w1
), v AS (
  SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS V FROM bg
), lm AS (
  SELECT c2.w1, c2.w2,
         (c2.c12 + {BIGRAM_K}) / (c1.c1 + {BIGRAM_K} * (SELECT V FROM v)) AS p
  FROM c2 JOIN c1 USING (w1)
), scored AS (
  SELECT bg.doc_id, bg.source, avg(ln(lm.p)) AS lp
  FROM bg JOIN lm ON bg.w1 = lm.w1 AND bg.w2 = lm.w2
  GROUP BY bg.doc_id, bg.source
)
SELECT source, count(*)::BIGINT AS n_docs,
       round(avg(lp), 6) AS mean_lp,
       round(exp(-avg(lp)), 6) AS ppl
FROM scored GROUP BY source ORDER BY source
"""

QUERIES["text_bigram_ppl"] = text_bigram_ppl
ORACLE["text_bigram_ppl"] = TEXT_BIGRAM_PPL_SQL
