"""Corpus scrubbing: PII redaction and benchmark decontamination.

Two pre-training hygiene passes every production corpus gets before the
sampling/packing stages in :mod:`lachesis_spark.llm.sampling`:

- ``pii_scrub``     : regex-based span redaction (emails, phone-shaped
  numbers) with per-document redaction counts — pure ``regexp_replace`` /
  ``regexp_count`` expressions, codegen end to end, one scan, 0 shuffles.
- ``decontaminate`` : flag training documents sharing any word-n-gram with
  an evaluation/benchmark set — the standard n-gram-overlap contamination
  check (as used for GPT-3/PaLM-style eval decontamination).  The eval
  side's distinct shingle hashes are tiny (an eval set is MBs, broadcast
  it); the training side streams through an inverted-index semi-join, so
  at 100 TB the cost is one scan + one broadcast hash probe, no shuffle
  of the corpus.

The synthetic ``documents`` text carries no real PII, so ``pii_scrub``
plants deterministic PII spans (derived from doc_id) before scrubbing —
the oracle plants the identical spans, making redaction-count parity a
real check of the regex semantics in both engines.

Shingles reuse the dedup modules' tokenize/shingle expressions so the
contamination unit is exactly the dedup unit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lachesis_spark.functions import text as TX

from lachesis_spark.llm.textstats import _docs

SHINGLE_N = 3
EVAL_DOCS = 10  # doc_id < EVAL_DOCS plays the held-out benchmark set

EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"


def scrub_text(col, token: str = "<PII>"):
    """Redact email and phone spans in one pass each (regexp_replace
    replaces every match — a 100 TB scrub is one projection)."""
    out = F.regexp_replace(col, EMAIL_RE, token)
    return F.regexp_replace(out, PHONE_RE, token)


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # plant deterministic PII so the scrub has real spans to find
    planted = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id"), F.lit("@example.com")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" call 555-867-5309")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    n_pii = F.regexp_count("text", F.lit(EMAIL_RE)) + F.regexp_count(
        "text", F.lit(PHONE_RE)
    )
    scrubbed = planted.select(
        "doc_id",
        "lang",
        n_pii.cast("long").alias("n_redacted"),
        F.length(scrub_text(F.col("text"))).alias("clean_len"),
    )
    return scrubbed.groupBy("lang").agg(
        F.sum("n_redacted").alias("total_redacted"),
        F.count(F.when(F.col("n_redacted") > 0, 1)).alias("docs_with_pii"),
        F.sum("clean_len").alias("sum_clean_len"),
    )


PII_SCRUB_SQL = f"""
WITH planted AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 4 = 0 THEN ' call 555-867-5309' ELSE '' END AS text
  FROM documents),
scrubbed AS (
  SELECT lang,
         len(regexp_extract_all(text, '{EMAIL_RE}'))
           + len(regexp_extract_all(text, '{PHONE_RE}')) AS n_redacted,
         length(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<PII>', 'g'),
                               '{PHONE_RE}', '<PII>', 'g')) AS clean_len
  FROM planted)
SELECT lang, CAST(sum(n_redacted) AS BIGINT) AS total_redacted,
       count(CASE WHEN n_redacted > 0 THEN 1 END) AS docs_with_pii,
       CAST(sum(clean_len) AS BIGINT) AS sum_clean_len
FROM scrubbed GROUP BY lang
"""


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang contamination report: training docs (doc_id >= EVAL_DOCS)
    sharing any {SHINGLE_N}-gram with the eval split (doc_id < EVAL_DOCS)."""
    docs = _docs(spark, sf_dir)
    sh = docs.select(
        "doc_id",
        "lang",
        F.explode(TX.word_shingles("text", SHINGLE_N)).alias("sh"),
    ).select("doc_id", "lang", F.md5("sh").alias("h"))
    eval_sh = (
        sh.where(F.col("doc_id") < EVAL_DOCS).select("h").distinct()
    )
    contaminated = (
        sh.where(F.col("doc_id") >= EVAL_DOCS)
        .join(F.broadcast(eval_sh), "h", "left_semi")
        .select("doc_id", "lang")
        .distinct()
    )
    return contaminated.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )


# the oracle builds the same shingle unit (kept textually in sync with
# llm.dedup._SQL_SHINGLES / functions.text.word_shingles)
_SQL_TOKENS = "list_filter(string_split(text, ' '), t -> t <> '')"
_SQL_SHINGLES = (
    f"list_transform(range(1, greatest(len({_SQL_TOKENS}) - {SHINGLE_N - 2}, 1)), "
    f"i -> {_SQL_TOKENS}[i] || ' ' || {_SQL_TOKENS}[i+1] || ' ' || {_SQL_TOKENS}[i+2])"
)

DECONTAMINATE_SQL = f"""
WITH sh AS (
  SELECT doc_id, lang, md5(unnest({_SQL_SHINGLES})) AS h FROM documents),
eval_sh AS (SELECT DISTINCT h FROM sh WHERE doc_id < {EVAL_DOCS}),
hits AS (
  SELECT DISTINCT s.doc_id, s.lang
  FROM sh s WHERE s.doc_id >= {EVAL_DOCS}
    AND s.h IN (SELECT h FROM eval_sh))
SELECT lang, count(*) AS n_contaminated FROM hits GROUP BY lang
"""


QUERIES = {
    "pii_scrub": pii_scrub,
    "decontaminate": decontaminate,
}

ORACLE = {
    "pii_scrub": PII_SCRUB_SQL,
    "decontaminate": DECONTAMINATE_SQL,
}
