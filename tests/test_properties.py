"""Property-based operator tests (hypothesis) — the randomized coverage the
reference lacks (SURVEY.md §5.1: no property-based testing).  Each property
checks a distributed operator against a plain-Python model on small random
inputs; example counts are kept low because every example is a Spark job."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F

from lachesis_spark.operators import core

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=-50, max_value=50),
        st.integers(min_value=0, max_value=5),
    ),
    min_size=1,
    max_size=40,
)


@SET
@given(data=rows, k=st.integers(min_value=1, max_value=10))
def test_top_k_matches_sorted_prefix(spark, data, k):
    df = spark.createDataFrame(data, "v int, g int")
    got = [
        (r["v"], r["g"])
        for r in core.top_k(df, k, "v", tiebreak=["g"]).collect()
    ]
    exp = sorted(data, key=lambda t: (-t[0], t[1]))[:k]
    assert got == exp


@SET
@given(data=rows)
def test_aggregate_matches_python_sums(spark, data):
    df = spark.createDataFrame(data, "v int, g int")
    got = {
        r["g"]: (r["s"], r["n"])
        for r in core.aggregate(
            df, ["g"], [F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")]
        ).collect()
    }
    exp: dict[int, tuple[int, int]] = {}
    for v, g in data:
        s, n = exp.get(g, (0, 0))
        exp[g] = (s + v, n + 1)
    assert got == exp


@SET
@given(data=rows)
def test_distinct_by_is_set_semantics(spark, data):
    df = spark.createDataFrame(data, "v int, g int")
    got = {r["g"] for r in core.distinct_by(df, ["g"]).collect()}
    assert got == {g for _, g in data}


@SET
@given(
    left=st.lists(st.integers(0, 8), min_size=1, max_size=20),
    right=st.lists(st.integers(0, 8), min_size=1, max_size=20),
)
def test_join_matches_python_multiset(spark, left, right):
    lf = spark.createDataFrame([(x,) for x in left], "k int")
    rf = spark.createDataFrame([(x,) for x in right], "k int")
    got = sorted(r["k"] for r in core.join([lf, rf], ["k"]).collect())
    exp = sorted(
        x for x in left for y in right if x == y
    )
    assert got == exp


@SET
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=4), min_size=0, max_size=12
    ),
    n=st.integers(min_value=2, max_value=4),
)
def test_shingle_count_and_content(spark, words, n):
    from lachesis_spark.functions import text as TX

    text = " ".join(words)
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(TX.word_shingles("text", n).alias("sh")).first()["sh"]
    exp = [
        " ".join(words[i : i + n]) for i in range(len(words) - n + 1)
    ] if len(words) >= n else []
    assert list(got) == exp


@SET
@given(text=st.text(alphabet="abc XY.,!7\t", min_size=0, max_size=60))
def test_bpe_token_count_matches_python(spark, text):
    import re

    from lachesis_spark.functions import text as TX

    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(TX.bpe_token_count("text").alias("n")).first()["n"]
    assert got == len(re.findall(TX.BPE_PATTERN, text))


@SET
@given(text=st.text(alphabet="abcd efg", min_size=1, max_size=80))
def test_rolling_fingerprint_matches_python(spark, text):
    import hashlib

    from lachesis_spark.functions import text as TX

    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(TX.rolling_fingerprint("text", 16).alias("fp")).first()["fp"]

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    n_windows = max(len(text) - 15, 1)
    exp = min(h(text[i : i + 16]) for i in range(n_windows))
    assert got == exp


@SET
@given(
    left=st.lists(st.tuples(st.integers(0, 4), st.integers(-9, 9)),
                  min_size=1, max_size=30),
    right=st.lists(st.tuples(st.integers(0, 4), st.integers(-9, 9)),
                   min_size=1, max_size=8),
    n_salts=st.integers(min_value=1, max_value=5),
)
def test_salted_join_identical_to_plain(spark, left, right, n_salts):
    """salted_join must be result-identical to the plain equi-join for any
    data and any salt fan-out (including hot keys: key space is tiny)."""
    lf = spark.createDataFrame(left, "k int, a int")
    rf = spark.createDataFrame(right, "k int, b int")
    got = sorted(
        (r["k"], r["a"], r["b"])
        for r in core.salted_join(lf, rf, "k", "k", n_salts=n_salts).collect()
    )
    exp = sorted((k, a, b) for k, a in left for k2, b in right if k == k2)
    assert got == exp


@SET
@given(ids=st.lists(st.integers(0, 10_000), min_size=1, max_size=50, unique=True))
def test_assign_split_total_and_stable(spark, ids):
    """Every row lands in exactly one split, and membership is a pure
    function of the key: invariant under repartitioning and re-runs (the
    no-train/test-leakage property)."""
    from lachesis_spark.llm.sampling import SPLITS, assign_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    one = {r["doc_id"]: r["split"] for r in
           assign_split(df, "doc_id").collect()}
    assert set(one) == set(ids)
    assert set(one.values()) <= {name for name, _ in SPLITS}
    two = {r["doc_id"]: r["split"] for r in
           assign_split(df.repartition(7), "doc_id").collect()}
    assert one == two


@SET
@given(
    docs=st.lists(st.tuples(st.integers(0, 10_000), st.integers(1, 50)),
                  min_size=1, max_size=40, unique_by=lambda t: t[0]),
    budget=st.integers(min_value=20, max_value=100),
)
def test_pack_sequences_bin_budget_invariant(spark, docs, budget):
    """Within each (bucket, bin): token sum stays under budget + the last
    item (concat-and-chunk never leaves a bin more than one item over), and
    bin ids per bucket are a contiguous 0..max range."""
    from lachesis_spark.llm.sampling import pack_sequences

    df = spark.createDataFrame(docs, "doc_id long, n_tok long")
    out = pack_sequences(df, "doc_id", F.col("n_tok"), budget=budget,
                         n_buckets=4).collect()
    assert len(out) == len(docs)
    by_bucket: dict[int, list] = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r)
    for bucket, rs in by_bucket.items():
        bins: dict[int, int] = {}
        for r in rs:
            bins[r["bin"]] = bins.get(r["bin"], 0) + r["n_tok"]
        assert set(bins) == set(range(max(bins) + 1)), (bucket, sorted(bins))
        # every bin except possibly the last started below budget
        for b, tot in bins.items():
            if b < max(bins):
                assert tot >= 1
        # replay the packing rule in Python on the same ordering:
        # raw bin = tokens_before // budget, then densify so over-budget
        # documents can't leave holes in the id range
        ordered = sorted(rs, key=lambda r: r["pack_key"])
        cum, raw = 0, []
        for r in ordered:
            raw.append(cum // budget)
            cum += r["n_tok"]
        dense = {b: i for i, b in enumerate(sorted(set(raw)))}
        for r, rb in zip(ordered, raw):
            assert r["bin"] == dense[rb], (bucket, r, rb, dense)


@SET
@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=6),
        min_size=1,
        max_size=25,
    )
)
def test_bpe_pair_counts_match_python_model(spark, words):
    """Distributed round-1 pair counting == plain-Python adjacent-pair
    counting over the same corpus (one 'document' holding all words)."""
    from collections import Counter

    from lachesis_spark.llm.training import bpe_train_rounds

    docs = spark.createDataFrame(
        [(1, " ".join(words), "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    p1, _, _, _ = bpe_train_rounds(docs)
    got = {r["pair"]: r["cnt"] for r in p1.collect()}
    model: Counter = Counter()
    for w, c in Counter(words).items():
        for i in range(len(w) - 1):
            model[f"{w[i]} {w[i + 1]}"] += c
    assert got == dict(model)


@SET
@given(
    toks=st.lists(
        st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=30),
        min_size=2,
        max_size=5,
    )
)
def test_temperature_mixture_proportions(spark, toks):
    """sample_temperature's p column == tokens^alpha / sum(tokens^alpha)
    computed in Python over the same per-lang token totals."""
    from lachesis_spark.llm import training as TR

    rows = [
        (li * 1000 + i, " ".join(["w"] * n), f"l{li}", "s", 0)
        for li, ns in enumerate(toks)
        for i, n in enumerate(ns)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import unittest.mock as mock

    with mock.patch.object(TR, "_docs", lambda spark, sf_dir, **kw: docs):
        out = {r["lang"]: r for r in TR.sample_temperature(spark, "x").collect()}
    totals = {f"l{li}": sum(ns) for li, ns in enumerate(toks)}
    z = sum(t ** TR.TEMP_ALPHA for t in totals.values())
    for lang, tot in totals.items():
        assert out[lang]["tokens"] == tot
        assert abs(out[lang]["p"] - tot ** TR.TEMP_ALPHA / z) < 1e-6


# ---------------------------------------------------------------------------
# Round-6 kernels: PNG codec round-trip and batched-BPE selection/application
png_arrays = st.tuples(
    st.integers(min_value=1, max_value=12),   # h
    st.integers(min_value=1, max_value=9),    # w
    st.integers(min_value=0, max_value=2**32 - 1),  # pixel seed
    st.lists(st.integers(min_value=0, max_value=4), min_size=1, max_size=6),
)


@SET
@given(spec=png_arrays)
def test_png_roundtrip_property(spec):
    """decode(encode(arr)) == arr for random shapes, pixels, and per-line
    filter assignments — every unfilter path hit by construction."""
    import numpy as np

    from lachesis_spark.llm import multimodal as MM

    h, w, seed, filters = spec
    arr = np.random.RandomState(seed % (2**31)).randint(
        0, 256, (h, w, 3), dtype=np.uint8
    )
    out = MM.decode_png(MM.encode_png(arr, filters=filters))
    assert out.shape == arr.shape and (out == arr).all()


ranked_pairs = st.lists(
    st.tuples(
        st.text(alphabet="abcdef", min_size=1, max_size=2),
        st.text(alphabet="abcdef", min_size=1, max_size=2),
        st.integers(min_value=1, max_value=1000),
    ),
    min_size=0,
    max_size=30,
)


@SET
@given(pairs=ranked_pairs, m=st.integers(min_value=1, max_value=8))
def test_select_noninteracting_property(pairs, m):
    """Selected batch is pairwise symbol-disjoint (constituents AND merged
    outputs), respects the cap, and preserves rank order greedily: every
    skipped candidate above the last accepted one conflicts with an
    earlier acceptance."""
    from lachesis_spark.llm import training as TR

    ranked = [(f"{p1} {p2}", cnt) for p1, p2, cnt in pairs]
    batch = TR.select_noninteracting(ranked, m)
    assert len(batch) <= m
    used: set = set()
    for pair, merged, _cnt in batch:
        p1, p2 = pair.split(" ", 1)
        trio = {p1, p2, merged}
        assert not (trio & used)
        used |= trio
    # exact greedy model: accept in rank order unless the trio conflicts
    # with anything already accepted, stop at m
    sim, sim_used = [], set()
    for pair, cnt in ranked:
        p1, p2 = pair.split(" ", 1)
        trio = {p1, p2, p1 + p2}
        if len(sim) < m and not (trio & sim_used):
            sim.append((pair, p1 + p2, int(cnt)))
            sim_used |= trio
    assert batch == sim


@SET
@given(
    stream=st.lists(st.sampled_from(["a", "b", "c", "d", "x"]), max_size=25),
    seed=st.integers(min_value=0, max_value=10**6),
)
def test_bpe_batch_fold_equals_any_sequential_order(stream, seed):
    """For a disjoint rule batch, the one-pass fold result is identical to
    applying the single-merge folds sequentially in a random order."""
    import random

    rules = {"a b": "ab", "c d": "cd", "x x": "xx"}

    def single(out, pair):
        p1, p2 = pair.split(" ")
        merged, acc = rules[pair], []
        for s in out:
            if acc and acc[-1] == p1 and s == p2:
                acc[-1] = merged
            else:
                acc.append(s)
        return acc

    def batch(stream):
        acc = []
        for s in stream:
            key = (acc[-1] + " " + s) if acc else None
            if key in rules:
                acc[-1] = rules[key]
            else:
                acc.append(s)
        return acc

    order = list(rules)
    random.Random(seed).shuffle(order)
    seq = list(stream)
    for pair in order:
        seq = single(seq, pair)
    assert seq == batch(list(stream))


# ---------------------------------------------------------------------------
# round-7 kernels


@settings(max_examples=40, deadline=None)
@given(
    lo=st.integers(min_value=-100, max_value=100),
    width=st.integers(min_value=0, max_value=50),
    fmin=st.integers(min_value=-100, max_value=100),
    fwidth=st.integers(min_value=0, max_value=50),
)
def test_zonemap_overlap_never_prunes_a_matching_file(lo, width, fmin, fwidth):
    """The pruning predicate keeps every file whose [min,max] intersects
    [lo,hi] — model the keep() logic directly against interval math."""
    hi, fmax = lo + width, fmin + fwidth
    intersects = not (fmax < lo or fmin > hi)
    # mirror of read_set_pruned.keep()
    keep = not (fmax < lo) and not (fmin > hi)
    assert keep == intersects


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.sets(
        st.tuples(
            st.integers(min_value=0, max_value=14),
            st.integers(min_value=0, max_value=14),
        ).map(lambda t: (min(t), max(t))).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=8),
)
def test_threshold_kernel_equals_wedge_join_on_random_graphs(spark, edges, k):
    """Dense (driver Fagin-threshold kernel) and sparse (wedge join)
    regimes give identical top-k common-neighbor pairs on random graphs."""
    from lachesis_spark.plans import graph_algos as G

    und = spark.createDataFrame(sorted(edges), "a long, b long").localCheckpoint(
        eager=True
    )
    dense = [
        (r["x"], r["y"], r["n_common"])
        for r in G.common_neighbor_pairs(und, k=k).collect()
    ]
    old = G.DENSE_BYTES_MAX
    try:
        G.DENSE_BYTES_MAX = 0  # force the wedge-join path
        sparse = [
            (r["x"], r["y"], r["n_common"])
            for r in G.common_neighbor_pairs(und, k=k).collect()
        ]
    finally:
        G.DENSE_BYTES_MAX = old
    assert dense == sparse


@settings(max_examples=60, deadline=None)
@given(
    changes=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),   # key
            st.integers(min_value=0, max_value=9),   # version
            st.sampled_from(["upsert", "delete"]),
            st.integers(min_value=0, max_value=99),  # payload
        ),
        min_size=1,
        max_size=20,
    ),
    base=st.dictionaries(
        st.integers(min_value=0, max_value=4),
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=99),
        ),
        max_size=5,
    ),
)
def test_cdc_model_idempotent_and_order_free(changes, base):
    """A pure-Python model of apply_cdc's semantics: batch winner =
    max (version, op, payload) struct; applies iff version strictly
    greater than stored.  Applying the same batch twice == once."""

    def apply(state, batch):
        win: dict = {}
        for key, ver, op, pay in batch:
            cand = (ver, op, pay)
            if key not in win or cand > win[key]:
                win[key] = cand
        out = dict(state)
        for key, (ver, op, pay) in win.items():
            if key in out and ver <= out[key][0]:
                continue
            if op == "delete":
                out.pop(key, None)
            else:
                out[key] = (ver, pay)
        return out

    once = apply(base, changes)
    twice = apply(once, changes)
    assert once == twice


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    names=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=10),
        min_size=2,
        max_size=25,
        unique=True,
    )
)
def test_fuzzy_join_qgram_filter_is_complete(spark, names):
    """The pigeonhole q-gram candidate filter misses NO pair within the
    edit-distance threshold — checked against brute force over random
    strings, including ones below the safe length (the cross-checked
    short path)."""
    from lachesis_spark.llm.dedup import FUZZY_D, fuzzy_value_pairs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    expect = {
        (a, b, lev(a, b))
        for i, a in enumerate(names)
        for b in names[i + 1 :]
        if lev(a, b) <= FUZZY_D
    }
    expect = {(min(a, b), max(a, b), d) for a, b, d in expect}
    values = spark.createDataFrame(
        [(n, 1) for n in names], "name string, cnt long"
    )
    got = {
        (r["name_a"], r["name_b"], r["dist"])
        for r in fuzzy_value_pairs(values).collect()
    }
    assert got == expect


# small word vocabulary → real shingle overlap between random docs, so the
# containment distribution spans (0, 1] and the threshold descent gets
# exercised at different termination rungs across examples
_doc_words = st.lists(
    st.sampled_from([f"w{i}" for i in range(12)]), min_size=3, max_size=12
)
_corpus = st.lists(_doc_words, min_size=2, max_size=7)


@settings(
    max_examples=6,  # each example is a full multi-pass Spark plan
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_corpus, k=st.integers(min_value=1, max_value=5))
def test_containment_prefix_topk_matches_python_model(spark, tmp_path_factory, docs, k):
    """The prefix-filter threshold-descent top-k (the registry's exact
    containment plan) against an independent plain-Python model: shingle
    sets, all directed containments |src∩dst|/|src|, sorted by
    (-containment, src, dst), first k.  Checks the EXACTNESS claim end to
    end — prefix bound, threshold-descent early exit, t=0 backstop, and
    tie-breaking — on corpora the authors never hand-picked."""
    from lachesis_spark.llm import dedup

    sf = str(tmp_path_factory.mktemp("contain"))
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(
        f"{sf}/documents.parquet"
    )

    def shingles(ws):
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {i: shingles(ws) for i, ws in enumerate(docs)}
    model = sorted(
        (
            (-len(sets[a] & sets[b]) / len(sets[a]), a, b)
            for a in sets
            for b in sets
            if a != b and sets[a] & sets[b]
        )
    )[:k]
    expected = [(a, b, -c) for c, a, b in model]

    got = [
        tuple(r)
        for r in dedup.containment_topk_prefix(spark, sf, k=k).collect()
    ]
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in expected]
    for (_, _, gc), (_, _, ec) in zip(got, expected):
        assert abs(gc - ec) < 1e-9


@SET
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), max_size=14),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=2, max_value=4),
)
def test_span_removal_matches_python_model(spark, docs, k):
    """dedup_span_removal (overlapping duplicated k-grams -> interval-merged
    removal -> in-order reassembly) equals a plain-Python model on random
    tiny-alphabet corpora — dense hash-free collisions exercise island
    merging, intra-doc repetition, full-doc removal, and short-doc
    exclusion in combinations the hand-written tests never enumerate."""
    import hashlib
    from collections import Counter

    from lachesis_spark.llm import dedup as DD

    texts = [" ".join(d) for d in docs]
    sdf = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    orig = DD._docs
    DD._docs = lambda spark, sf_dir, **kw: sdf
    try:
        got = {
            r["doc_id"]: (
                r["n_spans"],
                r["tokens_removed"],
                r["tokens_kept"],
                r["cleaned_md5"],
            )
            for r in DD.dedup_span_removal(spark, "ignored", k=k).collect()
        }
    finally:
        DD._docs = orig

    grams: Counter = Counter()
    for t in docs:
        for i in range(len(t) - k + 1):
            grams[" ".join(t[i : i + k])] += 1
    exp = {}
    for d, t in enumerate(docs):
        if len(t) < k:
            continue
        merged: list[list[int]] = []
        for i in range(len(t) - k + 1):
            if grams[" ".join(t[i : i + k])] > 1:
                s, e = i, i + k - 1
                if merged and s <= merged[-1][1] + 1:
                    merged[-1][1] = max(merged[-1][1], e)
                else:
                    merged.append([s, e])
        covered = {j for s, e in merged for j in range(s, e + 1)}
        kept = [tok for j, tok in enumerate(t) if j not in covered]
        exp[d] = (
            len(merged),
            len(covered),
            len(t) - len(covered),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    assert got == exp
