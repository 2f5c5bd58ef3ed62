"""Property-based tests (hypothesis) — the upgrade over the
reference's assertion-free smoke mains (SURVEY.md §5): distributed
operators must agree with single-threaded Python models on arbitrary
inputs, not just fixtures.

Each property materializes ONE Spark job per example; examples are
capped low because correctness here is about shapes (empty arrays,
duplicate keys, skewed groups, unicode), not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from algorithmproject_spark_spark.functions.text import ngrams
from algorithmproject_spark_spark.operators.core import zip_with_global_index
from algorithmproject_spark_spark.operators.skew import salted_collect_sorted_list

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

token = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=1,
    max_size=8,
)


@given(docs=st.lists(st.lists(token, max_size=12), min_size=1, max_size=8))
@SLOW
def test_ngrams_match_python_model(spark, docs):
    def model(toks, n):
        return [
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "i long, toks array<string>"
    )
    for n in (2, 3):
        got = {
            r.i: r.g
            for r in df.select("i", ngrams(F.col("toks"), n).alias("g")).collect()
        }
        assert got == {i: model(d, n) for i, d in enumerate(docs)}


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    )
)
@SLOW
def test_salted_collect_equals_naive(spark, rows):
    """Skewed-by-construction keys (only 3 distinct): the salted
    two-phase merge must equal the naive groupBy exactly."""
    df = spark.createDataFrame(rows, ["k", "v"]).repartition(5)
    naive = {
        r.k: r.vals
        for r in df.groupBy("k")
        .agg(F.array_sort(F.collect_list("v")).alias("vals"))
        .collect()
    }
    salted = {
        r.k: r.vals
        for r in salted_collect_sorted_list(df, "k", "v", buckets=4).collect()
    }
    assert salted == naive


@given(keys=st.sets(st.integers(-(10**6), 10**6), min_size=1, max_size=80))
@SLOW
def test_global_index_is_dense_rank(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(7)
    out = {r.k: r.idx for r in zip_with_global_index(df, "k", num_partitions=4).collect()}
    expected = {k: i for i, k in enumerate(sorted(keys))}
    assert out == expected


def test_jaccard_threshold_monotonicity(spark):
    """Raising the near-dup bar can only shrink the verified pair set,
    and therefore only grow the curation pipeline's surviving corpus."""
    from algorithmproject_spark_spark.plans.pipelines import curation_pipeline
    from algorithmproject_spark_spark.queries.dedup import jaccard_pairs_above

    sf = "/root/testdata/sf0.001"
    pair_sets = {}
    for t in (300_000, 500_000, 700_000):
        pair_sets[t] = {
            (r.doc_a, r.doc_b) for r in jaccard_pairs_above(spark, sf, t).collect()
        }
    assert pair_sets[700_000] <= pair_sets[500_000] <= pair_sets[300_000]

    kept = {t: curation_pipeline(spark, sf, near_dup_threshold_e6=t).count()
            for t in (300_000, 500_000, 700_000)}
    assert kept[300_000] <= kept[500_000] <= kept[700_000]


@given(
    phrases=st.lists(
        st.lists(token, min_size=1, max_size=3).map(" ".join),
        min_size=0,
        max_size=8,
    )
)
@SLOW
def test_longest_match_filter_matches_python_model(spark, phrases):
    from algorithmproject_spark_spark.functions.text import longest_match_filter

    def model(cands):
        a = list(dict.fromkeys(c for c in cands if c))
        return [
            w for w in a
            if not any(o != w and f" {w} " in f" {o} " for o in a)
        ]

    arr = F.array(*[F.lit(p) for p in phrases]).cast("array<string>")
    got = spark.range(1).select(longest_match_filter(arr).alias("k")).first()["k"]
    assert got == model(phrases)


def test_lloyd_kmeans_partition_invariant(spark):
    """Distributed-correctness property: integer Lloyd's must give
    bit-identical centroids no matter how the input is partitioned or
    ordered (per-round state is sums + counts — commutative exact
    integers; a float implementation would fail this)."""
    from algorithmproject_spark_spark.operators.annivf import lloyd_kmeans
    from algorithmproject_spark_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = lloyd_kmeans(emb)
    # adversarial layouts: single partition, many tiny partitions,
    # and a shuffled row order
    assert lloyd_kmeans(emb.coalesce(1)) == base
    assert lloyd_kmeans(emb.repartition(37)) == base
    assert lloyd_kmeans(emb.orderBy(F.desc("vec_id"))) == base


def test_adaptive_cc_partition_invariant(spark):
    from algorithmproject_spark_spark.operators.components import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(100, 101), (200, 201), (201, 202)],
        "doc_a long, doc_b long",
    )
    base = sorted((r.v, r.lbl) for r in connected_components(pairs).collect())
    got = sorted(
        (r.v, r.lbl)
        for r in connected_components(pairs.repartition(23)).collect()
    )
    assert got == base


def test_near_dup_twin_partition_invariant(spark):
    """The local-minima survivor rule is a pure function of the document
    SET — its survivor ids must not depend on data layout."""
    from algorithmproject_spark_spark.sources.catalog import load_table
    from algorithmproject_spark_spark.streaming.neardup import (
        doc_band_state,
        within_batch_drop_ids,
    )

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    a = {r.doc_id for r in within_batch_drop_ids(doc_band_state(docs)).collect()}
    b = {
        r.doc_id
        for r in within_batch_drop_ids(
            doc_band_state(docs.repartition(17).orderBy(F.desc("doc_id")))
        ).collect()
    }
    assert a == b


@given(
    docs=st.lists(st.lists(token, max_size=10), min_size=1, max_size=8),
    chunk_w=st.integers(1, 4),
)
@SLOW
def test_chunk_dedup_matches_python_model(spark, docs, chunk_w):
    from algorithmproject_spark_spark.queries.llmprep import chunk_dedup

    def model():
        chunked = {}
        for i, toks in enumerate(docs):
            n = max(1, -(-len(toks) // chunk_w))
            chunked[i] = [
                " ".join(toks[j * chunk_w : (j + 1) * chunk_w]) for j in range(n)
            ]
        df_count = {}
        for i, cs in chunked.items():
            for c in set(cs):
                df_count[c] = df_count.get(c, 0) + 1
        out = {}
        for i, cs in chunked.items():
            kept = [c for c in cs if df_count[c] < 2]
            out[i] = (len(cs), len(kept), " ".join(kept))
        return out

    df = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_kept, r.clean_text)
        for r in chunk_dedup(df, chunk_w=chunk_w).collect()
    }
    assert got == model()


@given(
    snap=st.dictionaries(st.integers(0, 20), st.integers(0, 99), max_size=12),
    changes=st.lists(
        st.tuples(
            st.integers(0, 20),                    # key
            st.sampled_from(["I", "U", "D"]),      # op
            st.integers(0, 99),                    # value
        ),
        max_size=15,
    ),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_cdc_apply_matches_python_fold(spark, snap, changes):
    """cdc_apply == the obvious sequential fold: apply changes in seq
    order to a dict (D deletes, I/U upsert)."""
    from pyspark.sql import Row

    from algorithmproject_spark_spark.operators.cdc import cdc_apply

    expected = dict(snap)
    for _, (k, op, v) in sorted(enumerate(changes), key=lambda t: t[0]):
        if op == "D":
            expected.pop(k, None)
        else:
            expected[k] = v

    snap_df = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in snap.items()] or [Row(k=0, v=0)]
    )
    if not snap:
        snap_df = snap_df.filter(F.lit(False))
    chg_df = spark.createDataFrame(
        [Row(k=k, op=op, v=v, seq=i) for i, (k, op, v) in enumerate(changes)]
        or [Row(k=0, op="U", v=0, seq=0)]
    )
    if not changes:
        chg_df = chg_df.filter(F.lit(False))
    got = {r.k: r.v for r in cdc_apply(snap_df, chg_df, "k").collect()}
    assert got == expected


@given(
    big=st.lists(st.tuples(st.integers(0, 5), st.integers(0, 99)), max_size=40),
    small=st.dictionaries(st.integers(0, 5), st.text("ab", max_size=2), max_size=6),
    how=st.sampled_from(["inner", "left"]),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_salted_join_equals_plain_join(spark, big, small, how):
    from pyspark.sql import Row

    from algorithmproject_spark_spark.operators.skew import salted_join

    big_df = spark.createDataFrame(
        [Row(k=k, v=v) for k, v in big] or [Row(k=0, v=0)]
    )
    if not big:
        big_df = big_df.filter(F.lit(False))
    small_df = spark.createDataFrame(
        [Row(k=k, name=n) for k, n in small.items()] or [Row(k=0, name="x")]
    )
    if not small:
        small_df = small_df.filter(F.lit(False))
    got = sorted(map(tuple, salted_join(big_df, small_df, "k", buckets=3, how=how).collect()))
    want = sorted(map(tuple, big_df.join(small_df, "k", how).collect()))
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=16,
    )
)
@SLOW
def test_morton_interleave_roundtrips_and_matches_python(spark, pairs):
    """The codegen'd Morton key must equal the Python reference
    interleave for arbitrary 16-bit inputs (bit-exactness of the
    shift-or-mask spread ladder; a on the even bits, b on the odd)."""
    from algorithmproject_spark_spark.operators.zorder import ss_zvalue16

    def py_morton(a: int, b: int) -> int:
        z = 0
        for i in range(16):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    df = spark.createDataFrame(pairs, ["a", "b"])
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a",
            "b",
            F.expr(ss_zvalue16("CAST(a AS BIGINT)", "CAST(b AS BIGINT)")).alias("z"),
        ).collect()
    }
    for a, b in pairs:
        assert got[(a, b)] == py_morton(a, b)


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=20),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=24,
    ),
    parts=st.sampled_from([1, 3, 7]),
)
@SLOW
def test_label_propagation_partition_invariant(spark, edges, parts):
    """LPA labels must not depend on the physical partitioning of the
    edge relation — the synchronous-update + min-tie-break contract."""
    from algorithmproject_spark_spark.operators.labelprop import (
        label_propagation,
    )

    pairs = [(min(a, b), max(a, b)) for a, b in edges]
    df1 = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    df2 = df1.repartition(parts)
    r1 = sorted(map(tuple, label_propagation(df1).collect()))
    r2 = sorted(map(tuple, label_propagation(df2).collect()))
    assert r1 == r2


@given(
    docs=st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=2, max_size=10),
        min_size=2,
        max_size=8,
    )
)
@SLOW
def test_bpe_merges_match_python_model(spark, docs):
    """The relational BPE loop must equal a sequential Python reference:
    same argmax pair (count desc, lexicographic ties) and same
    left-to-right a!=b merge, for 2 rounds on arbitrary corpora."""
    from collections import Counter

    from algorithmproject_spark_spark.queries.bpe import bpe_learn_merges

    def py_round(corpus):
        counts = Counter()
        for t in corpus:
            for x, y in zip(t, t[1:]):
                if x != y:
                    counts[(x, y)] += 1
        if not counts:
            return None, corpus
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out = []
        for t in corpus:
            nt, i = [], 0
            while i < len(t):
                if i + 1 < len(t) and (t[i], t[i + 1]) == best:
                    nt.append(f"{best[0]}_{best[1]}")
                    i += 2
                else:
                    nt.append(t[i])
                    i += 1
            out.append(nt)
        return best, out

    expected, corpus = [], docs
    for _ in range(2):
        best, corpus = py_round(corpus)
        if best is None:
            break
        expected.append(best)
    if not expected:
        return  # degenerate corpus (all-equal adjacent pairs)

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)], ["doc_id", "text"]
    )
    got = [
        (r["a"], r["b"])
        for r in bpe_learn_merges(df, rounds=len(expected))
        .orderBy("round")
        .collect()
    ]
    assert got == expected


url_path_chars = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")),
    min_size=0,
    max_size=10,
)


@given(
    host=st.text(alphabet="abcXYZ.", min_size=1, max_size=12),
    path=url_path_chars,
    params=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "utm_x", "ref", "zz"]),
            st.integers(0, 99),
        ),
        max_size=5,
    ),
    frag=st.booleans(),
)
@SLOW
def test_url_canonicalization_is_idempotent(spark, host, path, params, frag):
    """canon(canon(u)) == canon(u): the canonical form is a fixpoint."""
    from algorithmproject_spark_spark.queries.urls import canonicalize_url

    q = "&".join(f"{k}={v}" for k, v in params)
    url = f"http://{host}/{path}" + (f"?{q}" if q else "") + ("#f" if frag else "")
    df = spark.createDataFrame([(url,)], ["u"])
    once, twice = df.select(
        canonicalize_url(F.col("u")).alias("c1"),
    ).select(
        "c1",
        canonicalize_url(F.col("c1")).alias("c2"),
    ).collect()[0]
    assert once == twice


@given(
    texts=st.lists(
        st.lists(st.sampled_from("pqrs"), min_size=1, max_size=6).map(
            " ".join
        ),
        min_size=2,
        max_size=8,
    )
)
@SLOW
def test_itemset_support_monotonicity(spark, texts):
    """Raising the support bar can only shrink the pair set, and every
    surviving pair at the higher bar exists at the lower one."""
    from algorithmproject_spark_spark.queries.itemsets import (
        frequent_token_pairs,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    lo = {(r.tok_a, r.tok_b): r.support
          for r in frequent_token_pairs(docs, minsup_permille=250).collect()}
    hi = {(r.tok_a, r.tok_b): r.support
          for r in frequent_token_pairs(docs, minsup_permille=600).collect()}
    assert set(hi) <= set(lo)
    for p, s in hi.items():
        assert lo[p] == s


@given(
    texts=st.lists(
        st.lists(st.sampled_from(["t0", "t1", "t2", "t3"]), min_size=1,
                 max_size=30).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
@SLOW
def test_dup_span_coverage_bounded_by_doc_length(spark, texts):
    """dup_tokens ≤ n_tokens always; exact duplicate docs reach
    equality whenever they are long enough to contain a window."""
    from algorithmproject_spark_spark.queries.spandedup import dup_span_stats

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = dup_span_stats(docs, k=4).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert 0 <= r.dup_tokens <= r.n_tokens
        assert r.dup_permille == 1000 * r.dup_tokens // r.n_tokens


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(0, 1_000_000),  # proportion numerator scale
            st.integers(1, 9_000_000_000_000_000),
        ),
        min_size=1,
        max_size=20,
    )
)
@SLOW
def test_ppm_equals_unbounded_integer_math(spark, pairs):
    """ppm's two-step scaling must equal floor(c*1e6/n) computed with
    Python's unbounded ints, across its documented precondition
    (count <= total — ppm is a proportion; the hypothesis run that
    violated it found the q*1000 wrap now pinned in the docstring)."""
    from algorithmproject_spark_spark.functions.numeric import ss_ppm

    pairs = [(min(c, n), n) for c, n in pairs]
    df = spark.createDataFrame(pairs, ["c", "n"])
    got = [
        r.p for r in df.select(F.expr(ss_ppm("c", "n")).alias("p")).collect()
    ]
    want = [c * 1_000_000 // n for c, n in pairs]
    assert sorted(got) == sorted(want)


@given(
    pairs=st.lists(
        st.tuples(
            # RATIO numerator: may exceed the denominator by orders of
            # magnitude (tf vs df), up to the 100 TB token-count regime
            st.integers(0, 9_000_000_000_000_000),
            st.integers(1, 9_000_000_000_000_000),
        ),
        min_size=1,
        max_size=20,
    )
)
@SLOW
def test_ratio_e6_equals_unbounded_integer_math(spark, pairs):
    """ratio_e6's q/r + 1000×1000 split must equal floor(n*1e6/d) in
    Python's unbounded ints WITHOUT ppm's count ≤ total precondition —
    the burstiness tf/df overflow class (r9 advice). Spark and the
    DuckDB twin must agree with each other and with Python."""
    import duckdb

    from algorithmproject_spark_spark.functions.numeric import (
        sql_ratio_e6,
        ss_ratio_e6,
    )

    # keep the integer part under ratio_e6's documented ~9.2e12 bound
    pairs = [
        (n if n // d < 9_000_000_000_000 else n % d, d) for n, d in pairs
    ]
    df = spark.createDataFrame(pairs, ["n", "d"])
    got = [
        r.p
        for r in df.select(F.expr(ss_ratio_e6("n", "d")).alias("p")).collect()
    ]
    want = [n * 1_000_000 // d for n, d in pairs]
    assert sorted(got) == sorted(want)
    sql_got = [
        row[0]
        for row in duckdb.sql(
            "SELECT " + sql_ratio_e6("t.n", "t.d")
            + " FROM (SELECT unnest($n) AS n, unnest($d) AS d) t",
            params={"n": [n for n, _ in pairs], "d": [d for _, d in pairs]},
        ).fetchall()
    ]
    assert sorted(sql_got) == sorted(want)


@given(xs=st.lists(st.integers(0, 0xFFFF), min_size=1, max_size=30))
@SLOW
def test_spread_bits_is_injective_and_even_positioned(spark, xs):
    """ss_spread_bits16: bit i of x lands at bit 2i, nothing at odd
    positions, and the mapping is injective."""
    from algorithmproject_spark_spark.operators.zorder import ss_spread_bits16

    df = spark.createDataFrame([(x,) for x in set(xs)], ["x"])
    out = {r.x: r.s for r in
           df.select("x", F.expr(ss_spread_bits16("x")).alias("s")).collect()}
    for x, s in out.items():
        assert s == sum(((x >> i) & 1) << (2 * i) for i in range(16))
        assert s & 0xAAAAAAAA == 0  # odd bit positions empty
    assert len(set(out.values())) == len(out)


@given(
    keys=st.sets(st.integers(0, 10**9), min_size=1, max_size=60),
    probes=st.sets(st.integers(0, 10**9), min_size=1, max_size=60),
)
@SLOW
def test_bloom_no_false_negatives_property(spark, keys, probes):
    """For ANY key set and ANY probe set, every probe that IS in the
    key set must pass the Bloom prefilter."""
    from algorithmproject_spark_spark.operators.bloomjoin import bloom_prefilter

    big = spark.createDataFrame([(p,) for p in probes], ["k"])
    small = spark.createDataFrame([(k,) for k in keys], ["k"])
    passed = {r.k for r in bloom_prefilter(big, small, "k", "k").collect()}
    assert (probes & keys) <= passed


@given(
    seqs=st.lists(
        st.lists(st.sampled_from("ABCD"), min_size=1, max_size=10),
        min_size=1,
        max_size=5,
    )
)
@SLOW
def test_markov_batch_matches_python_model(spark, seqs):
    """transition_counts_batch == adjacent-pair counts of each user's
    (ts, event_id)-ordered sequence, for arbitrary type sequences."""
    import datetime as dt

    from algorithmproject_spark_spark.streaming.markov import (
        transition_counts_batch,
    )

    rows, expected = [], {}
    eid = 0
    for uid, seq in enumerate(seqs):
        for pos, typ in enumerate(seq):
            rows.append(
                (eid, dt.datetime(2024, 1, 1, 0, 0, pos), uid, typ)
            )
            eid += 1
        for src, dst in zip(seq, seq[1:]):
            expected[(uid, src, dst)] = expected.get((uid, src, dst), 0) + 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {
        (r.user_id, r.src, r.dst): r.cnt
        for r in transition_counts_batch(df).collect()
    }
    assert got == expected


@given(
    counts=st.lists(st.integers(1, 50), min_size=1, max_size=6)
)
@SLOW
def test_entropy_matches_integer_model(spark, counts, tmp_path_factory):
    """user_event_entropy == the exact micro-nat model: H_e6 =
    round(ln n · 1e6) − (Σ round(c·ln c·1e6)) // n, replicated in
    Python for one user with arbitrary per-type counts."""
    import datetime as dt
    import math

    from algorithmproject_spark_spark.queries.behavior import (
        user_event_entropy,
    )

    rows, eid = [], 0
    for t_idx, c in enumerate(counts):
        for _ in range(c):
            rows.append(
                (eid, dt.datetime(2024, 1, 1), 1, f"T{t_idx}", 1.0, "{}")
            )
            eid += 1
    sf = tmp_path_factory.mktemp("entropy")
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).write.mode("overwrite").parquet(str(sf / "events.parquet"))

    n = sum(counts)
    s = sum(math.floor(c * math.log(c) * 1e6 + 0.5) for c in counts)
    expect = math.floor(math.log(n) * 1e6 + 0.5) - s // n

    rows_out = user_event_entropy(spark, str(sf)).collect()
    assert [(r.user_id, r.n_events, r.n_types, r.entropy_e6) for r in rows_out] == [
        (1, n, len(counts), expect)
    ]


@given(
    items=st.sets(st.integers(1, 40), min_size=1, max_size=15),
    cap=st.integers(2, 10),
)
@SLOW
def test_basket_pairs_match_combinations(spark, items, cap):
    """capped_baskets + basket_pairs == itertools.combinations of the
    cap smallest items, for any basket and cap."""
    import itertools

    from algorithmproject_spark_spark.queries.reco import (
        basket_pairs,
        capped_baskets,
    )

    df = spark.createDataFrame(
        [(1, p) for p in items], "l_orderkey long, l_partkey long"
    )
    got = {
        (r.pi, r.pj)
        for r in basket_pairs(capped_baskets(df, cap=cap)).collect()
    }
    expect = set(itertools.combinations(sorted(items)[:cap], 2))
    assert got == expect
