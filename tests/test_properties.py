"""Property-based invariants (SURVEY.md §5.4) with hypothesis.

Each property runs one Spark job per generated example, so examples are
capped low; the point is shrinkable counterexamples on edge-shaped data
(empty strings, NaN, duplicates, unicode), not volume.
"""

import math
from unittest.mock import patch

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from sparkobs.operators.profile import duplicate_count, profile
from sparkobs.operators.text import text_stats
from sparkobs.operators.metrics import fanin_stats, to_metrics_long

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

floats = st.one_of(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.just(float("nan")),
    st.none(),
)


@given(xs=st.lists(floats, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_profile_invariants(spark, xs):
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    r = profile(df).collect()[0]
    n = len(xs)
    n_null = sum(1 for x in xs if x is None)
    assert r.n_rows == n
    assert r.n_nulls == n_null
    assert 0 <= r.n_distinct <= n - n_null
    non_null = [x for x in xs if x is not None and not math.isnan(x)]
    if non_null and not any(x is not None and math.isnan(x) for x in xs):
        assert r.min_val == min(non_null)
        assert r.max_val == max(non_null)
        # median is rounded to 4 digits (oracle parity), min/max are
        # exact data values — allow the rounding quantum
        assert r.min_val - 5e-5 <= r.median_val <= r.max_val + 5e-5


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 3)), min_size=1, max_size=20))
@settings(**SETTINGS)
def test_duplicate_count_identity(spark, rows):
    df = spark.createDataFrame(rows, "a int, b int")
    r = duplicate_count(df).collect()[0]
    assert r.dup_rows == len(rows) - len(set(rows))
    assert r.distinct_rows == len(set(rows))
    assert r.dup_rows + r.distinct_rows == len(rows)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("ab éü字 "),
            min_size=1,
            max_size=40,
        ).filter(lambda t: t.strip()),
        min_size=1,
        max_size=10,
    )
)
@settings(**SETTINGS)
def test_text_stats_invariants(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    for r in text_stats(df).collect():
        t = texts[r.doc_id]
        assert r.n_chars == len(t)
        assert 1 <= r.n_unique_tokens <= r.n_tokens


@given(vals=st.lists(st.floats(min_value=-1e4, max_value=1e4, allow_nan=False), min_size=1, max_size=20))
@settings(**SETTINGS)
def test_fanin_bounds(spark, vals):
    wide = spark.createDataFrame(
        [(str(i), v) for i, v in enumerate(vals)], "entity string, m double"
    )
    long = to_metrics_long(wide, "entity", ["m"])
    r = fanin_stats(long).collect()[0]
    assert r.n_entities == len(vals)
    assert r.min_value <= r.mean_value <= r.max_value


@given(
    texts=st.lists(
        st.text(alphabet=st.sampled_from("abc xy "), min_size=1, max_size=120)
        .filter(lambda t: t.strip()),
        min_size=1,
        max_size=6,
    ),
    chunk=st.integers(4, 12),
    overlap=st.integers(0, 3),
)
@settings(**SETTINGS)
def test_chunking_reconstructs_tokens(spark, texts, chunk, overlap):
    from sparkobs.operators.text import chunk_documents

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    out = chunk_documents(df, chunk_tokens=chunk, overlap=overlap)
    per_doc = {}
    for r in out.collect():
        per_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        toks = [x for x in __import__("re").split(r"\s+", t) if x != ""] or [""]
        chunks = sorted(per_doc[i], key=lambda r: r.chunk_idx)
        # chunk indices are dense from 0
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        # dropping the overlap prefix of every non-first chunk and
        # concatenating reconstructs the token stream exactly
        rebuilt = []
        for j, c in enumerate(chunks):
            ctoks = c.chunk_text.split(" ") if c.chunk_text else []
            rebuilt.extend(ctoks if j == 0 else ctoks[overlap:])
        assert rebuilt == toks, (t, [c.chunk_text for c in chunks])
        # every chunk respects the size bound and n_tokens accounting
        for c in chunks:
            assert 1 <= c.n_tokens <= chunk


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=15,
    )
)
@settings(**SETTINGS)
def test_connected_components_match_union_find(spark, edges):
    from sparkobs.operators import dedup

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a bigint, id_b bigint"
    )
    # a cap of 0 forces the distributed loop — the union-find below IS
    # the fast path's algorithm, so only the loop needs the property
    # check
    with patch.object(dedup, "UNION_FIND_MAX_EDGES", 0):
        got = {
            r.node: r.component
            for r in dedup.connected_components(df).collect()
        }

    # reference union-find
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}
    assert got == want


@given(
    keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=60),
    one_in=st.integers(1, 7),
    parts=st.integers(1, 6),
)
@settings(**SETTINGS)
def test_hash_sample_partitioning_invariant(spark, keys, one_in, parts):
    # the selection must be a pure function of the key — identical under
    # any partitioning/row order (Dataset.sample is NOT; this is the
    # property that makes the sample reproducible on a cluster)
    from sparkobs.operators.sampling import hash_sample

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    a = sorted(r.k for r in hash_sample(df, "k", one_in).collect())
    b = sorted(
        r.k for r in hash_sample(df.repartition(parts), "k", one_in).collect()
    )
    assert a == b
    # rate sanity: one_in=1 keeps everything
    if one_in == 1:
        assert a == sorted(keys)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Nd", "Zs")),
            max_size=80,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_pii_scrub_idempotent(spark, texts):
    # scrubbing already-scrubbed text must change nothing: placeholders
    # contain no digits or @, so no pattern can re-fire
    from sparkobs.operators.text import pii_scrub

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    once = pii_scrub(df)
    twice = pii_scrub(
        once.select("doc_id", F.col("scrubbed_text").alias("text"))
    )
    a = {r.doc_id: r.scrubbed_text for r in once.collect()}
    b = {r.doc_id: r.scrubbed_text for r in twice.collect()}
    assert a == b
    for r in twice.collect():
        assert r.n_email == 0 or "<EMAIL>" not in a[r.doc_id]


def test_split_assign_partition_invariant_and_exhaustive(spark):
    """Every row gets exactly one split; the assignment is identical
    under different partitionings; weights are roughly honored."""
    from sparkobs.operators.sampling import split_assign

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k: r.split for r in split_assign(df, "k").collect()}
    b = {r.k: r.split for r in split_assign(df.repartition(13), "k").collect()}
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}
    n_train = sum(1 for v in a.values() if v == "train")
    assert n_train > 1800  # ~98% of 2000, loose bound


@given(
    seen=st.sets(st.text(min_size=1, max_size=8), min_size=1, max_size=20),
    probe=st.sets(st.text(min_size=1, max_size=8), min_size=1, max_size=20),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative(spark, seen, probe):
    from sparkobs.operators.dedup import bloom_build, bloom_probe

    sdf = spark.createDataFrame([(k,) for k in sorted(seen)], "k string")
    pdf = spark.createDataFrame(
        [(i, k) for i, k in enumerate(sorted(probe))], "doc_id long, k string"
    )
    bloom = bloom_build(sdf, "k")
    out = {r["doc_id"]: r["maybe_seen"] for r in bloom_probe(pdf, bloom, "k").collect()}
    for i, k in enumerate(sorted(probe)):
        if k in seen:
            assert out[i], f"false negative for {k!r}"


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=1, max_size=20), min_size=1, max_size=6
    )
)
@settings(**SETTINGS)
def test_bpe_compression_monotone_in_merges(spark, texts):
    from sparkobs.operators.bpe import bpe_apply, bpe_train

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    if all(not t.strip() for t in texts):
        return
    merges = [
        (r["lhs"], r["rhs"])
        for r in bpe_train(df, n_merges=3).orderBy("step").collect()
    ]
    prev = None
    for k in range(len(merges) + 1):
        total = (
            bpe_apply(df, merges[:k])
            .agg(F.sum("n_bpe_tokens").alias("t"))
            .collect()[0]["t"]
        )
        if prev is not None:
            assert total <= prev, "more merges must never grow token count"
        prev = total


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 10_000)),
        min_size=1,
        max_size=20,
        unique_by=lambda r: r,
    ),
    parts=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_sessionize_partition_and_order_invariant(spark, rows, parts):
    import datetime

    from sparkobs.operators.behavior import session_stats

    base = datetime.datetime(2024, 1, 1)
    data = [
        (k, i, base + datetime.timedelta(seconds=s))
        for i, (k, s) in enumerate(rows)
    ]
    df = spark.createDataFrame(data, "user_id long, event_id long, ts timestamp")
    a = sorted(map(tuple, session_stats(df, gap_seconds=600).collect()))
    b = sorted(
        map(
            tuple,
            session_stats(df.repartition(parts).orderBy(F.desc("event_id")), gap_seconds=600).collect(),
        )
    )
    assert a == b


@given(
    weights=st.dictionaries(
        st.sampled_from(["s0", "s1", "s2"]),
        st.floats(min_value=0, max_value=3, allow_nan=False),
        max_size=3,
    )
)
@settings(**SETTINGS)
def test_upsample_mixture_counts_exact(spark, weights):
    import hashlib

    from sparkobs.operators.sampling import upsample_mixture

    rows = [(i, f"s{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = upsample_mixture(df, weights, salt="mix").groupBy("doc_id").count().collect()
    got = {r["doc_id"]: r["count"] for r in out}
    import math

    for i, src in rows:
        w = weights.get(src, 1.0)
        # Spark's F.round is HALF_UP; Python round() is half-even —
        # emulate HALF_UP so .5 fraction boundaries can't flake
        frac_sel = int(
            int(hashlib.md5(f"mix{i}".encode()).hexdigest()[:15], 16) % 10**17 % 10000
            < math.floor((w - math.floor(w)) * 10000 + 0.5)
        )
        expect = math.floor(w) + frac_sel
        assert got.get(i, 0) == expect, (i, src, w)


@given(
    keys=st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1,
        max_size=80,
    ),
    k=st.integers(2, 6),
    parts=st.integers(1, 7),
)
@settings(**SETTINGS)
def test_heavy_hitters_exact_under_any_partitioning(spark, keys, k, parts):
    """The Misra-Gries candidate pass must never lose a true heavy
    hitter (count·k > n) and the recount must produce EXACTLY the
    plain frequency-filter answer, for any data skew and any
    partition layout."""
    from collections import Counter

    from sparkobs.operators.profile import heavy_hitters

    df = spark.createDataFrame([(x,) for x in keys], "tok string").repartition(
        parts
    )
    got = {r["tok"]: r["cnt"] for r in heavy_hitters(df, "tok", k=k).collect()}
    n = len(keys)
    want = {key: c for key, c in Counter(keys).items() if c * k > n}
    assert got == want


@given(
    base=st.lists(
        st.tuples(st.sampled_from("abc"), st.floats(-100, 100, allow_nan=False)),
        min_size=0,
        max_size=12,
    ),
    ops=st.lists(
        st.tuples(
            st.sampled_from("abcd"),
            st.sampled_from(["insert", "delete", "update"]),
            st.floats(-100, 100, allow_nan=False),
        ),
        min_size=0,
        max_size=8,
    ),
)
@settings(**SETTINGS)
def test_cdc_agg_maintain_equals_recompute(spark, base, ops):
    """Maintained aggregate == recompute over the post-change table,
    for ANY base and ANY applicable change batch (deletes/updates only
    target rows that exist; inserts are unrestricted)."""
    from sparkobs.operators.state import cdc_agg_maintain

    state = list(base)  # the true post-change table, maintained in python
    changes = []
    for g, op, v in ops:
        rows_g = [x for x in state if x[0] == g]
        if op == "insert":
            changes.append((g, "insert", v, None))
            state.append((g, v))
        elif op == "delete" and rows_g:
            old = rows_g[0]
            changes.append((g, "delete", old[1], None))
            state.remove(old)
        elif op == "update" and rows_g:
            old = rows_g[0]
            changes.append((g, "update", v, old[1]))
            state.remove(old)
            state.append((g, v))
    base_agg = (
        spark.createDataFrame(base or [("zz", 0.0)], "g string, value double")
        .where(F.lit(bool(base)))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
    )
    ch = spark.createDataFrame(
        changes or [("zz", "insert", 0.0, None)],
        "g string, op string, value double, __old_value double",
    ).where(F.lit(bool(changes)))
    got = {
        r["g"]: (r["n_rows"], r["sum_value"])
        for r in cdc_agg_maintain(base_agg, ch, ["g"]).collect()
    }
    want = {}
    for g, v in state:
        n, s = want.get(g, (0, 0.0))
        want[g] = (n + 1, s + v)
    want = {g: (n, round(s, 2)) for g, (n, s) in want.items() if n > 0}
    assert set(got) == set(want)
    for g in want:
        assert got[g][0] == want[g][0]
        assert abs(got[g][1] - want[g][1]) < 1e-6


@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=0, max_size=24), min_size=1, max_size=6
    )
)
@settings(**SETTINGS)
def test_token_entropy_bounds(spark, texts):
    """0 <= H <= log2(n_unique) for every document; single-token docs
    have H == 0; docs with no tokens produce no row."""
    from sparkobs.operators.text import token_entropy

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = token_entropy(df).collect()
    ids_with_tokens = {i for i, t in enumerate(texts) if t.split()}
    assert {r["doc_id"] for r in rows} == ids_with_tokens
    for r in rows:
        assert -5e-5 <= r["entropy_bits"] <= math.log2(max(r["n_unique_tokens"], 1)) + 5e-5
        if r["n_unique_tokens"] == 1:
            assert r["entropy_bits"] == 0.0


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=-400, max_value=400).map(lambda i: i / 4.0),
            st.integers(min_value=-400, max_value=400).map(lambda i: i / 4.0),
        ),
        min_size=3,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_spearman_invariant_under_monotone_transforms(spark, pairs):
    """Spearman depends only on RANKS: applying strictly increasing
    transforms to either column must leave rho unchanged (exactly —
    the ranks are identical integers/halves, so the sufficient sums
    are bit-identical). Inputs come from a quarter-integer grid so the
    float transforms stay injective — with arbitrary doubles, exp() of
    a subnormal collapses distinct values to 1.0 and manufactures
    ties, which changes ranks legitimately (a test artifact, not an
    operator property)."""
    from sparkobs.operators.profile import spearman_corr

    df = spark.createDataFrame(pairs, "a double, b double")
    base = spearman_corr(df, "a", "b").collect()[0]["rho"]
    warped = df.selectExpr(
        "CAST(a * 3.0 + 17.0 AS DOUBLE) AS a",      # affine, increasing
        "CAST(exp(b / 50.0) AS DOUBLE) AS b",       # nonlinear, increasing
    )
    assert spearman_corr(warped, "a", "b").collect()[0]["rho"] == base


@given(
    hours=st.lists(st.integers(min_value=0, max_value=23), min_size=2, max_size=20),
    k=st.integers(min_value=2, max_value=4),
)
@settings(**SETTINGS)
def test_acf1_invariant_under_uniform_volume_scaling(spark, hours, k):
    """Correlation is scale-invariant: replicating every event k times
    multiplies every bucket count by exactly k and must leave the
    lag-1 autocorrelation unchanged (the sufficient sums scale by k²
    in numerator and denominator alike — exact integer arithmetic)."""
    from datetime import datetime

    from sparkobs.operators.state import acf_lag1

    rows = [("a", i, datetime(2024, 1, 1, h, 0, 0)) for i, h in enumerate(hours)]
    df = spark.createDataFrame(rows, "event_type string, i long, ts timestamp")
    base = acf_lag1(df, ["event_type"], "ts").collect()[0]
    scaled_rows = [
        ("a", i * k + j, datetime(2024, 1, 1, h, 0, 0))
        for i, h in enumerate(hours)
        for j in range(k)
    ]
    scaled = spark.createDataFrame(
        scaled_rows, "event_type string, i long, ts timestamp"
    )
    got = acf_lag1(scaled, ["event_type"], "ts").collect()[0]
    assert got["acf1"] == base["acf1"]
    assert got["n_buckets"] == base["n_buckets"]


@given(
    vals=st.lists(
        st.floats(min_value=0.01, max_value=1e6, allow_nan=False),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_benford_shares_sum_to_one(spark, vals):
    """Observed shares over the emitted digits must total 1 (every
    kept value lands in exactly one digit bucket) and every digit is
    1..9."""
    from sparkobs.operators.profile import benford_screen

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = benford_screen(df, "x").collect()
    assert all(1 <= r["digit"] <= 9 for r in rows)
    assert sum(r["n_values"] for r in rows) == len(vals)
    assert abs(sum(r["obs_share"] for r in rows) - 1.0) < 1e-3


@given(
    vecs=st.lists(
        st.lists(
            st.floats(min_value=-0.6, max_value=0.6, allow_nan=False),
            min_size=4,
            max_size=4,
        ),
        min_size=6,
        max_size=24,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**SETTINGS)
def test_kmeans_is_exactly_row_order_invariant(spark, vecs, seed):
    """The fixed-point claim, as a property: the fit's trajectory is a
    pure function of the (id, vector) SET — permuting and
    repartitioning the input must reproduce every output bit (no
    float summation-order dependence anywhere)."""
    import random

    from sparkobs.operators.cluster import kmeans_fit

    rows = [(i, v) for i, v in enumerate(vecs)]
    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    a = kmeans_fit(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>"),
        k=3,
        iters=2,
    ).collect()
    b = kmeans_fit(
        spark.createDataFrame(
            shuffled, "vec_id long, embedding array<double>"
        ).repartition(7),
        k=3,
        iters=2,
    ).collect()
    key = lambda r: r["cluster"]  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: t[0]) == sorted(
        map(tuple, b), key=lambda t: t[0]
    )


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**SETTINGS)
def test_pagerank_is_exactly_edge_order_invariant(spark, edges, seed):
    """Integer micro-unit ranks are a pure function of the edge SET:
    shuffled, duplicated, repartitioned edge lists reproduce every
    rank bit (the kernel dedups and all sums are integer)."""
    import random

    from sparkobs.operators.graph import pagerank_fixed

    sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    shuffled = sym + sym[: len(sym) // 2]  # duplicates must not matter
    random.Random(seed).shuffle(shuffled)
    a = pagerank_fixed(
        spark.createDataFrame(sym, "src long, dst long"), iters=2
    ).collect()
    b = pagerank_fixed(
        spark.createDataFrame(shuffled, "src long, dst long").repartition(5),
        iters=2,
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=100_000),
        ),
        min_size=4,
        max_size=40,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**SETTINGS)
def test_ols_is_exactly_row_order_invariant(spark, rows, seed):
    """Exact integer sufficient statistics make the closed form a pure
    function of the row MULTISET — shuffling and repartitioning must
    reproduce every coefficient bit."""
    import random

    from sparkobs.operators.features import ols_two_features

    shuffled = rows[:]
    random.Random(seed).shuffle(shuffled)
    a = ols_two_features(
        spark.createDataFrame(rows, "x1 long, x2 long, y long"), "x1", "x2", "y"
    ).collect()
    b = ols_two_features(
        spark.createDataFrame(shuffled, "x1 long, x2 long, y long").repartition(5),
        "x1",
        "x2",
        "y",
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@given(
    durs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1,
        max_size=40,
    ),
    seed=st.integers(min_value=0, max_value=10_000),
)
@settings(**SETTINGS)
def test_km_survival_monotone_and_order_invariant(spark, durs, seed):
    """Survival curves never increase with time, live in [0, 1], and
    are pure functions of the duration multiset (integer-quantized
    log-space sums have no summation-order dependence)."""
    import random

    from sparkobs.operators.behavior import km_survival

    shuffled = durs[:]
    random.Random(seed).shuffle(shuffled)
    a = km_survival(
        spark.createDataFrame(durs, "duration long, observed long")
    ).orderBy("duration").collect()
    b = km_survival(
        spark.createDataFrame(shuffled, "duration long, observed long").repartition(3)
    ).orderBy("duration").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    surv = [r["survival"] for r in a]
    assert all(0.0 <= s <= 1.0 for s in surv)
    assert all(x >= y for x, y in zip(surv, surv[1:]))


@given(
    durs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=1,
        max_size=40,
    ),
    grid=st.integers(min_value=1, max_value=25),
)
@settings(**SETTINGS)
def test_km_duration_grid_equals_upstream_prequantization(spark, durs, grid):
    """The r14 `duration_grid` parameter is definitionally the same
    curve as quantizing durations UPSTREAM and running the plain
    estimator — the property that makes the staged
    `km_survival_quantized_events` twin's semantics a theorem rather
    than a corpus fact: snap-inside ≡ snap-before, for any grid and
    any duration multiset."""
    from pyspark.sql import functions as F

    from sparkobs.operators.behavior import km_survival

    df = spark.createDataFrame(durs, "duration long, observed long")
    inside = km_survival(df, duration_grid=grid).orderBy("duration").collect()
    pre = km_survival(
        df.withColumn(
            "duration", F.expr(f"duration div {grid}") * F.lit(grid)
        )
    ).orderBy("duration").collect()
    assert [tuple(r) for r in inside] == [tuple(r) for r in pre]


@given(
    edges=st.lists(
        st.tuples(st.integers(1, 8), st.integers(1, 8)), max_size=16
    )
)
@settings(**SETTINGS)
def test_triangle_census_matches_brute_force(spark, edges):
    from itertools import combinations

    from sparkobs.operators import graph

    und = sorted({(min(a, b), max(a, b)) for a, b in edges if a != b})
    if not und:
        return
    df = spark.createDataFrame(und, "u bigint, v bigint")
    row = graph.triangle_stats(df).collect()[0]
    # the distributed tier must agree with the dense tier exactly
    with patch.object(graph, "DENSE_TRI_MAX_NODES", 0):
        dist = graph.triangle_stats(df).collect()[0]
    assert tuple(dist) == tuple(row)
    eset = set(und)
    nodes = sorted({n for e in und for n in e})
    tris = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if (x, y) in eset and (y, z) in eset and (x, z) in eset
    )
    deg = {n: 0 for n in nodes}
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    assert row["n_triangles"] == tris
    assert row["n_edges"] == len(und)
    assert row["n_nodes"] == len(nodes)
    assert row["n_wedges"] == sum(d * (d - 1) // 2 for d in deg.values())


@given(
    base=st.lists(st.tuples(st.integers(1, 6), st.integers(0, 9)), max_size=10),
    upd=st.lists(st.tuples(st.integers(1, 9), st.integers(0, 9)), max_size=6),
)
@settings(**SETTINGS)
def test_merge_upsert_is_idempotent_and_key_unique(spark, base, upd):
    from sparkobs.operators.state import merge_upsert

    base = list({k: v for k, v in base}.items())
    upd = list({k: v for k, v in upd}.items())
    if not base and not upd:
        return
    b = spark.createDataFrame(base or [(0, 0)], "k bigint, v int")
    if not base:
        b = b.where(F.lit(False))
    u = spark.createDataFrame(upd or [(0, 0)], "k bigint, v int")
    if not upd:
        u = u.where(F.lit(False))
    once = merge_upsert(b, u, ["k"])
    twice = merge_upsert(once, u, ["k"])
    r1 = sorted((r["k"], r["v"]) for r in once.collect())
    r2 = sorted((r["k"], r["v"]) for r in twice.collect())
    assert r1 == r2  # applying the same batch again changes nothing
    expect = dict(base)
    expect.update(dict(upd))
    assert r1 == sorted(expect.items())  # updates win, keys unique


# --- r8: sketch merge laws (KMV quantiles, theta set algebra) ---

_ids_vals = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10_000),
        st.one_of(
            st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
            st.none(),
        ),
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@given(rows=_ids_vals, cut=st.integers(min_value=0, max_value=60), k=st.sampled_from([4, 16, 64]))
@settings(**SETTINGS)
def test_kmv_merge_law(spark, rows, cut, k):
    """bottom-k(A ∪ B) == bottom-k(bottom-k(A) ∪ bottom-k(B)) for any
    split point, any k — the exactness that makes per-partition
    sub-sketches certifiable; null values are excluded identically on
    every path."""
    from sparkobs.operators.profile import kmv_quantile_merge, kmv_quantile_sketch

    cut = min(cut, len(rows))
    mk = lambda rs: spark.createDataFrame(rs, "id long, v double")  # noqa: E731
    direct = kmv_quantile_sketch(mk(rows), "id", "v", k=k, salt="p")
    merged = kmv_quantile_merge(
        [
            kmv_quantile_sketch(mk(rows[:cut]) if cut else mk(rows).limit(0), "id", "v", k=k, salt="p"),
            kmv_quantile_sketch(mk(rows[cut:]) if cut < len(rows) else mk(rows).limit(0), "id", "v", k=k, salt="p"),
        ],
        k=k,
    )
    assert sorted(map(tuple, direct.collect())) == sorted(map(tuple, merged.collect()))


_strs = st.lists(
    st.text(alphabet="abcxyz0189 ._", min_size=0, max_size=6),
    min_size=0,
    max_size=40,
)


@given(xs=_strs, ys=_strs, k=st.sampled_from([8, 32, 1000]))
@settings(**SETTINGS)
def test_theta_laws(spark, xs, ys, k):
    """Theta sketches: duplicate-invariance (value semantics), merge
    law over distinct-hash unions, and exactness of intersection
    whenever BOTH sketches are under-full."""
    from sparkobs.operators.profile import (
        theta_estimate,
        theta_intersect_estimate,
        theta_sketch,
    )

    mk = lambda vs: spark.createDataFrame(  # noqa: E731
        [(v,) for v in vs], "c string"
    ) if vs else spark.createDataFrame([], "c string")
    ska = theta_sketch(mk(xs), "c", k=k, salt="p")
    # duplicate invariance
    ska_dup = theta_sketch(mk(xs + xs), "c", k=k, salt="p")
    assert sorted(r["h"] for r in ska.collect()) == sorted(
        r["h"] for r in ska_dup.collect()
    )
    skb = theta_sketch(mk(ys), "c", k=k, salt="p")
    r = theta_intersect_estimate(ska, skb, k).collect()
    assert len(r) == 1
    both_underfull = len(set(xs)) < k and len(set(ys)) < k
    if both_underfull:
        assert r[0]["est_intersect"] == float(len(set(xs) & set(ys)))
        ea = theta_estimate(ska, k).collect()[0]["est_distinct"]
        assert ea == float(len(set(xs)))


# --- r8: AVI container writer/parser laws ---


@given(
    width=st.integers(min_value=1, max_value=40),
    height=st.integers(min_value=1, max_value=5),
    n_frames=st.integers(min_value=0, max_value=6),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(**{**SETTINGS, "max_examples": 60})  # pure-python, no Spark job
def test_avi_roundtrip_any_geometry(width, height, n_frames, seed):
    """Writer → parser round-trips every geometry: frames come back
    top-down with stride padding stripped, whatever the width's
    4-byte alignment."""
    import random

    from sparkobs.operators.multimodal import _avi_bytes, _parse_avi_frames

    rng = random.Random(seed)
    frames = [
        bytes(rng.randrange(256) for _ in range(width * height))
        for _ in range(n_frames)
    ]
    parsed = _parse_avi_frames(_avi_bytes(frames, width, height))
    assert parsed is not None
    w, out = parsed
    assert w == width and len(out) == n_frames
    for f, px in zip(frames, out):
        assert px == list(f)


@given(data=st.binary(min_size=0, max_size=400))
@settings(**{**SETTINGS, "max_examples": 120})  # pure-python, no Spark job
def test_avi_parser_never_raises_on_garbage(data):
    """Adversarial bytes (including RIFF-prefixed garbage) must yield
    None or a well-formed parse, never an exception — a corrupt file
    cannot kill a 100 TB decode stage."""
    from sparkobs.operators.multimodal import _parse_avi_frames

    for payload in (data, b"RIFF" + data, b"RIFF\x00\x01\x00\x00AVI " + data):
        r = _parse_avi_frames(payload)
        assert r is None or (
            isinstance(r[0], int) and isinstance(r[1], list)
        )


def test_avi_parser_survives_pathological_list_nesting():
    """A crafted file nesting LIST headers ~12 bytes per level used to
    exhaust the Python recursion limit (r8 ADVICE — the 400-byte
    garbage fuzz above can't nest past ~33 levels); the iterative
    walker must parse 100k levels without raising and still decode a
    frame planted at the bottom."""
    import struct

    from sparkobs.operators.multimodal import _parse_avi_frames

    depth = 100_000
    # innermost: a real strf (8-bit, 1x1) + one 00db frame (stride 4)
    strf = b"strf" + struct.pack("<I", 40) + struct.pack(
        "<IiiHH", 40, 1, 1, 1, 8
    ) + bytes(24)
    frame = b"00db" + struct.pack("<I", 4) + bytes([7, 0, 0, 0])
    body = strf + frame
    for _ in range(depth):
        body = b"LIST" + struct.pack("<I", len(body) + 4) + b"x   " + body
    payload = b"RIFF" + struct.pack("<I", len(body) + 4) + b"AVI " + body
    parsed = _parse_avi_frames(payload)
    assert parsed == (1, [[7]])


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.integers(0, 50), st.none()),  # sampling key
            st.sampled_from(["a", "b"]),  # group
            st.one_of(  # value: 2-decimal money, nullable
                st.integers(-10**6, 10**6).map(lambda c: c / 100.0), st.none()
            ),
        ),
        min_size=1,
        max_size=40,
    ),
    one_in=st.sampled_from([1, 3, 10]),
)
@settings(**SETTINGS)
def test_sampled_agg_ci_invariants(spark, rows, one_in):
    """Pin the estimator contract on edge-shaped data: NULL keys drop,
    NULL values skip the sum but count as rows, est_count is exactly
    n_sample·one_in, and one_in=1 reproduces the exact aggregate with
    zero-width intervals."""
    import hashlib

    from sparkobs.operators.sampling import sampled_agg_ci

    df = spark.createDataFrame(rows, "k bigint, g string, v double")
    out = {r["g"]: r for r in sampled_agg_ci(df, "k", ["g"], "v", one_in=one_in).collect()}

    def kept(k):
        return k is not None and int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % one_in == 0

    expect = {}
    for k, g, v in rows:
        if kept(k):
            n, s, nv = expect.get(g, (0, 0.0, 0))
            expect[g] = (
                n + 1,
                s + (v if v is not None else 0.0),
                nv + (v is not None),
            )
    assert set(out) == set(expect)
    for g, (n, s, n_nonnull) in expect.items():
        r = out[g]
        assert r["n_sample"] == n
        assert r["est_count"] == n * one_in
        if n_nonnull == 0:
            # SQL SUM over zero non-null values: no sum estimate —
            # NULL on Spark AND the DuckDB oracle alike
            assert r["est_sum"] is None and r["ci95_sum"] is None
            continue
        assert abs(r["est_sum"] - s * one_in) < 0.011 * one_in
        if one_in == 1:
            assert r["ci95_count"] == 0.0 and r["ci95_sum"] == 0.0
        else:
            assert r["ci95_count"] >= 0.0 and r["ci95_sum"] >= 0.0


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 10), st.integers(0, 10), st.integers(1, 5)).filter(
            lambda e: e[0] != e[1]
        ),
        min_size=1,
        max_size=25,
    ),
    weighted=st.booleans(),
    tele_nodes=st.one_of(st.none(), st.sets(st.integers(0, 10), min_size=1, max_size=4)),
)
@settings(**SETTINGS)
def test_pagerank_dense_and_distributed_tiers_agree(spark, edges, weighted, tele_nodes):
    """The r10 dense tier (numpy int64 supersteps over a bounded edge
    collect) must reproduce the distributed fixed-point loop BIT FOR
    BIT — same UNIT div nn init, (r·w) div od shares, 85/100 damping —
    across unweighted/weighted and global/personalized variants."""
    from sparkobs.operators import graph

    sym = {}
    for a, b, w in edges:
        sym[(a, b)] = w
        sym[(b, a)] = w
    rows = [(a, b, w) for (a, b), w in sym.items()]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    tele = (
        spark.createDataFrame([(n,) for n in tele_nodes], "node long")
        if tele_nodes is not None
        else None
    )
    kw = dict(weight_col="w" if weighted else None, teleport=tele, iters=3)
    dense = graph.pagerank_fixed(df, **kw).collect()
    with patch.object(graph, "DENSE_PR_MAX_EDGES", 0):
        dist = graph.pagerank_fixed(df, **kw).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)), max_size=24
    ),
    node_ids=st.lists(st.integers(0, 12), max_size=10),
    rounds=st.integers(0, 3),
)
@settings(**SETTINGS)
def test_min_label_components_tiers_agree(spark, edges, node_ids, rounds):
    """The r11 dense tier (numpy sentinel-min supersteps over one
    bounded collect) must reproduce the distributed fixed-round loop
    BIT FOR BIT — including UNCONVERGED intermediate labelings (low
    rounds vs long chains), edge endpoints missing from the node
    table (no label until first reached as a dst, no self-loop ever),
    asymmetric contract-violating edge lists, isolated nodes, and
    DUPLICATED node rows (node_ids is a list, not a set — the r11
    review found the rounds=0 distributed path returned duplicates
    verbatim while the dense tier deduped via np.unique)."""
    from sparkobs.operators import graph

    nodes = spark.createDataFrame(
        [(n,) for n in node_ids], "node long"
    )
    e = spark.createDataFrame(edges, "src long, dst long")
    dense = graph.min_label_components(nodes, e, rounds=rounds).collect()
    with patch.object(graph, "DENSE_PR_MAX_EDGES", 0):
        dist = graph.min_label_components(nodes, e, rounds=rounds).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))


csv_safe_text = st.text(
    alphabet=st.one_of(
        st.characters(
            whitelist_categories=("Ll", "Lu", "Nd", "Po", "Zs", "Lo", "Sm")
        ),
        st.sampled_from(list(',"\'\\\t;|')),
    ),
    max_size=24,
).filter(lambda s: "\n" not in s and "\r" not in s)


@given(
    rows=st.lists(
        st.one_of(st.none(), csv_safe_text), min_size=1, max_size=12
    ),
    fmt=st.sampled_from(["csv", "json", "orc"]),
)
@settings(**SETTINGS)
def test_file_connectors_roundtrip_exactly(spark, tmp_path_factory, rows, fmt):
    """The r10 lossless CSV contract, pinned: NULL vs empty string stay
    distinct, outer whitespace survives, quotes/commas/tabs/backslashes
    and a literal '\\N' string all round-trip byte-exact (embedded
    newlines excluded — that's the documented multiLine tradeoff).
    JSONL is held to the same property."""
    from sparkobs.sources.files import read_csv, read_jsonl, write_format

    d = str(tmp_path_factory.mktemp("rt")) + "/data"
    df = spark.createDataFrame(
        list(enumerate(rows)), "id bigint, s string"
    )
    write_format(df, d, fmt, n_files=1, **({"header": True} if fmt == "csv" else {}))
    if fmt == "csv":
        back = read_csv(spark, d, "id bigint, s string")
    elif fmt == "json":
        back = read_jsonl(spark, d, "id bigint, s string")
    else:
        from sparkobs.sources.files import read_orc

        back = read_orc(spark, d)
    got = {r.id: r.s for r in back.collect()}
    assert got == dict(enumerate(rows))


@given(
    vecs=st.lists(
        st.lists(
            st.one_of(
                st.floats(min_value=-2.0, max_value=2.0, allow_nan=False),
                st.sampled_from([0.0005, -0.0015, 0.5, -0.5]),  # .5-grid cases
            ),
            min_size=3,
            max_size=3,
        ),
        min_size=2,
        max_size=20,
    ),
    k=st.integers(2, 4),
    iters=st.integers(1, 3),
)
@settings(**SETTINGS)
def test_kmeans_dense_and_distributed_tiers_agree(spark, vecs, k, iters):
    """The r10 dense k-means tier (numpy int64 Lloyd rounds over the
    Spark-quantized grid) must reproduce the distributed loop BIT FOR
    BIT — same seeds, integer distances, lowest-id tie-break,
    floor(s·100.0/n) updates, empty-cluster drops — across the full
    kmeans_fit report AND the per-row assignment."""
    from sparkobs.operators import cluster

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    for fn in (cluster.kmeans_fit, cluster.kmeans_assign):
        dense = fn(df, k=k, iters=iters).collect()
        with patch.object(cluster, "DENSE_KM_MAX_CELLS", 0):
            dist = fn(df, k=k, iters=iters).collect()
        assert sorted(map(tuple, dense)) == sorted(map(tuple, dist)), fn.__name__


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=30,
    ),
    seed_nodes=st.sets(st.integers(0, 15), min_size=1, max_size=4),
    hops=st.integers(1, 4),
)
@settings(**SETTINGS)
def test_reachable_set_tiers_agree(spark, edges, seed_nodes, hops):
    """The r10 dense BFS tier must reproduce the distributed loop
    exactly: same first-visit hops, seeds-not-in-graph kept at hop 0,
    self-loops and cycles handled identically."""
    from sparkobs.operators import graph

    e = spark.createDataFrame(sorted(set(edges)), "src long, dst long")
    s = spark.createDataFrame([(n,) for n in sorted(seed_nodes)], "node long")
    dense = graph.reachable_set(e, s, max_hops=hops).collect()
    with patch.object(graph, "DENSE_PR_MAX_EDGES", 0):
        dist = graph.reachable_set(e, s, max_hops=hops).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))


@given(
    lrows=st.lists(
        st.tuples(
            st.one_of(st.integers(0, 25), st.none()),  # join key
            st.sampled_from(["a", "b"]),  # group (left side)
        ),
        min_size=1,
        max_size=24,
    ),
    rrows=st.lists(
        st.tuples(
            st.one_of(st.integers(0, 25), st.none()),  # join key
            st.one_of(  # value: 2-decimal money, nullable
                st.integers(-(10**6), 10**6).map(lambda c: c / 100.0),
                st.none(),
            ),
        ),
        min_size=1,
        max_size=24,
    ),
    one_in=st.sampled_from([1, 2, 5]),
)
@settings(**SETTINGS)
def test_sampled_join_agg_ci_invariants(spark, lrows, rrows, one_in):
    """Pin the join-AQP estimator contract (r11, EXT-151) on
    edge-shaped data: the coordinated predicate keeps whole key
    clusters (sample-of-join ≡ join-of-samples for universe
    sampling), NULL keys drop on both sides, estimates scale cluster
    totals by one_in exactly, and the output is invariant to input
    partitioning."""
    import hashlib
    from collections import defaultdict

    from sparkobs.operators.sampling import sampled_join_agg_ci

    left = spark.createDataFrame(lrows, "k bigint, g string")
    right = spark.createDataFrame(rrows, "rk bigint, v double")
    out = {
        (r["g"],): r
        for r in sampled_join_agg_ci(
            left, right, "k", "rk", ["g"], "v", one_in=one_in
        ).collect()
    }
    # repartitioned inputs must give the identical result
    out2 = {
        (r["g"],): r
        for r in sampled_join_agg_ci(
            left.repartition(7), right.repartition(3), "k", "rk",
            ["g"], "v", one_in=one_in,
        ).collect()
    }
    assert {k: tuple(v) for k, v in out.items()} == {
        k: tuple(v) for k, v in out2.items()
    }

    def kept(k):
        return (
            k is not None
            and int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16)
            % one_in
            == 0
        )

    # hand model: per-(group, key) cluster totals over the FULL join
    # restricted to sampled keys — the universe-sampling semantics
    ck: dict = defaultdict(int)
    sk: dict = defaultdict(float)
    sk_seen: dict = defaultdict(int)
    for lk, g in lrows:
        if not kept(lk):
            continue
        for rk, v in rrows:
            if rk == lk and rk is not None:
                ck[(g, lk)] += 1
                if v is not None:
                    sk[(g, lk)] += v
                    sk_seen[(g, lk)] += 1
    by_group: dict = defaultdict(lambda: [0, 0, 0.0, 0])
    for (g, k), c in ck.items():
        agg = by_group[g]
        agg[0] += 1
        agg[1] += c
        if sk_seen[(g, k)]:
            agg[2] += sk[(g, k)]
            agg[3] += 1
    assert set(out) == {(g,) for g in by_group}
    for g, (n_keys, n_join, ssum, n_sum_clusters) in by_group.items():
        r = out[(g,)]
        assert r["n_keys"] == n_keys
        assert r["n_join_sample"] == n_join
        assert r["est_count"] == n_join * one_in
        if n_sum_clusters == 0:
            assert r["est_sum"] is None and r["ci95_sum"] is None
        else:
            assert abs(r["est_sum"] - round(ssum * one_in, 2)) < 0.011
        if one_in == 1:
            assert r["ci95_count"] == 0.0
            if n_sum_clusters:
                assert r["ci95_sum"] == 0.0


@given(
    docs=st.lists(
        st.text(alphabet="ab xyz", min_size=0, max_size=40),
        min_size=1,
        max_size=8,
    ),
    n_merges=st.integers(1, 10),
    batch_size=st.sampled_from([1, 3]),
)
@settings(**SETTINGS)
def test_bpe_train_tiers_agree(spark, docs, n_merges, batch_size):
    """The r12 seventh density dispatch: the driver-side merge loop
    must reproduce the distributed fixed rounds BIT FOR BIT — same
    merge table (step order, tie-breaks, exact pair counts) across
    sequential and batched modes, including corpora that fuse to
    single symbols before n_merges is reached (early stop) and
    repeated words (frequency aggregation)."""
    from sparkobs.operators import bpe

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id bigint, text string"
    )
    dense = bpe.bpe_train(
        df, n_merges=n_merges, batch_size=batch_size
    ).collect()
    dense_rounds = bpe.LAST_TRAIN_ROUNDS
    with patch.object(bpe, "DENSE_BPE_MAX_WORDS", 0):
        dist = bpe.bpe_train(
            df, n_merges=n_merges, batch_size=batch_size
        ).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))
    assert dense_rounds == bpe.LAST_TRAIN_ROUNDS


@given(
    cold_keys=st.sets(st.integers(100, 160), min_size=1, max_size=12),
    hot_mult=st.integers(2, 6),
    one_in=st.sampled_from([1, 2, 5]),
)
@settings(**SETTINGS)
def test_sampled_join_agg_ci_skewed_hot_key(spark, cold_keys, hot_mult, one_in):
    """Skew case for the join-AQP estimator (r12, the r11 verdict's
    probe ask): ONE hot key holds ≥20% of the right-side rows. The
    cluster-whole semantics must hold under skew — the hot cluster is
    all-in-or-all-out of the sample, and when it IS in, the count
    variance term Σck² is dominated by the hot cluster's ck² exactly
    (no per-row variance arithmetic that would understate a clustered
    error). Both are asserted by replaying the HT arithmetic by hand
    over the skewed generator."""
    import hashlib
    import math

    from sparkobs.operators.sampling import sampled_join_agg_ci

    HOT = 7
    # right side: hot cluster = hot_mult × the total cold mass (so the
    # hot key holds >= 2/3 of rows, well past the 20% brief), one
    # right row per cold key
    rrows = [(HOT, 1.0)] * (hot_mult * len(cold_keys)) + [
        (k, 1.0) for k in sorted(cold_keys)
    ]
    lrows = [(HOT, "a")] + [(k, "a") for k in sorted(cold_keys)]
    left = spark.createDataFrame(lrows, "k bigint, g string")
    right = spark.createDataFrame(rrows, "rk bigint, v double")
    rows = sampled_join_agg_ci(
        left, right, "k", "rk", ["g"], "v", one_in=one_in
    ).collect()

    def kept(k):
        return (
            int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % one_in
            == 0
        )

    hot_ck = hot_mult * len(cold_keys)
    sampled_cold = [k for k in cold_keys if kept(k)]
    clusters = ([hot_ck] if kept(HOT) else []) + [1] * len(sampled_cold)
    if not clusters:
        assert rows == []
        return
    (r,) = rows
    # the hot cluster is IN WHOLE or OUT WHOLE — never partially
    assert r["n_join_sample"] == sum(clusters)
    assert r["n_keys"] == len(clusters)
    assert r["est_count"] == sum(clusters) * one_in
    # exact HT variance replay over cluster totals
    cksq = sum(c * c for c in clusters)
    expect_ci = 1.959964 * math.sqrt(cksq * one_in * (one_in - 1))
    assert abs(r["ci95_count"] - expect_ci) < 1e-3
    if one_in > 1 and kept(HOT):
        # the hot cluster's ck² floor: a per-row (Bernoulli) variance
        # model would claim ~z·sqrt(n·one_in·(one_in−1)) — far below
        assert r["ci95_count"] >= 1.959964 * math.sqrt(
            hot_ck * hot_ck * one_in * (one_in - 1)
        ) - 1e-3


@given(
    files=st.lists(
        st.tuples(
            st.text(
                alphabet=st.characters(
                    whitelist_categories=("Ll", "Lu", "Nd", "Lo"),
                    whitelist_characters="/._-~é字",
                ),
                min_size=1,
                max_size=12,
            ),
            st.integers(0, 10**7),
        ),
        min_size=0,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    target=st.sampled_from([1, 1024, 6 * 1024, 10**6]),
)
@settings(**SETTINGS)
def test_compaction_assign_tiers_agree_property(spark, files, target):
    """r11 sixth density dispatch, generalized: the driver-side numpy
    prefix sum must reproduce the distributed global_running_sum
    assignment on RANDOM listings — arbitrary unicode path segments
    (UTF-8 byte order vs code-point order), zero lengths, any target
    size, and the empty listing."""
    from sparkobs.sources import listing as lst

    listing = spark.createDataFrame(
        [("/" + p, n) for p, n in files], "path string, length long"
    )
    dense = lst.compaction_assign(listing, target).collect()
    with patch.object(lst, "DENSE_ASSIGN_MAX_FILES", 0):
        dist = lst.compaction_assign(listing, target).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))


@given(
    rows=st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 9)),
            st.one_of(st.none(), st.integers(0, 9)),
            st.one_of(st.none(), st.integers(0, 9)),
        ),
        min_size=1,
        max_size=25,
    ),
    thresholds=st.lists(st.integers(0, 9), min_size=1, max_size=3),
)
@settings(**SETTINGS)
def test_filter_funnel_invariants(spark, rows, thresholds):
    """EXT-152 funnel arithmetic on random data and rule chains:
    survivors are monotone non-increasing, each step's
    n_survivors[k-1] - n_failing_marginal[k] == n_survivors[k]
    (step 0 anchored at n_input), marginal failures never exceed the
    rule's corpus-wide failures, and every count is replayed by a
    hand model where NULL = fail."""
    from sparkobs.operators.text import filter_funnel

    df = spark.createDataFrame(rows, "a int, b int, c int")
    cols = ["a", "b", "c"][: len(thresholds)]
    rules = [
        (f"r{i}", f"{col} >= {t}")
        for i, (col, t) in enumerate(zip(cols, thresholds))
    ]
    out = sorted(
        filter_funnel(df, rules).collect(), key=lambda r: r["step"]
    )
    assert [r["step"] for r in out] == list(range(1, len(rules) + 1))

    def passes(row, k):
        v = row[k]  # rules are built positionally over (a, b, c)
        return v is not None and v >= thresholds[k]

    surv_prev = len(rows)
    alive = list(rows)
    for k, r in enumerate(out):
        assert r["n_input"] == len(rows)
        fail_total = sum(1 for row in rows if not passes(row, k))
        fail_marginal = sum(1 for row in alive if not passes(row, k))
        alive = [row for row in alive if passes(row, k)]
        assert r["n_failing"] == fail_total
        assert r["n_failing_marginal"] == fail_marginal
        assert r["n_survivors"] == len(alive)
        assert r["n_failing_marginal"] <= r["n_failing"]
        assert surv_prev - r["n_failing_marginal"] == r["n_survivors"]
        assert r["n_survivors"] <= surv_prev
        surv_prev = r["n_survivors"]


@given(
    # disjoint vocabularies per base doc (cross-doc jaccard is exactly
    # 0) plus exact copies (jaccard exactly 1): the regime where
    # md5/xx64 pair-set equality is a THEOREM, not corpus luck —
    # identical shingle sets give identical signatures under ANY hash
    # (both tiers band them together), and j=0 pairs are rejected by
    # the exact-verify stage even when a band bucket collides
    lengths=st.lists(st.integers(0, 7), min_size=1, max_size=6),
    copies=st.lists(st.integers(0, 5), min_size=0, max_size=6),
)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_minhash_tier_pair_set_equality_deterministic_regime(
    spark, lengths, copies
):
    """Retirement property for `minhash_xx64_parity_documents` (r13
    swap-ledger #2, SURVEY §2.11): on corpora whose cross-doc shingle
    jaccard is exactly 0 or 1 — disjoint per-doc vocabularies plus
    exact duplicates, including empty texts and sub-n-gram docs (whole
    text as the single shingle) — BOTH hash tiers must emit exactly
    the same-text pairs with jaccard 1.0. Outside this regime banding
    recall is hash-dependent (see
    test_minhash_md5_km_correlation_recall_gap_sf0001); inside it,
    any divergence is a real banding/verify bug in one tier."""
    from sparkobs.operators.dedup import minhash_lsh_pairs

    texts = [
        " ".join(f"w{i}_{k}" for k in range(ln))
        for i, ln in enumerate(lengths)
    ]
    docs = [(j, texts[c % len(texts)]) for j, c in enumerate(copies)]
    docs += [(len(copies) + i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    expected = {
        (a, b)
        for i, (a, ta) in enumerate(docs)
        for (b, tb) in docs[i + 1:]
        if ta == tb
    }
    kw = dict(n=3, num_hashes=32, bands=8, threshold=0.2)
    got = {}
    for tier in ("md5", "xx64"):
        rows = minhash_lsh_pairs(df, hash_fn=tier, **kw).collect()
        got[tier] = {(r.id_a, r.id_b) for r in rows}
        assert all(r.jaccard == 1.0 for r in rows), tier
    assert got["md5"] == expected
    assert got["xx64"] == expected


#: separators between LSH test tokens: Java's whitespace class (what
#: Spark's split on ``\s+`` cuts at, runs included), then characters
#: Python's ``\s`` and ``str.split()`` also cut at but Spark keeps
#: inside a token, then no separator at all
_LSH_SEPS = [" ", "\t", "\n", "\x0b", "\f", "\r", " \t "]
_LSH_SEPS += ["\u00a0", "\u0085", "\u2003", "\x1c", ""]


@st.composite
def _lsh_text(draw):
    parts = draw(
        st.lists(
            st.tuples(
                st.sampled_from(_LSH_SEPS),
                st.sampled_from(["a", "b", "c", "dd", "é", "日本", "ß"]),
            ),
            max_size=8,
        )
    )
    tail = draw(st.sampled_from(["", " ", "\t\n", "\u00a0"]))
    return "".join(s + t for s, t in parts) + tail


@given(
    texts=st.lists(
        st.one_of(st.none(), st.just(""), _lsh_text()), min_size=1, max_size=8
    ),
    dup_of=st.lists(st.integers(0, 7), max_size=3),
    null_id=st.booleans(),
    n=st.integers(1, 3),
    shape=st.sampled_from([(32, 8), (16, 8)]),
    threshold=st.sampled_from([0.0, 0.3]),
)
@example(  # no token, or one only a non-Java separator makes
    texts=[None, "\u00a0", "", "\x1c", None],
    dup_of=[],
    null_id=False,
    n=1,
    shape=(32, 8),
    threshold=0.0,
)
@example(  # the same words, split or not by Java's whitespace class
    texts=["a\u00a0b c dd", "a b c dd", "\ta b c dd ", "a\u0085b c\u2003dd", "日本 é ß"],
    dup_of=[0, 4],
    null_id=True,
    n=2,
    shape=(32, 8),
    threshold=0.0,
)
@example(  # documents shorter than n: the whole text is one shingle
    texts=["a b", "a b", "a", "a\x0bb"],
    dup_of=[],
    null_id=False,
    n=3,
    shape=(16, 8),
    threshold=0.3,
)
@settings(**{**SETTINGS, "max_examples": 20})
def test_minhash_lsh_md5_tiers_agree(
    spark, texts, dup_of, null_id, n, shape, threshold
):
    """The driver-side md5 MinHash-LSH tier reproduces the Spark plan
    exactly: the same (id_a, id_b, jaccard) rows on corpora with NULL
    and empty texts, Java and non-Java whitespace, documents shorter
    than n tokens, exact duplicates, non-ASCII tokens and a NULL id."""
    from sparkobs.operators import dedup

    texts = texts + [texts[i % len(texts)] for i in dup_of]
    # ids descend, so id order is not row order
    rows = [(3 * (len(texts) - i), t) for i, t in enumerate(texts)]
    if null_id:
        rows.append((None, texts[0]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    num_hashes, bands = shape
    kw = dict(
        n=n, num_hashes=num_hashes, bands=bands, threshold=threshold, hash_fn="md5"
    )
    dense = dedup.minhash_lsh_pairs(df, **kw).collect()
    with patch.object(dedup, "DENSE_LSH_MAX_DOCS", 0):
        dist = dedup.minhash_lsh_pairs(df, **kw).collect()
    assert sorted(map(tuple, dense)) == sorted(map(tuple, dist))
