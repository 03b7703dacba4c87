"""Dedup ladder tests: exact, MinHash-LSH, SimHash, n-gram Jaccard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.dedup_refs import ref_gram_hashes, ref_minhash, ref_simhash
from yahoofinancedatalake_spark.operators.dedup import (
    exact_dedup,
    gram_hashes,
    hamming64,
    hashed_ngram_jaccard,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_jaccard,
    shingles,
    simhash64,
    simhash_near_dup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill in the afternoon sun and everything is calm"
)
NEAR = BASE.replace("afternoon", "evening")  # one-word change → near-dup
FAR = (
    "completely different content about distributed query engines and "
    "columnar storage formats with vectorized execution pipelines today"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(1, BASE), (2, "  THE  quick brown fox jumps over the lazy dog "
                           "while the cat watches from a warm windowsill in "
                           "the afternoon sun and everything is calm"),
            (3, NEAR), (4, FAR)]
    return spark.createDataFrame(rows, "id long, text string")


def test_exact_dedup_normalizes_case_and_whitespace(docs):
    kept = exact_dedup(docs, "text", "id")
    ids = sorted(r.id for r in kept.collect())
    assert ids == [1, 3, 4]  # 2 is a case/whitespace dup of 1


def test_shingles_small_and_empty(spark):
    df = spark.createDataFrame([("a b",), ("",)], "t string")
    out = df.select(shingles(F.col("t"), 3).alias("s")).collect()
    assert out[0].s == ["a b"]  # shorter than n → whole text
    assert out[1].s == []


def test_minhash_lsh_finds_near_dup_not_far(docs):
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "text", "id", n_hashes=32,
                                   n_bands=16).collect()
    }
    assert (1, 3) in pairs or (1, 2) in pairs  # near-dups collide
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_simhash_hamming_orders_similarity(spark):
    df = spark.createDataFrame(
        [(1, BASE), (3, NEAR), (4, FAR)], "id long, text string"
    )
    fp = df.select("id", simhash64(F.col("text")).alias("h"))
    a = fp.alias("a")
    b = fp.alias("b")
    d = (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            hamming64(F.col("a.h"), F.col("b.h")).alias("ham"),
        )
        .collect()
    )
    dist = {(r.ia, r.ib): r.ham for r in d}
    assert dist[(1, 3)] < dist[(1, 4)]
    assert dist[(1, 3)] < dist[(3, 4)]


def test_simhash_near_dup_pairs_blocking(spark, docs):
    out = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(
            docs, "text", "id", max_hamming=16, shingle_n=2
        ).collect()
    }
    # near-dups recovered through chunk blocking, far pair absent
    assert (1, 2) in out and (1, 3) in out
    assert (1, 4) not in out and (3, 4) not in out
    assert out[(1, 2)] == 0  # whitespace/case dup → identical fingerprint


def test_simhash_planted_pairs_recovered_sf(spark):
    """Multi-probe recall guarantee: at radius 9 (5 wide chunks, 1-bit
    probes) EVERY pair within the radius must be recovered. The 25
    planted near-dup pairs at sf0.01 (jaccard ≈ 0.98, measured Hamming
    1-8 under the siphash/rotate-xor gram scheme) are the ground truth
    for the rows-only `simhash_near_dup` query."""
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    got = simhash_near_dup_pairs(
        docs, "text", "doc_id", max_hamming=9, shingle_n=2
    )
    planted = (
        ngram_jaccard(
            got.select("id_a", "id_b"),
            docs,
            "doc_id",
            "text",
            shingle_n=3,
        )
        .filter(F.col("jaccard") >= 0.9)
        .count()
    )
    assert planted == 25  # exact recall at the stated radius
    # distance > 3 pairs exist among the planted set (measured: 4,5,7,8)
    assert got.filter(F.col("hamming") > 3).count() >= 5


def test_signatures_match_python_reference(spark):
    """The vectorized numpy kernels must match the plain-python
    reference twins bit-for-bit, including punctuation-free collapse,
    short, and empty/whitespace-only texts (null signature)."""
    rows = [
        (1, BASE), (2, NEAR), (3, FAR),
        (4, ""), (5, "   "), (6, "one"), (7, "one two"),
        (8, "Tabs\tand\nnewlines   collapse  right"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {
        r.id: (r.g, r.m, r.s)
        for r in df.select(
            "id",
            gram_hashes(F.col("text"), 3).alias("g"),
            minhash_signature(F.col("text"), 32, 42, 3).alias("m"),
            simhash64(F.col("text"), 2).alias("s"),
        ).collect()
    }
    mask = (1 << 64) - 1
    for rid, text in rows:
        g, m, s = got[rid]
        ref_g = ref_gram_hashes(text, 3)
        if not ref_g:
            assert g is None and m is None and s is None
            continue
        assert {v & mask for v in g} == ref_g
        assert m == ref_minhash(text, 32, 42, 3)
        assert s == ref_simhash(text, 2)


def test_hashed_jaccard_equals_string_jaccard(spark, docs):
    """Jaccard over hashed shingle sets must equal the string-shingle
    Jaccard (hash collisions are ~2^-64) — this is what lets the
    minhash query verify against DuckDB's string-based oracle."""
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (3, 4)], "id_a long, id_b long"
    )
    a = {(r.id_a, r.id_b): r.jaccard
         for r in ngram_jaccard(pairs, docs, "id", "text").collect()}
    b = {(r.id_a, r.id_b): r.jaccard
         for r in hashed_ngram_jaccard(pairs, docs, "id", "text").collect()}
    assert a == b


def test_empty_docs_never_pair(spark):
    """Empty/whitespace docs are filtered before banding — they must
    not collide with each other in either LSH family (ADVICE: the
    shared empty signature would otherwise generate O(m²) candidate
    pairs, and simhash would report them as distance-0 near-dups)."""
    rows = [(1, BASE), (2, NEAR), (10, ""), (11, "  "), (12, "\t\n")]
    df = spark.createDataFrame(rows, "id long, text string")
    mh = minhash_lsh_pairs(df, "text", "id", n_hashes=32, n_bands=16)
    assert all(r.id_a not in (10, 11, 12) and r.id_b not in (10, 11, 12)
               for r in mh.collect())
    sh = simhash_near_dup_pairs(df, "text", "id", max_hamming=9)
    assert all(r.id_a not in (10, 11, 12) and r.id_b not in (10, 11, 12)
               for r in sh.collect())


def test_connected_components_clusters(spark):
    """Chain A-B-C must collapse into one cluster (transitivity), a
    separate pair stays its own cluster, labels are the min id."""
    from yahoofinancedatalake_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {
        r.node: r.component for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = spark.createDataFrame([(1, 3), (1, 4)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard(pairs, docs, "id", "text").collect()}
    assert out[(1, 3)] > 0.7  # one-word change in a 23-word doc
    assert out[(1, 4)] == 0.0


def test_incremental_minhash_matches_full_recompute(spark):
    """Split the corpus into history + increment: (full pairs over
    everything) == (pairs over history) ∪ (incremental pairs), and
    the incremental path reads history only through its landed band
    table."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table
    from yahoofinancedatalake_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )
    from pyspark.sql import functions as F

    docs = fan_out(load_table(spark, "/root/testdata/sf0.01", "documents"))
    hist = docs.filter(F.col("doc_id") < 400)
    inc = docs.filter(F.col("doc_id") >= 400)

    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()
    }
    hist_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(hist, "text", "doc_id").collect()
    }
    index = minhash_band_table(hist, "text", "doc_id")
    inc_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            inc, "text", "doc_id", index=index
        ).collect()
    }
    assert hist_pairs | inc_pairs == full
    # the increment's own pairs never touch history-only pairs
    assert all(a >= 400 or b >= 400 for a, b in inc_pairs)
    # and the split actually exercised both sides
    assert inc_pairs and hist_pairs


def test_incremental_minhash_reingested_id_no_self_pairs(spark):
    """ADVICE r5: an id present in BOTH the landed index and the new
    batch (replayed/re-ingested batch) must not produce a degenerate
    (id, id) self-pair, and the duplicate membership row must not
    consume a max_bucket_size rank slot — the incremental result must
    still equal the full recompute."""
    from yahoofinancedatalake_spark.catalog import fan_out, load_table
    from yahoofinancedatalake_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )
    from pyspark.sql import functions as F

    docs = fan_out(load_table(spark, "/root/testdata/sf0.01", "documents"))
    hist = docs.filter(F.col("doc_id") < 400)
    # the replayed batch OVERLAPS history: ids 300-399 are in both
    inc = docs.filter(F.col("doc_id") >= 300)

    index = minhash_band_table(hist, "text", "doc_id")
    inc_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            inc, "text", "doc_id", index=index
        ).collect()
    }
    assert all(a != b for a, b in inc_pairs)  # no degenerate self-pairs
    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, "text", "doc_id").collect()
    }
    assert inc_pairs <= full  # never invents pairs the full run lacks
    # every full-run pair touching a batch id is recovered
    batch_touch = {p for p in full if p[0] >= 300 or p[1] >= 300}
    assert batch_touch <= inc_pairs

    # cap stress: with a tiny cap, duplicate rows stealing rank slots
    # would diverge from the full recompute's capped membership
    inc_capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            inc, "text", "doc_id", max_bucket_size=3, index=index
        ).collect()
    }
    full_capped = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket_size=3
        ).collect()
    }
    assert all(a != b for a, b in inc_capped)
    batch_touch_capped = {
        p for p in full_capped if p[0] >= 300 or p[1] >= 300
    }
    assert batch_touch_capped <= inc_capped <= full_capped


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node id
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


def test_star_components_match_union_find_random(spark):
    import random

    from yahoofinancedatalake_spark.operators.dedup import (
        connected_components,
    )

    rng = random.Random(5)
    nodes = list(range(200))
    edges = sorted(
        {
            tuple(sorted(rng.sample(nodes, 2)))
            for _ in range(180)
        }
    )
    expected = _uf_components(edges, {n for e in edges for n in e})
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component
        for r in connected_components(df).collect()
    }
    assert got == expected


def test_star_components_handle_long_chain(spark):
    """A 300-link chain: min-label propagation would need 300 rounds;
    star contraction converges in O(log n) steps within the default
    ``max_iter`` and labels every node 0."""
    from yahoofinancedatalake_spark.operators.dedup import (
        connected_components,
    )

    edges = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component
        for r in connected_components(df).collect()
    }
    assert set(got) == set(range(301))
    assert set(got.values()) == {0}


def test_components_raise_when_out_of_steps(spark):
    """Running out of steps must fail loudly: partial labels would
    split one near-dup cluster into several keepers."""
    from yahoofinancedatalake_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(df, max_iter=2).collect()


#: A nightly prep increment's verified-pair graph (perfbench seed 1):
#: 20 pairs, one of them extending a pair into a 3-node path.
_INCREMENT_PAIRS = [
    (305, 695), (384, 641), (391, 667), (476, 785), (478, 707),
    (516, 727), (37, 788), (379, 653), (490, 732), (118, 604),
    (521, 621), (528, 619), (540, 758), (51, 661), (56, 703),
    (86, 711), (412, 692), (448, 722), (641, 659), (656, 701),
]


def test_components_job_budget_on_increment_graph(spark):
    """Fixed cost per call, pinned: on the increment-shaped graph one
    components call plus collecting its labels is 5 Spark jobs (two
    contraction steps, one shuffle job and one materialization job
    each, and the collect). Min-label propagation took 29 here."""
    from yahoofinancedatalake_spark.operators.dedup import (
        connected_components,
    )

    df = spark.createDataFrame(_INCREMENT_PAIRS, "id_a long, id_b long")
    sc = spark.sparkContext
    sc.setJobGroup("cc_job_budget", "components job budget")
    try:
        got = {
            r.node: r.component
            for r in connected_components(df).collect()
        }
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cc_job_budget"))
    nodes = {n for e in _INCREMENT_PAIRS for n in e}
    assert got == _uf_components(_INCREMENT_PAIRS, nodes)
    assert n_jobs <= 5, n_jobs


def test_mega_bucket_capped(spark):
    """A planted boilerplate mega-bucket must be bounded: every
    (band, bucket) feeds at most max_bucket_size members into pair
    generation, overflow is reported, and pairs stay a subset of the
    uncapped set."""
    from yahoofinancedatalake_spark.operators.dedup import (
        capped_bucket_members,
        minhash_band_table,
    )

    cap = 8
    n_dup = 50  # one shared boilerplate text → one bucket per band
    rows = [(i, BASE) for i in range(n_dup)]
    rows += [(1000, NEAR), (1001, FAR)]
    docs = spark.createDataFrame(rows, "id long, text string")

    banded = minhash_band_table(docs, "text", "id", n_hashes=32,
                                n_bands=8)
    buckets = capped_bucket_members(banded, "id", cap)
    stats = buckets.select(
        F.max(F.size("ids")).alias("max_sz"),
        F.sum("n_dropped").alias("dropped"),
    ).collect()[0]
    assert stats["max_sz"] <= cap
    # 50 boilerplate docs in an 8-member bucket → 42 dropped per band
    assert stats["dropped"] >= (n_dup - cap) * 8

    capped_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "text", "id", max_bucket_size=cap
        ).collect()
    }
    full_pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "text", "id", max_bucket_size=1_000_000
        ).collect()
    }
    assert capped_pairs <= full_pairs
    # pair explosion bounded: ≤ C(cap,2) per (band, bucket)
    n_buckets = buckets.count()
    assert len(capped_pairs) <= n_buckets * cap * (cap - 1) // 2
    # the cap is deterministic: same input → same survivor set
    again = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "text", "id", max_bucket_size=cap
        ).collect()
    }
    assert again == capped_pairs


def test_mega_bucket_drop_logging(spark, caplog):
    """log_drops=True counts the overflow and emits one warning."""
    import logging

    rows = [(i, BASE) for i in range(30)]
    docs = spark.createDataFrame(rows, "id long, text string")
    with caplog.at_level(
        logging.WARNING, logger="yahoofinancedatalake_spark.operators.dedup"
    ):
        pairs = minhash_lsh_pairs(
            docs, "text", "id", max_bucket_size=4, log_drops=True
        )
        assert pairs.count() > 0
    assert any("max_bucket_size" in r.message for r in caplog.records)


def test_incremental_cap_matches_full_recompute_above_cap(spark):
    """When a (band, bucket) exceeds max_bucket_size ACROSS history
    and batch, the incremental path must apply the same md5-rank cap
    over the UNION membership that the full recompute applies —
    capping the sides independently emits pairs a full run drops
    (the r5 review finding). Planted mega-clique, cap = 8."""
    from pyspark.sql import functions as F

    from yahoofinancedatalake_spark.operators.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
    )

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, text) for i in range(30)], "doc_id long, text string"
    ).repartition(4)
    hist = docs.filter(F.col("doc_id") < 20)
    batch = docs.filter(F.col("doc_id") >= 20)
    cap = 8

    full = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket_size=cap
        ).collect()
    }
    expected = {(a, b) for a, b in full if a >= 20 or b >= 20}
    index = minhash_band_table(hist, "text", "doc_id")
    inc = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(
            batch, "text", "doc_id", max_bucket_size=cap, index=index
        ).collect()
    }
    assert inc == expected
    # the cap actually bit: a clique of 30 would otherwise emit 435
    # pairs; 8 survivors emit at most C(8,2)=28
    assert len(full) <= 28
