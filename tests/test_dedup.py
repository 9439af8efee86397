"""Semantic tests: the dedup operators must actually catch planted
duplicates (the driver fixtures have none, so oracle parity alone
would not prove catch-the-dup behavior)."""

from __future__ import annotations

import pytest

from etl_upc_syllabus_spark.operators import dedup as dd

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the tall fence and the birds sing in the morning sun"
)
NEAR = BASE.replace("morning sun", "evening moon")  # ~2-token edit
OTHER = (
    "completely different content about spark query engines and their "
    "catalyst optimizer rules for predicate pushdown and column pruning"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact dup of 1
        (3, "  THE  quick brown fox jumps over the lazy dog while the cat watches "
            "from the tall fence and the birds sing in the morning sun  "),  # normalized dup
        (4, NEAR),  # near dup of 1
        (5, OTHER),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups_normalized(corpus):
    res = {r["keeper_id"]: r["n_copies"] for r in dd.exact_dedup(corpus, "doc_id", "text").collect()}
    assert res[1] == 3  # 1, 2 and whitespace/case variant 3
    assert res[4] == 1 and res[5] == 1


def test_survivors_keep_min_id(corpus):
    ids = sorted(r["doc_id"] for r in dd.survivors(corpus, "doc_id", "text").collect())
    assert ids == [1, 4, 5]


def test_minhash_lsh_finds_near_dups(corpus):
    sets = dd.shingle_sets(corpus, "doc_id", "text", k=3)
    sig = dd.minhash_signatures(sets)
    pairs = dd.jaccard_verify(dd.lsh_candidate_pairs(sig), sets)
    got = {(r["a"], r["b"]): r["jaccard"] for r in pairs.collect()}
    # exact + normalized dups collide on every band (jaccard 1.0)
    assert got[(1, 2)] == 1.0 and got[(1, 3)] == 1.0 and got[(2, 3)] == 1.0
    # near-dup pair is caught with high (not 1.0) jaccard
    near = [p for p in got if 4 in p and p != (4, 5)]
    assert near, f"near-dup pair not caught: {got}"
    assert all(0.5 < got[p] < 1.0 for p in near)
    # unrelated doc never pairs
    assert not any(5 in p for p in got)


def test_ngram_jaccard_ground_truth(corpus):
    res = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dd.ngram_jaccard_allpairs(corpus, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    assert res[(1, 2)] == 1.0
    assert (1, 4) in res and res[(1, 4)] < 1.0
    assert not any(5 in p for p in res)


def test_simhash_near_dups_close_in_hamming(corpus):
    sigs = {r["id"]: r["simhash"] for r in dd.simhash_signatures(corpus, "doc_id", "text").collect()}
    assert all(len(s) == 32 for s in sigs.values())

    def ham(a, b):
        return sum(x != y for x, y in zip(sigs[a], sigs[b]))

    assert ham(1, 2) == 0 and ham(1, 3) == 0  # identical token sets
    assert ham(1, 4) <= 8  # near dup: few bits differ
    assert ham(1, 5) > ham(1, 4)  # unrelated doc is farther


def test_dedup_pipeline_e2e_drops_planted_dups(spark, corpus):
    """The composed production flow (LSH candidates -> jaccard verify ->
    connected components -> survivor selection) must drop exactly the
    planted duplicates of doc 1 and keep the unrelated doc."""
    from etl_upc_syllabus_spark.operators.components import connected_components
    from pyspark.sql import functions as F

    sets = dd.shingle_sets(corpus, "doc_id", "text", k=3)
    pairs = dd.lsh_candidate_pairs(dd.minhash_signatures(sets))
    verified = dd.jaccard_verify(pairs, sets).filter(F.col("jaccard") >= 0.6)
    comp = connected_components(verified)
    drops = {
        r["doc_id"]: r["keeper_id"]
        for r in comp.filter(F.col("component") < F.col("id"))
        .select(F.col("id").alias("doc_id"), F.col("component").alias("keeper_id"))
        .collect()
    }
    # docs 2 (exact), 3 (normalized) and 4 (near) all fold into keeper 1;
    # unrelated doc 5 survives untouched
    assert drops == {2: 1, 3: 1, 4: 1}


def test_simhash_drops_null_text(spark):
    """NULL-text docs emit NO signature row -- matching the oracle's
    unnest-of-NULL semantics (the narrow HOF rework must not resurrect
    them as NULL-simhash rows). Empty/whitespace text tokenizes to ['']
    in BOTH engines (split semantics), so those keep a signature."""
    df = spark.createDataFrame(
        [(1, "real tokens here"), (2, None), (3, ""), (4, "   ")],
        "doc_id bigint, text string",
    )
    got = {r["id"]: r["simhash"] for r in dd.simhash_signatures(df, "doc_id", "text").collect()}
    assert sorted(got) == [1, 3, 4]
    assert got[3] == got[4]  # both are the signature of the '' token
    assert all(s is not None for s in got.values())


def test_fingerprint_identical_for_dups(spark, corpus):
    from etl_upc_syllabus_spark.operators.textanalysis import fingerprint

    fp = {r["doc_id"]: r["fp"] for r in corpus.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fp[1] == fp[2] == fp[3]
    assert fp[1] != fp[5]


# ---- connected components (duplicate-cluster resolution) -----------------


def test_connected_components_chain_and_cliques(spark):
    from etl_upc_syllabus_spark.operators.components import (
        connected_components,
        dedup_clusters,
    )

    # chain 1-2-3 (transitive dup), clique 10-11-12, isolated pair 20-21
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21)],
        "a long, b long",
    )
    cc = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    summary = {
        r["component"]: (r["n_members"], r["keeper_id"])
        for r in dedup_clusters(edges).collect()
    }
    assert summary == {1: (3, 1), 10: (3, 10), 20: (2, 20)}


def test_connected_components_long_path_converges(spark):
    from etl_upc_syllabus_spark.operators.components import connected_components

    # path 0-1-2-...-9: worst diameter for label propagation
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "a long, b long")
    cc = connected_components(edges).collect()
    assert {r["component"] for r in cc} == {0}
    assert len(cc) == 10


def test_connected_components_raises_on_non_convergence(spark):
    # a 12-node path graph has diameter 11 > max_iterations=2: labels
    # are still moving at the cap, so silent wrong clusters must not
    # come back
    import pytest as _pytest

    from etl_upc_syllabus_spark.operators.components import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(11)], "a long, b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=2).collect()


def test_lss_components_match_min_label(spark):
    from etl_upc_syllabus_spark.operators.components import (
        connected_components,
        connected_components_lss,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (11, 12), (10, 12), (20, 21), (5, 5)],
        "a long, b long",
    )
    lss = {r["id"]: r["component"] for r in connected_components_lss(edges).collect()}
    ml = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    # self-loop 5-5 is a degenerate edge: min-label keeps the node,
    # LSS drops self-loops up front -- both are defensible; compare on
    # the common (real-edge) nodes.
    ml.pop(5, None)
    assert lss == ml == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_lss_components_pathological_chain(spark):
    """Diameter-40 path: min-label needs 40+ rounds (fails its default
    cap of 20); large-star/small-star converges in O(log n)."""
    import pytest as _pytest

    from etl_upc_syllabus_spark.operators.components import (
        connected_components,
        connected_components_lss,
    )

    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], "a long, b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain).collect()

    cc = connected_components_lss(chain).collect()
    assert len(cc) == 41
    assert {r["component"] for r in cc} == {0}


def test_lss_components_shuffled_ids_and_skew(spark):
    """Non-monotone ids + a high-degree hub (star of 50 spokes into one
    center with a large id) -- exercises both star operations."""
    from etl_upc_syllabus_spark.operators.components import connected_components_lss

    hub = [(1000, i) for i in range(100, 150)]  # center 1000, spokes 100..149
    chain = [(7, 3), (3, 9), (9, 2), (2, 8)]  # shuffled-id path, min 2
    cc = {
        r["id"]: r["component"]
        for r in connected_components_lss(
            spark.createDataFrame(hub + chain, "a long, b long")
        ).collect()
    }
    assert all(cc[n] == 100 for n in [1000, *range(100, 150)])
    assert all(cc[n] == 2 for n in [7, 3, 9, 2, 8])
    assert len(cc) == 56


def test_incremental_dedup_flags_cross_batch(spark):
    corpus = spark.createDataFrame([(1, BASE), (2, OTHER)], ["doc_id", "text"])
    batch = spark.createDataFrame(
        [
            (10, "  THE  " + BASE[4:] + "  "),  # normalized exact dup of 1
            (11, NEAR),  # near dup of 1 (band collision), not exact
            (12, "entirely novel text about watermarks and stateful "
                 "stream aggregation with bounded late data handling"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["id"]: r
        for r in dd.incremental_dedup(batch, corpus, "doc_id", "text").collect()
    }
    assert out[10]["exact_dup"] == 1 and out[10]["keep"] == 0
    assert out[11]["exact_dup"] == 0
    assert out[11]["near_dup"] == 1 and out[11]["keep"] == 0
    assert (out[12]["exact_dup"], out[12]["near_dup"], out[12]["keep"]) == (0, 0, 1)


def test_incremental_dedup_empty_corpus_keeps_all(spark):
    corpus = spark.createDataFrame([], "doc_id long, text string")
    batch = spark.createDataFrame([(1, BASE), (2, OTHER)], ["doc_id", "text"])
    rows = dd.incremental_dedup(batch, corpus, "doc_id", "text").collect()
    assert all(r["keep"] == 1 for r in rows) and len(rows) == 2


def test_containment_bounds_and_dominates_jaccard(spark):
    """containment = |AnB|/min(|A|,|B|) is in (0, 1] for overlapping
    pairs and is never below the pair's Jaccard; a short doc fully
    embedded in a long one scores exactly 1.0."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon"),
        (3, "completely different words entirely here now today folks"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sets = dd.shingle_sets(df, "doc_id", "text", k=3)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], ["a", "b"])
    cont = {
        (r["a"], r["b"]): r["containment"]
        for r in dd.containment_verify(pairs, sets).collect()
    }
    jac = {
        (r["a"], r["b"]): r["jaccard"]
        for r in dd.jaccard_verify(pairs, sets).collect()
    }
    # doc 1's shingles are a strict prefix-subset of doc 2's
    assert cont[(1, 2)] == 1.0
    assert cont[(1, 3)] == 0.0
    for k in cont:
        assert 0.0 <= cont[k] <= 1.0
        assert cont[k] >= jac[k] - 1e-12


def test_sampled_truth_pairs_discovers_planted_dup_and_caps_boilerplate(spark):
    """Semantic contract of the scale-safe recall ground truth (r7):

    1. a planted near-duplicate pair (many shared shingles) IS in the
       sampled pair universe -- discovery probability 1-(7/8)^shared
       is ~1 for real near-dups, and this fixture's overlap is large
       enough that missing it would mean the sampler is broken;
    2. a boilerplate shingle shared by MORE than df_cap documents
       generates NO pairs by itself -- the frequency cap is what keeps
       pair generation linear (posting-list self-join bounded by
       df_cap^2), so docs whose only overlap is boilerplate must not
       pair up.
    """
    from etl_upc_syllabus_spark.operators import dedup as dd

    body = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon phi chi psi")
    boiler = "all rights reserved by the corporation"
    rows = [
        (1, body + " one ending"),
        (2, body + " two finale"),  # near-dup of 1: shares ~20 shingles
    ]
    # 60 docs sharing ONLY the boilerplate sentence (df = 62 > cap 50)
    rows += [(100 + i, f"unique text number {i} " + boiler) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sets = dd.shingle_sets(df, "doc_id", "text", k=3)
    pairs = {
        (r["a"], r["b"])
        for r in dd.sampled_truth_pairs(sets, sample_mod=8, df_cap=50).collect()
    }
    assert (1, 2) in pairs, "planted near-dup missed by the sampler"
    boiler_only = [p for p in pairs if p[0] >= 100 and p[1] >= 100]
    assert not boiler_only, f"df-capped boilerplate generated pairs: {boiler_only[:5]}"


def test_recall_sample_mod_budget_and_oracle_parity():
    """The corpus-scaled sampling modulus (r7 item 4) holds a fixed
    sampled-pair budget: mod doubles per corpus doubling beyond n_ref,
    so n_docs/mod stays within [n_ref/(2*base), n_ref/base]. The
    Python doubling loop must agree with the oracle's
    FLOOR(LOG2(...)) derivation for every tested corpus size,
    including exact power-of-two boundaries."""
    import duckdb

    from etl_upc_syllabus_spark.operators.dedup import recall_sample_mod
    from etl_upc_syllabus_spark.plans.dedup_queries import recall_mod_sql

    assert recall_sample_mod(500) == 8       # sf0.001 / sf0.01: unchanged
    assert recall_sample_mod(5000) == 8      # sf0.1
    assert recall_sample_mod(50000) == 32    # sf1
    assert recall_sample_mod(500000) == 256  # sf10
    assert recall_sample_mod(8192) == 8      # boundary: n == n_ref
    assert recall_sample_mod(16384) == 16    # boundary: exactly 2x n_ref

    con = duckdb.connect()
    for n in [1, 499, 500, 5000, 8191, 8192, 8193, 16383, 16384, 16385,
              50000, 65536, 500000, 5_000_000, 123_456_789]:
        # the SAME fragment the oracle CTE embeds -- not a hand copy,
        # so an edit to the SQL derivation is tested automatically
        sql_mod = con.execute(f"SELECT {recall_mod_sql(str(n))}").fetchone()[0]
        assert sql_mod == recall_sample_mod(n), (n, sql_mod)
        # budget invariant: sampled-shingle count within 2x of the
        # reference budget (n_ref/base_mod = 1024) at every scale
        assert n / recall_sample_mod(n) < 2 * 8192 / 8, n


def test_recall_sample_mod_properties_hypothesis():
    """Property coverage of the corpus-scaled modulus over the whole
    plausible corpus range (to 10^12 docs): power-of-two multiple of
    the base, monotone in n, budget window [n_ref/(2*base), n_ref/base)
    docs-per-mod once n >= n_ref, and agreement with the float
    floor(log2) form the oracle uses (exact for n < 2^53)."""
    import math

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from etl_upc_syllabus_spark.operators.dedup import recall_sample_mod

    @settings(max_examples=300, deadline=None)
    @given(st.integers(min_value=1, max_value=10**12))
    def check(n):
        mod = recall_sample_mod(n)
        factor = mod // 8
        assert mod % 8 == 0 and factor & (factor - 1) == 0  # 8 * 2^k
        assert recall_sample_mod(n + 1) >= mod  # monotone
        if n >= 8192:
            # fixed budget window: factor = 2^k exactly on
            # n in [n_ref*2^k, n_ref*2^(k+1)), so docs-per-factor
            # stays within [n_ref, 2*n_ref) at every scale
            assert 8192 <= n / factor < 2 * 8192
        # the oracle's floating formulation gives the same integer
        sql_like = 8 * int(2 ** max(0, math.floor(math.log2(n / 8192.0))))
        assert sql_like == mod, (n, sql_like, mod)

    check()


def test_bucket_cap_bounds_flood_and_preserves_clusters(spark):
    """A duplicate-flooded bucket (the web-boilerplate shape) must not
    go quadratic: with bucket_cap the candidate count is linear in the
    flood size, and the downstream verify -> connected-components
    clusters are IDENTICAL to the uncapped all-pairs result."""
    from etl_upc_syllabus_spark.operators.components import connected_components

    flood = [(i, BASE) for i in range(60)]  # 60 identical docs
    extra = [(100, NEAR), (101, OTHER), (102, OTHER + " second copy " + OTHER)]
    df = spark.createDataFrame(flood + extra, "doc_id long, text string").coalesce(4)
    sets = dd.shingle_sets(df, "doc_id", "text")
    sigs = dd.minhash_signatures(sets)

    uncapped = dd.lsh_candidate_pairs(sigs)
    capped = dd.lsh_candidate_pairs(sigs, bucket_cap=16)
    n_unc, n_cap = uncapped.count(), capped.count()
    # all-pairs: 60*59/2 pairs from the flood alone; star: 59 hub pairs
    assert n_unc >= 60 * 59 // 2
    assert n_cap < 3 * 60  # linear in flood size (hub pairs, all bands)

    def clusters(pairs):
        edges = dd.jaccard_verify(pairs, sets).filter("jaccard >= 0.8")
        comp = connected_components(edges.select("a", "b"))
        return sorted((r["id"], r["component"]) for r in comp.collect())

    assert clusters(capped) == clusters(uncapped)


def test_bucket_cap_broadcast_bound_falls_back_with_warning(spark):
    """Many DISTINCT flooded buckets (templated boilerplate families)
    break the 'floods are few' broadcast assumption (ADVICE r8): past
    ``oversized_broadcast_max`` the hub join must fall back to a
    shuffled join WITH a warning naming the knob, and the emitted pairs
    must be identical to the broadcast path's."""
    import pytest as _pt

    flood = [(i, BASE) for i in range(40)]
    extra = [(100, NEAR), (101, OTHER)]
    df = spark.createDataFrame(flood + extra, "doc_id long, text string").coalesce(4)
    sigs = dd.minhash_signatures(dd.shingle_sets(df, "doc_id", "text"))

    broadcast_pairs = sorted(
        (r["a"], r["b"]) for r in dd.lsh_candidate_pairs(sigs, bucket_cap=8).collect()
    )
    with _pt.warns(RuntimeWarning, match="oversized_broadcast_max"):
        fallback = dd.lsh_candidate_pairs(
            sigs, bucket_cap=8, oversized_broadcast_max=1
        )
        fallback_pairs = sorted((r["a"], r["b"]) for r in fallback.collect())
    assert fallback_pairs == broadcast_pairs


# --- banded embedding LSH (r10: the corpus-scaled cosine-dedup path) --------


def _planted_corpus(spark, n_base=300, n_dups=40, dim=16):
    """Random-ish deterministic base vectors + planted near-dups
    (copy with one tiny perturbed element -> cosine ~0.999). Planted
    pair (i, n_base + j) for the j-th dup of base i."""
    import math

    rows = []
    for i in range(n_base):
        rows.append((i, [math.sin(i * dim + d) for d in range(dim)]))
    planted = []
    for j in range(n_dups):
        src = j * 7 % n_base
        v = [math.sin(src * dim + d) for d in range(dim)]
        v[0] += 1e-3
        rows.append((n_base + j, v))
        planted.append((src, n_base + j))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return df, set(planted)


def test_embedding_lsh_band1_equals_single_band_shape(spark, sf_dir):
    """bands=1, planes_per_band=8, offset 0 reproduces EXACTLY the
    historical single-band 8-plane candidate set (the
    dedup_embedding_cosine registry shape) -- the banding generalizes
    the frozen path, never silently changes it."""
    from etl_upc_syllabus_spark.operators.dedup import embedding_lsh_candidate_pairs
    from etl_upc_syllabus_spark.operators.similarity import hyperplane_bucket, indexable
    from etl_upc_syllabus_spark.sources.tables import load_table

    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    got = sorted(
        (r["a"], r["b"])
        for r in embedding_lsh_candidate_pairs(
            emb, dim=64, bands=1, planes_per_band=8
        ).collect()
    )
    bucketed = emb.filter(indexable("embedding")).select(
        F.col("vec_id").alias("id"), hyperplane_bucket("embedding", 64).alias("bucket")
    )
    a = bucketed.select(F.col("id").alias("a"), "bucket")
    b = bucketed.select(F.col("id").alias("b"), "bucket")
    want = sorted(
        (r["a"], r["b"])
        for r in a.join(b, "bucket").filter(F.col("a") < F.col("b")).select("a", "b").collect()
    )
    assert got == want and got


def test_embedding_lsh_banded_recall_on_planted_dups(spark):
    """Planted near-dups (cosine ~0.999) must survive the banded
    corpus-scaled candidate cut and come out flagged by the exact
    verification -- the property that makes the linear-volume path a
    valid substitute for the quadratic one."""
    from etl_upc_syllabus_spark.operators.dedup import embedding_cosine_pairs_scaled

    df, planted = _planted_corpus(spark)
    out = embedding_cosine_pairs_scaled(df, dim=16, threshold=0.99)
    dup_pairs = {(r["a"], r["b"]) for r in out.filter("is_dup").collect()}
    found = planted & dup_pairs
    recall = len(found) / len(planted)
    assert recall >= 0.95, f"planted recall {recall:.2f} ({len(found)}/{len(planted)})"
    # verification is exact: nothing below threshold flagged
    assert out.filter("is_dup AND cosine < 0.99").count() == 0


def test_embedding_lsh_plane_scaling_and_streaming_guard(spark, sf_dir):
    """planes_per_band derives ceil(log2(n / target_bucket)) floored at
    8 -- the knob that keeps per-band candidate volume ~n*target/2
    (linear) at ANY corpus size; a streaming input without n= raises
    loudly."""
    from etl_upc_syllabus_spark.operators.dedup import embedding_lsh_candidate_pairs
    from etl_upc_syllabus_spark.streaming.events import read_events_stream

    from pyspark.sql import functions as F

    df, _ = _planted_corpus(spark, n_base=40, n_dups=0)
    # n >> target: width grows (2M/1 -> 21 planes). Planes 0..7 are a
    # PREFIX of planes 0..20 in band 0, so wider buckets can only
    # split coarser ones: candidates must be a STRICT subset of the
    # 8-plane set (similar vectors legitimately still collide)
    wide = {
        (r["a"], r["b"])
        for r in embedding_lsh_candidate_pairs(
            df, dim=16, bands=1, target_bucket=1, n=2_000_000
        ).collect()
    }
    # tiny n: floor of 8 planes (the historical width)
    small = {
        (r["a"], r["b"])
        for r in embedding_lsh_candidate_pairs(df, dim=16, bands=1, n=10).collect()
    }
    assert wide < small, f"wide {len(wide)} must strictly refine small {len(small)}"

    stream = read_events_stream(spark, sf_dir).withColumn(
        "embedding", F.array(F.col("value"))
    ).withColumnRenamed("event_id", "vec_id")

    with pytest.raises(ValueError, match="needs n="):
        embedding_lsh_candidate_pairs(stream, dim=1)


def test_swapped_cosine_registry_plan_oracle_and_band0_superset(spark, sf_dir):
    """r12 swap receipt (VERDICT r10 item 3 sanction, staged+rehearsed
    r11, executed r12): the LIVE dedup_embedding_cosine registry plan
    is the banded scale path -- green vs its banded SQL oracle at the
    test SF, a SUPERSET of the pre-swap fixed single-band 8-plane pair
    set (derived planes_per_band floors at 8 at gate SFs, so band 0 IS
    the former frozen plane set; bands=1/planes_per_band=8 reproduces
    it), and the registry stays frozen at 199."""
    from etl_upc_syllabus_spark.operators.dedup import embedding_cosine_pairs_scaled
    from etl_upc_syllabus_spark.plans import all_specs
    from etl_upc_syllabus_spark.sources.tables import load_table

    from .oracle_harness import compare, duckdb_run

    specs = all_specs()
    assert "dedup_embedding_cosine_scaled" not in specs
    assert len(specs) == 199
    spec = specs["dedup_embedding_cosine"]
    sdf = spec.fn(spark, sf_dir)
    compare(sdf, duckdb_run(spec.oracle, sf_dir), "dedup_embedding_cosine")

    pre_swap = embedding_cosine_pairs_scaled(
        load_table(spark, sf_dir, "embeddings"),
        dim=64,
        threshold=0.95,
        bands=1,
        planes_per_band=8,
    )
    f_pairs = {(r["a"], r["b"]) for r in pre_swap.select("a", "b").collect()}
    t_pairs = {(r["a"], r["b"]) for r in sdf.select("a", "b").collect()}
    assert f_pairs <= t_pairs, "band 0 must reproduce every pre-swap pair"

    # INDEPENDENT anchor (review r12): both sides above share the
    # plane-derivation code, so a regression there would keep the
    # superset check green while the pre-swap pair set silently
    # changes. Pin the pre-swap set against literals computed from the
    # pre-swap shape on the sf0.001 fixture -- any drift in
    # hyperplane_bucket / plane weights / offset math trips this.
    if sf_dir.rstrip("/").endswith("sf0.001"):
        import hashlib

        ordered = sorted(f_pairs)
        digest = hashlib.sha256(
            ";".join(f"{a},{b}" for a, b in ordered).encode()
        ).hexdigest()
        assert len(ordered) == 500
        assert ordered[:3] == [(1, 249), (2, 25), (4, 101)]
        assert digest == (
            "5c34a6194416422362733951f5c1c1b9f5697d56931dfbf0d9f782decf76cba4"
        )
