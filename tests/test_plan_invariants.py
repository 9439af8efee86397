"""Plan-invariant regression tests (VERDICT r6 item 4).

The scale-critical physical-plan properties were previously verified
by hand in PLANS.md; a silent planner regression between driver checks
would go unnoticed. These tests pin them in pytest:

- the dedup family never shuffles raw document text (the
  corpus-never-shuffles property: every Exchange carries signatures,
  hashes, ids, or candidate-restricted arrays -- never the `text`
  column);
- every headline top-k query plans TakeOrderedAndProject (per-partition
  heaps), never a global Sort + Limit;
- bounded-dim joins are BroadcastHashJoin, never SortMergeJoin;
- per-query shuffle-count budgets: the audit's node-id-unique exchange
  count must not exceed the PLANS.md-documented value (a regression
  that adds an exchange at 100 TB adds a full network pass over the
  intermediate);
- the ANN index paths never shuffle embedding vectors (assignment and
  encode are narrow; only codes/ids/distances cross the network).

Counting uses explain.audit_row (unique plan-node ids, cache-aware);
column-level checks parse the formatted detail sections, where every
node lists its Input/Output attributes.
"""

from __future__ import annotations

import re

import pytest

from etl_upc_syllabus_spark.explain import audit_row, plan_of
from etl_upc_syllabus_spark.plans import all_specs


def _rows(spark, sf_dir, name):
    df = all_specs()[name].fn(spark, sf_dir)
    tree, formatted = plan_of(df)
    return audit_row(name, tree, formatted), formatted


def _live_plan(spark, sf_dir, name):
    """(tree, formatted) plan BEFORE any lifecycle localCheckpoint.

    The release-after-materialize queries return checkpoint-backed
    DataFrames whose executed plan is a bare Scan ExistingRDD -- a
    vacuous target for plan assertions. Their _build_* companions
    expose the live plan (and hand back the registered caches, which
    we deregister after inspection)."""
    from etl_upc_syllabus_spark.plans import dedup_queries as dq
    from etl_upc_syllabus_spark.plans import text_queries as tq

    builders = {
        "dedup_containment": dq._build_dedup_containment,
        "dedup_lsh_recall": dq._build_dedup_lsh_recall,
        "dedup_minhash_lsh": dq._build_dedup_minhash_lsh,
        "dedup_pipeline_e2e": dq._build_dedup_pipeline_verified,
        "text_ngram_novelty": tq._build_text_ngram_novelty,
    }
    if name not in builders:
        return plan_of(all_specs()[name].fn(spark, sf_dir))
    result, *caches = builders[name](spark, sf_dir)
    try:
        return plan_of(result)
    finally:
        for c in caches:
            c.unpersist()


def _exchange_bodies(formatted: str) -> list[str]:
    """Detail-section bodies of Exchange nodes (their Input [..] lists
    name every attribute that crosses the network).

    RoundRobinPartitioning exchanges are excluded: the only source is
    sources.tables.fan_out's FIXTURE workaround for single-row-group
    parquet (spreads the one-task scan across cores; real multi-row-
    group data never triggers it), so it is not part of the plan shape
    under test -- the invariants here are about the hash/range
    exchanges the query itself requires at scale."""
    parts = re.split(r"^\((\d+)\) ", formatted, flags=re.M)
    seen: dict[str, str] = {}
    for i in range(1, len(parts) - 1, 2):
        nid, body = parts[i], parts[i + 1]
        op = body.split("\n", 1)[0].split(" ")[0].split("(")[0].strip()
        if op == "Exchange" and "RoundRobinPartitioning" not in body:
            seen.setdefault(nid, body)
    return list(seen.values())


# --- corpus-never-shuffles (dedup family) ---------------------------------

DEDUP_TEXT_NEVER_SHUFFLES = [
    "dedup_exact",
    "dedup_minhash_bands",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_containment",
    "dedup_incremental_batch",
    "dedup_pipeline_e2e",
    "text_ngram_novelty",
]


@pytest.mark.parametrize("name", DEDUP_TEXT_NEVER_SHUFFLES)
def test_dedup_never_shuffles_text(spark, sf_dir, name):
    """No Exchange in the dedup family may carry the raw document text
    column: signatures/hashes/ids move, the corpus does not. At 100 TB
    a text-bearing exchange is the difference between shuffling
    megabytes and shuffling the corpus. Checkpoint-materialized queries
    are inspected through their _build_* pre-checkpoint plans, and the
    assertion requires a NON-EMPTY exchange list for the multi-stage
    pipelines so a checkpoint-masked plan can't pass vacuously."""
    _, formatted = _live_plan(spark, sf_dir, name)
    bodies = _exchange_bodies(formatted)
    if name in ("dedup_minhash_lsh", "dedup_containment", "dedup_lsh_recall",
                "text_ngram_novelty", "dedup_incremental_batch",
                "dedup_pipeline_e2e"):
        assert bodies, f"{name}: no live exchanges found -- plan masked?"
    for body in bodies:
        assert not re.search(r"\btext#\d+", body), (
            f"{name}: raw text column crosses an Exchange:\n{body[:500]}"
        )


def test_minhash_signature_build_is_narrow(spark, sf_dir):
    """dedup_minhash_bands (scan -> shingles -> K mins -> band hashes)
    must stay a zero-exchange narrow pipeline -- the property that
    makes MinHash the 100 TB near-dedup path."""
    row, _ = _rows(spark, sf_dir, "dedup_minhash_bands")
    assert row["shuffles"] == 0, row


def test_minhash_lsh_shuffle_budget(spark, sf_dir):
    """dedup_minhash_lsh's full pipeline runs 5 unique exchanges
    (band self-join + candidate verification; PLANS.md). A higher
    count means a regression re-introduced the r4-era explode/groupBy
    round-trips of corpus-sized intermediates. Counted on the live
    plan: the registry fn returns a checkpoint scan with 0 exchanges,
    which would pass any budget."""
    row = audit_row("dedup_minhash_lsh", *_live_plan(spark, sf_dir, "dedup_minhash_lsh"))
    assert row["counted_by"] == "node_id", row
    assert 0 < row["shuffles"] <= 5, row


# --- top-k must never global-sort ------------------------------------------

TOPK_QUERIES = [
    "sort_topk",
    "q3_shipping_priority",
    "copurchase_affinity_topk",
    "dq_heavy_hitters",
]


@pytest.mark.parametrize("name", TOPK_QUERIES)
def test_topk_uses_takeordered(spark, sf_dir, name):
    row, _ = _rows(spark, sf_dir, name)
    assert row["topk_no_sort"] == "yes", (
        f"{name}: top-k lost TakeOrderedAndProject (global sort regression)"
    )


# --- bounded dims broadcast, never sort-merge ------------------------------

DIM_JOIN_QUERIES = [
    "q3_shipping_priority",
    "q5_region_revenue",
    "join_broadcast_dims",
    "flagship_weekly_calendar",
]


@pytest.mark.parametrize("name", DIM_JOIN_QUERIES)
def test_dim_joins_broadcast(spark, sf_dir, name):
    row, _ = _rows(spark, sf_dir, name)
    assert row["sortmerge_joins"] == 0, (
        f"{name}: a dim join degraded to SortMergeJoin: {row}"
    )


# --- shuffle-count budgets (headline + scale-sensitive) ---------------------

SHUFFLE_BUDGETS = {
    # single-agg queries: exactly one exchange
    "q1_pricing_summary": 1,
    "window_topk_per_group": 1,
    # two-level rollup (r16): exchange 1 carries per-(flag,status)
    # partial aggregates (|groups| rows), exchange 2 the rolled-up
    # grouping sets of those few rows -- neither is a full-data pass;
    # the win is that the 3x grouping-set Expand no longer multiplies
    # the fact table (paired probe 2.07x, value-identical)
    "agg_rollup": 2,
    "dedup_exact": 1,
    "text_quality_score": 0,
    "similarity_topk_bruteforce": 1,
    "similarity_topk_lsh": 1,
    "similarity_topk_pq_adc": 2,
    "similarity_topk_ivf": 1,
    "similarity_topk_ivf_pq": 2,  # ADC partial/final agg + rank window
    "similarity_topk_ivf_pq_rerank": 3,  # ADC's 2 + the exact re-rank window
}


@pytest.mark.parametrize("name", sorted(SHUFFLE_BUDGETS))
def test_shuffle_budget(spark, sf_dir, name):
    row, _ = _rows(spark, sf_dir, name)
    assert row["shuffles"] <= SHUFFLE_BUDGETS[name], (
        f"{name}: exchange count {row['shuffles']} exceeds the "
        f"documented budget {SHUFFLE_BUDGETS[name]} -- a new shuffle "
        f"is a new full network pass at 100 TB"
    )


# --- ANN paths never shuffle vectors ----------------------------------------

ANN_VECTOR_NEVER_SHUFFLES = [
    "similarity_topk_ivf",
    "similarity_topk_ivf_pq",
    "similarity_topk_ivf_pq_rerank",
    "similarity_topk_pq_adc",
    "embedding_pq_encode",
]


@pytest.mark.parametrize("name", ANN_VECTOR_NEVER_SHUFFLES)
def test_ann_never_shuffles_vectors(spark, sf_dir, name):
    """IVF assignment and PQ encode are narrow (codebooks folded as
    literals); queries rank codes, not vectors. No Exchange may carry
    the embedding array -- the r7 assign_ivf_clusters rework exists
    precisely because the old window-based argmin shuffled K copies of
    every corpus vector."""
    _, formatted = _rows(spark, sf_dir, name)
    for body in _exchange_bodies(formatted):
        assert not re.search(r"\bembedding#\d+", body) and not re.search(
            r"\b(v|q_emb|c_emb|c_emb2)#\d+", body
        ), f"{name}: embedding vectors cross an Exchange:\n{body[:500]}"


# --- expression single-evaluation (the CollapseProject trap) -----------------


def test_shingle_tokenizer_not_inlined_per_element(spark, sf_dir):
    """The r7 shingle/minhash rework exists because Catalyst's
    CollapseProject inlines a projected expression into every consumer
    reference: the naive element_at-per-shingle form re-ran the regex
    tokenizer ~2.6k times per document and the md5 16 times per shingle
    (97 s cold at sf1 -> 10 s after the fix). The formatted plan prints
    each inlined copy, so occurrence counts pin the property: the
    tokenizer and the shingle md5 must each appear only a small
    constant number of times (zip-slice build + one-fold signatures),
    never O(k) per element or O(num_hashes) per permutation."""
    _, formatted = _rows(spark, sf_dir, "dedup_minhash_bands")
    n_tok = formatted.count("regexp_replace")
    n_md5 = formatted.count("md5")
    assert n_tok <= 4, f"tokenizer inlined {n_tok}x -- per-element re-evaluation is back"
    assert n_md5 <= 6, f"md5 inlined {n_md5}x -- per-permutation re-hash is back"


# --- graph wedge pipeline (pre-checkpoint; VERDICT r8 review) --------------


def test_triangle_pipeline_shuffles_only_narrow_ids(spark, sf_dir):
    """The triangle wedge pipeline's live plan (via the _build_
    companion -- the registry fn checkpoints to a bare scan) must keep
    its documented budget (<= 8 unique hash exchanges) and every
    exchange must carry ONLY graph-internal long columns (edge
    endpoints, degrees, wedge corners, counts) -- never a lineitem
    attribute. At 100 TB the wedge shuffle is the dominant network
    cost; a part/order attribute riding along multiplies it."""
    from etl_upc_syllabus_spark.plans import graph_queries as gq

    result, *caches = gq._build_triangle_pipeline(spark, sf_dir)
    try:
        _, formatted = plan_of(result)
    finally:
        for c in caches:
            c.unpersist()
    bodies = _exchange_bodies(formatted)
    assert bodies, "triangle pipeline: no live exchanges found -- plan masked?"
    # budget raised 8 -> 11 deliberately (r17): the SHUFFLE_HASH hints
    # on the wedge and closing joins (operators/graph.py _tri_of --
    # they stop the 41M-row wedge stream being SORTED for a sort-merge
    # semi; measured 4.56 s -> 2.80 s, counts identical) defeat
    # EXPLAIN's ReusedExchange detection for the formerly-shared
    # sorted exchanges, so the FORMATTED plan prints the o-by-u and
    # deg subtree exchanges per consumer instead of once. Runtime AQE
    # stage reuse still dedupes identical exchanges; wall-clock and
    # row equality were the promotion gates. The payload-narrowness
    # assertion below is the load-bearing invariant and is unchanged.
    assert len(bodies) <= 11, f"wedge pipeline exchange budget exceeded: {len(bodies)}"
    allowed = {
        "a", "b", "u", "v", "w", "dv", "da", "db", "d", "node",
        "n_triangles", "ok", "pk", "src", "dst", "count",
    }
    for body in bodies:
        for attr in set(re.findall(r"(\w+)#\d+", body)):
            assert attr in allowed, (
                f"non-graph attribute '{attr}' crosses a wedge-pipeline "
                f"exchange:\n{body[:400]}"
            )


# --- checkpoint-label honesty (ADVICE r8) -----------------------------------


def test_checkpoint_scan_under_trivial_wrapper_is_flagged():
    """A localCheckpoint scan under a trivial Project/Filter must not
    be labeled node_id with near-zero counts -- that is exactly the
    'genuinely narrow plan' misread the checkpointed flag exists to
    prevent. Bare scan -> 'checkpointed'; trivially wrapped scan ->
    'checkpoint+trivial'; a real plan (parquet scan) stays node_id."""
    bare = "(1) Scan ExistingRDD[id#1L, v#2]\nOutput [2]: [id#1L, v#2]\n"
    assert audit_row("x", "", bare)["counted_by"] == "checkpointed"

    wrapped = (
        "(1) Project [id#1L]\nInput [2]: [id#1L, v#2]\n"
        "(2) Filter (id#1L > 1)\nInput [2]: [id#1L, v#2]\n"
        "(3) Scan ExistingRDD[id#1L, v#2]\nOutput [2]: [id#1L, v#2]\n"
    )
    assert audit_row("x", "", wrapped)["counted_by"] == "checkpoint+trivial"

    real = (
        "(1) Project [id#1L]\nInput [2]: [id#1L, v#2]\n"
        "(2) Scan parquet [id#1L, v#2]\nLocation: InMemoryFileIndex\n"
    )
    assert audit_row("x", "", real)["counted_by"] == "node_id"

    # a checkpoint scan JOINED into a bigger plan is NOT checkpoint-
    # masked -- live operators above it must keep their real counts
    mixed = (
        "(1) HashAggregate [id#1L]\nInput [1]: [id#1L]\n"
        "(2) Scan ExistingRDD[id#1L, v#2]\nOutput [2]: [id#1L, v#2]\n"
    )
    assert audit_row("x", "", mixed)["counted_by"] == "node_id"
