"""Catalog-wide physical-plan audit: NO query in the driver contract
may plan a Cartesian product, a row-at-a-time Python UDF, an
undeclared Arrow/pandas eval node, or an unbounded global sort.
(Complements the targeted assertions in test_plans.py.)"""

from __future__ import annotations

import re

import pytest

from opengauss_tools_datachecker_performance_spark.entry_queries import QUERIES

SF = "/root/testdata/sf0.001"

#: documented Arrow-batched paths (multimodal decode, binary-Avro
#: codec — no spark-avro jar in the pip distro — and the BLAS gemm
#: top-k, whose whole point is the Arrow batch boundary)
ALLOW_ARROW = {
    "multimodal_features",
    "frame_sample_plan",
    "debezium_avro_binary",
    "cosine_topk_fast",
    "multimodal_resize",
}

#: documented BroadcastNestedLoopJoin users — bounded by construction:
#: cosine_topk is the |Q|-broadcast exactness baseline (corpus never
#: shuffles); ann_ivf broadcasts the n_cells≈16 centroid frame into the
#: assignment pass; drift_quantile_profile cross-joins the ONE-row
#: global-quantile aggregate into the per-group frame. Everything else
#: must stay equi-join only.
#: embedding_near_dup_ivf shares ann_ivf's centroid broadcast (its
#: candidate pair join itself is a cell equi-join — see the targeted
#: assertion in test_operators_wave3)
#: lm_surprisal / tfidf_top_terms cross-join a ONE-row scalar
#: aggregate (vocabulary size / corpus size) into the scored frame
#: (same shape as drift_quantile_profile's global quantiles)
ALLOW_BNLJ = {
    "cosine_topk",
    "ann_ivf",
    "drift_quantile_profile",
    # checks.drift.drift_from_profiles: the same ONE-row baseline
    # broadcast into the per-partition profile frame
    "drift_tdigest",
    "embedding_near_dup_ivf",
    "lm_surprisal",
    "tfidf_top_terms",
    # shares ann_ivf's broadcast-centroid assignment pass
    "semantic_decontaminate",
    # the persisted-index twin of ann_ivf: same ≤16-row centroid
    # broadcast in the assignment/probe passes
    "ann_index_query",
    # broadcast 16-row PQ codebook into the encode/LUT passes (same
    # shape as ann_ivf's centroid broadcast)
    "ann_ivf_pq",
    # inherits lm_surprisal's ONE-row vocab-scalar cross join (the
    # scoring subtree feeding the prune)
    "budget_prune",
    # ONE-row total-count scalar cross join feeding the exact bin
    # formula (same shape as lm_surprisal's vocab scalar); the rank
    # itself comes from global_rank's bounded passes
    "equidepth_histogram_price",
}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_catalog_plan_is_clean(spark, name):
    plan = QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, name
    if name not in ALLOW_BNLJ:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: non-equi join planned as BNLJ (O(n*m) at scale)"
        )
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    if name not in ALLOW_ARROW:
        for node in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan, f"{name}: undeclared Python node {node}"
    if "rangepartitioning" in plan:
        assert "TakeOrderedAndProject" in plan or name in ALLOW_ARROW, (
            f"{name}: unbounded global sort"
        )
    _assert_global_windows_bounded(name, plan)


# --- single-partition window audit -----------------------------------
# A Window with no PARTITION BY runs in ONE task. That is fine exactly
# when its input is bounded by construction (a grouped aggregate's
# output, a top-k, a limit) — e.g. the phase-2 rankings in mixing_plan
# (per-source aggregate), vocab_stats (two-phase salted top-K) and
# ann_ivf_pq (per-query re-rank candidates). Anything else is a global
# scan through one task and must fail review here.

#: physical nodes that cap the row count of the frame feeding the window
_BOUNDED_PRODUCERS = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "GlobalLimit",
    "CollectLimit",
)

_CONNECTOR = re.compile(r"\+\-|:\-")


def _node_indent(line: str) -> int:
    m = _CONNECTOR.search(line)
    return m.start() if m else -1


def _top_level_groups(s: str) -> int:
    """#comma-separated bracket groups at depth 0 in a Window node spec:
    3 = partitioned ([funcs], [partSpec], [orderSpec]), 2 = global."""
    depth, groups = 0, 1
    for ch in s:
        if ch == "[":
            depth += 1
        elif ch == "]":
            depth -= 1
        elif ch == "," and depth == 0:
            groups += 1
    return groups


def _assert_global_windows_bounded(name: str, plan: str) -> None:
    lines = plan.splitlines()
    for li, line in enumerate(lines):
        i = line.find("Window [")
        if i < 0:
            continue
        if _top_level_groups(line[i + len("Window "):]) >= 3:
            continue  # partitioned window — parallel, not audited here
        wi = _node_indent(line)
        subtree = []
        for nxt in lines[li + 1:]:
            if _node_indent(nxt) <= wi:
                break
            subtree.append(nxt)
        assert any(
            node in s for s in subtree for node in _BOUNDED_PRODUCERS
        ), (
            f"{name}: single-partition Window over an unbounded frame "
            f"(no aggregate/top-k/limit below it):\n{line.strip()}\n"
            + "\n".join(s.rstrip() for s in subtree[:8])
        )


# --- driver-hash-stable output schema gate ----------------------------
# The round-3 driver sample turned 6 catalog entries red for ONE
# mechanical reason: output columns whose type converts differently
# through the two engines' pandas paths (Spark toPandas vs DuckDB
# .df()).  decimal -> decimal.Decimal vs float64, HUGEINT/windowed SUM
# -> float64, array -> unhashable ndarray, nullable boolean -> None vs
# NaN.  The catalog ground rule (entry_queries.py header) is therefore
# ENFORCED here: every driver-facing output column must be a type both
# paths map identically — string, int/long/short, boolean.  Floats,
# decimals, arrays, maps, structs and timestamps must be canonicalized
# (round -> decimal -> string, concat_ws, epoch seconds) BEFORE the
# entry returns.  scripts/driver_hash_repro.py replays the driver's
# exact comparison when adding entries.

from pyspark.sql.types import (  # noqa: E402
    BooleanType,
    ByteType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
)

_HASH_STABLE_TYPES = (
    StringType,
    LongType,
    IntegerType,
    ShortType,
    ByteType,
    BooleanType,
)

@pytest.mark.parametrize("name", sorted(QUERIES))
def test_catalog_output_schema_hash_stable(spark, name):
    # No grandfathered exemptions: the round-4 leftovers (timestamp /
    # double columns in column_rule_projection, decontaminate,
    # repetition_stats) were canonicalized in round 5 — every catalog
    # output column must be string/int/bigint/boolean, no exceptions.
    schema = QUERIES[name](spark, SF).schema
    offenders = [
        f"{f.name}: {f.dataType.simpleString()}"
        for f in schema.fields
        if not isinstance(f.dataType, _HASH_STABLE_TYPES)
    ]
    assert not offenders, (
        f"{name}: driver-hash-unstable output column(s) {offenders} — "
        "canonicalize to string/bigint/boolean in BOTH the Spark entry "
        "and the DuckDB oracle (see entry_queries.py ground rules)"
    )


# --- broadcast discipline on corpus-proportional frames ---------------
# Candidate-pair sets, stop-shingle sets, duplicated-hash candidate
# sets, and dangling-reference sets grow with corpus near-dup density /
# vocabulary / violation rate: an unconditional F.broadcast hint on
# them is a driver OOM at 100 TB (a validator must survive the
# pathological corpus — that is its job).  They must route through
# operators.skew.small_side (AQE runtime size check decides; pinned
# only in the AQE-off diagnostic config).  Bounded frames (centroids,
# per-partition offsets, one-row scalars) may still hint statically —
# this gate polices every module whose join sides are corpus- or
# violation-proportional.

_NO_PINNED_BROADCAST_MODULES = [
    # every join side corpus-derived (pair pipeline)
    "opengauss_tools_datachecker_performance_spark.operators.dedup",
    # violation-proportional frames: dangling refs, duplicate k_hashes
    "opengauss_tools_datachecker_performance_spark.checks.referential",
    "opengauss_tools_datachecker_performance_spark.checks.span_rules",
    "opengauss_tools_datachecker_performance_spark.checks.uniqueness",
]


@pytest.mark.parametrize("modname", _NO_PINNED_BROADCAST_MODULES)
def test_no_unconditional_broadcast(modname):
    import importlib
    import inspect

    src = inspect.getsource(importlib.import_module(modname))
    assert "F.broadcast(" not in src, (
        f"{modname} must not pin broadcasts on corpus-/violation-"
        "proportional frames — use operators.skew.small_side"
    )


def test_static_front_order_is_applied():
    """The driver samples the FIRST 50 catalog entries; the committed
    static order (no verdict-file reads, no import-time I/O) must
    survive any future registry shuffling."""
    from opengauss_tools_datachecker_performance_spark.entry_queries import (
        _STATIC_FRONT,
        ORACLES,
    )

    names = list(QUERIES)
    assert names[: len(_STATIC_FRONT)] == _STATIC_FRONT
    assert list(ORACLES)[: len(_STATIC_FRONT)] == [
        n for n in _STATIC_FRONT if n in ORACLES
    ]


def test_rotation_cohort_contract():
    """The front-50 contract: 25 permanent core + 25 rotating cohort,
    disjoint, every name a real catalog entry, and the total exactly
    fills the driver's sample window — an off-by-one here silently
    drops an entry out of external verification."""
    from opengauss_tools_datachecker_performance_spark.entry_queries import (
        _PERMANENT_CORE,
        _ROUND_COHORT,
        _STATIC_FRONT,
    )

    assert len(_PERMANENT_CORE) == 25
    assert len(_ROUND_COHORT) == 25
    assert len(_STATIC_FRONT) == 50
    assert not set(_PERMANENT_CORE) & set(_ROUND_COHORT)
    assert len(set(_STATIC_FRONT)) == 50
    missing = [n for n in _STATIC_FRONT if n not in QUERIES]
    assert not missing, f"front-50 names not in the catalog: {missing}"
