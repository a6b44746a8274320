"""Randomized property tests (hypothesis): the Spark diff core must
agree with the pure-Python oracle on ARBITRARY corpora, not just the
seeded synthetic one.  Mirrors the reference's golden-test idea
(SURVEY.md §5) with generated inputs instead of fixtures.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from opengauss_tools_datachecker_performance_spark.operators.diff import diff_docs
from tests.oracle import canon_spans, classify, first_divergence

DOC_SCHEMA = (
    "doc_id string, "
    "spans array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

_kind = st.sampled_from(["text", "media", "rule"])
_text = st.one_of(st.none(), st.text(max_size=8))


def _spans(draw, n):
    # unique offsets per doc: Spark's sort_array ties would otherwise
    # break on (kind, text, media_ref) while Python's stable sort keeps
    # input order — the engine contract only covers unique offsets.
    offs = draw(
        st.lists(st.integers(0, 1000), min_size=n, max_size=n, unique=True)
    )
    out = []
    for i in range(n):
        k = draw(_kind)
        out.append(
            {
                "kind": k,
                "text": draw(_text),
                "media_ref": f"m{draw(st.integers(0, 5))}" if k == "media" else None,
                "offset": offs[i],
            }
        )
    return out


@st.composite
def corpus_pair(draw):
    n_docs = draw(st.integers(2, 12))
    src = {}
    for i in range(n_docs):
        src[f"d{i}"] = _spans(draw, draw(st.integers(1, 5)))
    sink = {}
    for k, spans in src.items():
        action = draw(st.sampled_from(["keep", "keep", "drop", "mutate"]))
        if action == "keep":
            sink[k] = [dict(s) for s in spans]
        elif action == "mutate":
            m = [dict(s) for s in spans]
            j = draw(st.integers(0, len(m) - 1))
            field = draw(st.sampled_from(["text", "kind", "offset"]))
            if field == "offset":
                m[j]["offset"] = m[j]["offset"] + 2000  # stays unique
            else:
                m[j][field] = (m[j][field] or "") + "!"
            sink[k] = m
        # drop → absent in sink (an 'insert' diff)
    for i in range(draw(st.integers(0, 3))):  # sink-only docs ('delete')
        sink[f"x{i}"] = _spans(draw, draw(st.integers(1, 3)))
    return src, sink


def _df(spark, docs: dict):
    return spark.createDataFrame(
        [(k, v) for k, v in docs.items()], DOC_SCHEMA
    )


@pytest.mark.parametrize("two_phase", [True, False])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pair=corpus_pair())
def test_diff_matches_python_oracle_on_random_corpora(spark, two_phase, pair):
    src, sink = pair
    got = {
        t: {r["key"] for r in rows}
        for t, rows in _group(
            diff_docs(_df(spark, src), _df(spark, sink), two_phase=two_phase)
            .collect()
        ).items()
    }
    want = classify(
        {k: canon_spans(v) for k, v in src.items()},
        {k: canon_spans(v) for k, v in sink.items()},
    )
    for t in ("insert", "update", "delete"):
        assert got.get(t, set()) == want[t], (t, src, sink)


def _group(rows):
    out: dict[str, list] = {}
    for r in rows:
        out.setdefault(r["diff_type"], []).append(r)
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pair=corpus_pair())
def test_locate_spans_matches_body_locator_on_random_corpora(spark, pair):
    """The in-join span locator (digest-frame hash arrays,
    classify_diff(locate_spans=True)) must agree with the oracle's
    body comparison (first_divergence) on ARBITRARY mutations —
    text/kind/offset edits, added/dropped spans, null text."""
    import pyspark.sql.functions as F

    from opengauss_tools_datachecker_performance_spark.digest import (
        _enriched_digests,
    )
    from opengauss_tools_datachecker_performance_spark.operators.diff import (
        diff_digests,
    )

    src, sink = pair
    sdf = _df(spark, src).withColumn("part", F.lit(0))
    tdf = _df(spark, sink).withColumn("part", F.lit(0))
    diffs = diff_digests(
        _enriched_digests(sdf),
        _enriched_digests(tdf),
        two_phase=True,
        carry_cols=["part"],
        locate_spans=True,
    )
    got = {
        r["key"]: r["span_idx"]
        for r in diffs.filter(F.col("diff_type") == "update").collect()
    }
    cs = {k: canon_spans(v) for k, v in src.items()}
    ct = {k: canon_spans(v) for k, v in sink.items()}
    want = {k: first_divergence(cs[k], ct[k]) for k in classify(cs, ct)["update"]}
    assert got == want, (src, sink)


@st.composite
def permuted_pair(draw):
    """Sink = source with its contents permuted among the keys (swaps,
    cycles), and optionally two equal-content docs rewritten the same
    way — moves that leave a key-free XOR of the contents unchanged."""
    n = draw(st.integers(2, 8))
    contents = [_spans(draw, draw(st.integers(1, 3))) for _ in range(n)]
    twin = draw(st.booleans())
    if twin:
        contents[1] = [dict(s) for s in contents[0]]
    perm = draw(st.permutations(range(n)))
    src = {f"d{i}": contents[i] for i in range(n)}
    sink = {f"d{i}": [dict(s) for s in contents[j]] for i, j in enumerate(perm)}
    if twin:
        new = _spans(draw, draw(st.integers(1, 3)))
        sink["d0"], sink["d1"] = new, [dict(s) for s in new]
    return src, sink


@pytest.mark.parametrize("num_buckets", [1, 4])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pair=permuted_pair())
def test_two_phase_diff_catches_permuted_contents(spark, num_buckets, pair):
    """Contents moved between keys are updates: the two-phase prune's
    bucket signature binds each row hash to its key."""
    from opengauss_tools_datachecker_performance_spark.digest import doc_digests
    from opengauss_tools_datachecker_performance_spark.operators.diff import (
        diff_digests,
    )

    src, sink = pair
    got = _group(
        diff_digests(
            doc_digests(_df(spark, src), num_buckets=num_buckets),
            doc_digests(_df(spark, sink), num_buckets=num_buckets),
            two_phase=True,
        ).collect()
    )
    want = classify(
        {k: canon_spans(v) for k, v in src.items()},
        {k: canon_spans(v) for k, v in sink.items()},
    )
    for t in ("insert", "update", "delete"):
        assert {r["key"] for r in got.get(t, [])} == want[t], (t, src, sink)


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    keys=st.lists(
        st.integers(-(2**40), 2**40), min_size=1, max_size=200, unique=True
    ),
    n_buckets=st.integers(1, 16),
)
def test_global_rank_property(spark, keys, n_buckets):
    """global_rank == enumerate(sorted(keys)) for ARBITRARY unique
    integer keys (negatives, clusters, huge spreads) at any bucket
    count — the deterministic-bucket zipWithIndex must be exact."""
    from opengauss_tools_datachecker_performance_spark.operators.skew import (
        global_rank,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {
        r["k"]: r["rn"]
        for r in global_rank(df, ["k"], n_buckets=n_buckets).collect()
    }
    assert got == {k: i + 1 for i, k in enumerate(sorted(keys))}


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(-(10**6), 10**6), min_size=1, max_size=150
    ),
    n_bins=st.integers(1, 12),
)
def test_equidepth_histogram_property(spark, vals, n_bins):
    """equidepth_histogram == the brute-force rank/bin fold for
    ARBITRARY value multisets (duplicates, negatives, single value) at
    any bin count: bin counts within 1, edges = per-bin min/max."""
    import math

    from opengauss_tools_datachecker_performance_spark.checks.distributions import (
        equidepth_histogram,
    )

    rows = [(float(v), i) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "v double, k long")
    got = {
        r["bin"]: (r["n"], float(r["v_lo"]), float(r["v_hi"]))
        for r in equidepth_histogram(df, "v", ["k"], n_bins=n_bins).collect()
    }
    n = len(rows)
    expect: dict[int, list[float]] = {}
    for rank0, (v, _) in enumerate(sorted(rows)):
        expect.setdefault(math.floor(rank0 * n_bins / n), []).append(v)
    assert {
        b: (len(vs), min(vs), max(vs)) for b, vs in expect.items()
    } == got


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(st.integers(0, 10**9), min_size=1, max_size=150, unique=True),
    seed=st.integers(0, 3),
)
def test_hash_split_partition_property(spark, ids, seed):
    """hash_split assigns EVERY id exactly one split, identically for
    the same (id, seed) regardless of what else is in the frame."""
    from opengauss_tools_datachecker_performance_spark.operators.splits import (
        hash_split,
    )

    fr = [("train", 0.8), ("val", 0.1), ("test", 0.1)]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    full = {r["doc_id"]: r["split"] for r in hash_split(df, "doc_id", fr, seed).collect()}
    assert set(full) == set(ids)
    assert all(s in {"train", "val", "test"} for s in full.values())
    half_ids = ids[: max(1, len(ids) // 2)]
    half = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            spark.createDataFrame([(i,) for i in half_ids], "doc_id long"),
            "doc_id",
            fr,
            seed,
        ).collect()
    }
    assert all(full[i] == half[i] for i in half_ids)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["x", "y", "z", "footer", "nav"]), min_size=1, max_size=6),
        min_size=1,
        max_size=20,
    ),
    min_docs=st.integers(2, 4),
)
def test_boilerplate_removal_property(spark, docs, min_docs):
    """remove_boilerplate_report == the brute-force Python fold for
    arbitrary line multisets: distinct-doc frequency, per-doc removal
    counts, order-preserving reconstruction."""
    from opengauss_tools_datachecker_performance_spark.operators.lines import (
        remove_boilerplate_report,
    )

    rows = [(str(i), "\n".join(lines)) for i, lines in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    freq: dict[str, int] = {}
    for _, text in rows:
        for line in set(text.split("\n")):
            freq[line] = freq.get(line, 0) + 1
    boiler = {l for l, n in freq.items() if n >= min_docs}
    got = {
        r["doc_id"]: (r["n_lines"], r["n_removed"])
        for r in remove_boilerplate_report(df, min_docs=min_docs).collect()
    }
    for doc_id, text in rows:
        lines = text.split("\n")
        removed = sum(1 for l in lines if l in boiler)
        assert got[doc_id] == (len(lines), removed), (doc_id, boiler)
