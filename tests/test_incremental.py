"""Incremental dedup-against-index: tier semantics, the probabilistic
'near' tier on planted perturbations, and the plan-shape guarantee
that the historical side is scanned — never re-shingled."""

import pytest

from pyspark.sql import functions as F

from htmlparser_spark.operators.incremental import (
    build_dedup_index,
    dedup_against_index,
)

OLD = [
    (0, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "completely different historical content about parquet tables"),
    (4, "a third old document with its own words and nothing shared"),
]


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dedup_idx"))
    old = spark.createDataFrame(OLD, "doc_id long, text string")
    m = build_dedup_index(old, path, parallelism=2)
    assert m["n_docs"] == 3
    return path


def test_tiers_exact_normalized_none(spark, index_dir):
    new = spark.createDataFrame(
        [(101, OLD[0][1]),                       # exact copy of 0
         (102, OLD[1][1].upper()),               # case-normalized of 2
         (103, "  " + OLD[2][1] + "  "),         # whitespace-norm of 4
         (104, "an entirely novel document that matches nothing old")],
        "doc_id long, text string")
    out = {r.doc_id: (r.dup_kind, r.matched_old)
           for r in dedup_against_index(new, index_dir,
                                        threshold=None).collect()}
    assert out == {101: ("exact", 0), 102: ("normalized", 2),
                   103: ("normalized", 4), 104: ("none", None)}


def test_near_tier_on_perturbed_docs(spark, index_dir):
    """A doc that differs from history by an appended word: not exact,
    different shingle set, but MinHash signature agreement is high —
    the 'near' tier must catch it (fixed corpus + fixed seed, so this
    is deterministic in practice)."""
    new = spark.createDataFrame(
        [(201, OLD[0][1] + " tail"),
         (202, "totally unrelated text that shares no shingles at all")],
        "doc_id long, text string")
    out = {r.doc_id: (r.dup_kind, r.matched_old)
           for r in dedup_against_index(new, index_dir,
                                        threshold=0.5).collect()}
    assert out[201] == ("near", 0)
    assert out[202] == ("none", None)


def test_history_is_scanned_not_reshingled(spark, index_dir):
    """THE incremental-scale property: the only Python (signature)
    stage in the probe plan runs over the NEW batch; the historical
    side enters as parquet scans of the index tables. With the
    probabilistic tier disabled there is no Python stage at all."""
    new = spark.createDataFrame(
        [(301, "probe document one"), (302, "probe document two")],
        "doc_id long, text string")
    probing = dedup_against_index(new, index_dir, threshold=0.8)
    plan = probing._jdf.queryExecution().executedPlan().toString()
    # the signature UDF appears only inside the cached NEW-batch sig
    # relation (printed once per consumer, executed once); no third
    # occurrence may exist, i.e. none over a history scan
    assert 0 < plan.count("ArrowEvalPython") <= 2
    assert "dedup_idx" in plan                      # index parquet scans
    # index scans read precomputed keys/signatures — never text, so
    # re-shingling history is structurally impossible in this plan
    for line in plan.splitlines():
        if "dedup_idx" in line and "ReadSchema" in line:
            assert "text" not in line
    deterministic = dedup_against_index(new, index_dir, threshold=None)
    plan2 = deterministic._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan2
    assert "MapInPandas" not in plan2
    assert "MapInArrow" not in plan2


def test_exact_beats_near_priority(spark, index_dir):
    new = spark.createDataFrame([(401, OLD[0][1])],
                                "doc_id long, text string")
    out = dedup_against_index(new, index_dir, threshold=0.5).collect()
    assert out[0].dup_kind == "exact" and out[0].matched_old == 0


def test_corpus_diff_statuses(spark):
    from htmlparser_spark.operators.incremental import corpus_diff
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "doc_id long, text string")
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "same", 3: "changed", 4: "added"}
    # texts are pruned before the join: only ids+hashes shuffle
    plan = corpus_diff(old, new)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "FullOuter" in plan or "full_outer" in plan.lower()
