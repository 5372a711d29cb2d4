"""Count-min sketch (operators/sketch.py): never undercounts, bounded
overcount, mergeable across shards, deterministic."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators import sketch as SK


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    # skewed term frequencies: t0 x 400, t1 x 100, t2..t40 rare
    doc = ("t0 " * 4 + "t1 ").strip()
    for i in range(100):
        rows.append((i, doc + f" rare{i % 40}"))
    rows.append((100, None))
    rows.append((101, "   "))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _exact(spark, corpus):
    return {
        r.term: r.c
        for r in SK._term_stream(corpus, "text")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }


def test_never_undercounts_and_bounded(spark, corpus):
    exact = _exact(spark, corpus)
    n = sum(exact.values())
    sk = SK.cms_build(corpus, width=64, depth=4)  # narrow → collisions
    terms = corpus.sparkSession.createDataFrame(
        [(t,) for t in exact], "term string"
    )
    est = {r.term: r.cms_count for r in SK.cms_estimate(terms, sk).collect()}
    bound = SK.cms_upper_bound(n, 64)
    assert set(est) == set(exact)
    for t, c in exact.items():
        assert est[t] >= c  # the one-sided guarantee
        assert est[t] <= c + bound
    # with 42 distinct terms in 64 buckets, some collision must exist
    assert any(est[t] > c for t, c in exact.items())


def test_absent_term_estimates_at_most_bound(spark, corpus):
    sk = SK.cms_build(corpus, width=2048, depth=4)
    terms = corpus.sparkSession.createDataFrame(
        [("never-seen-term",)], "term string"
    )
    est = SK.cms_estimate(terms, sk).collect()[0].cms_count
    n = sum(_exact(spark, corpus).values())
    assert 0 <= est <= SK.cms_upper_bound(n, 2048)


def test_sketches_merge_cellwise(spark, corpus):
    """Two shards' sketches added cell-wise == the whole corpus's
    sketch (the monoid property that makes the summary distributable)."""
    a = corpus.filter(F.col("doc_id") % 2 == 0)
    b = corpus.filter(F.col("doc_id") % 2 == 1)
    merged = {
        (r.row, r.bucket): r.cnt
        for r in SK.cms_build(a, width=128)
        .unionByName(SK.cms_build(b, width=128))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    whole = {
        (r.row, r.bucket): r.cnt
        for r in SK.cms_build(corpus, width=128).collect()
    }
    assert merged == whole


def test_deterministic(spark, corpus):
    s1 = sorted(map(tuple, SK.cms_build(corpus).collect()))
    s2 = sorted(map(tuple, SK.cms_build(corpus).collect()))
    assert s1 == s2


@pytest.mark.parametrize("empty", [False, True], ids=["normal", "empty"])
def test_dense_local_equals_dense(spark, corpus, empty):
    """``cms_dense_local`` (one bounded collect, LocalRelation) serves the
    same row, type and (depth, width) metadata as the lazy ``cms_dense``
    — the ppl_cms_bound gate's certified bound scores through it."""
    docs = corpus.filter(F.lit(False)) if empty else corpus
    sk = SK.cms_build(docs, width=64, depth=3)
    lazy, local = SK.cms_dense(sk), SK.cms_dense_local(sk)
    # same map<bigint,array<bigint>> type; only nullability differs
    # (a pandas-built LocalRelation is nullable)
    assert lazy.schema.simpleString() == local.schema.simpleString()
    assert lazy.schema["_cms"].metadata == local.schema["_cms"].metadata == {
        "cms_depth": 3,
        "cms_width": 64,
    }
    got = local.collect()
    assert got == lazy.collect()
    cms = got[0]["_cms"]
    assert sorted(cms) == [0, 1, 2] and all(len(a) == 64 for a in cms.values())
    assert (sum(cms[0]) == 0) == empty


def test_dense_forms_need_sketch_metadata(spark):
    bare = spark.createDataFrame([(0, 1, 5)], "row long, bucket long, cnt long")
    for dense in (SK.cms_dense, SK.cms_dense_local):
        with pytest.raises(ValueError, match="metadata"):
            dense(bare)
