"""Exact substring-span dedup (operators/span_dedup.py): duplicated
window detection, per-doc coverage stats, and keep-first span
removal. End-to-end values are oracle-verified in the driver gate
(test_entry_oracle); these pin the operator contracts, edge cases,
and plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators import span_dedup as S

K = 5


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "a b c d e f g h"),  # canonical copy of window a..e
            (2, "x a b c d e y z"),  # non-canonical copy, offset 1
            (3, "q w e r t"),  # unique content, exactly k tokens
            (4, None),  # NULL text
            (5, "a b c"),  # shorter than k — no windows
            (6, "p p p p p p p p p p"),  # one content, 6 internal sites
        ],
        "doc_id int, text string",
    )


def test_duplicate_spans_detects_all_occurrences(docs):
    got = {
        (r.doc_id, r.span_start, r.span_end, r.n_sites)
        for r in S.duplicate_spans(docs, k=K).collect()
    }
    # detection marks BOTH copies (doc 1 and doc 2), and doc 6's six
    # identical windows merge into one maximal span covering the doc
    assert got == {(1, 0, 5, 1), (2, 1, 6, 1), (6, 0, 10, 6)}


def test_span_stats_covers_every_doc(docs):
    got = {
        r.doc_id: (r.n_tokens, r.dup_tokens, round(r.dup_frac, 4))
        for r in S.duplicate_span_stats(docs, k=K).collect()
    }
    assert got == {
        1: (8, 5, 0.625),
        2: (8, 5, 0.625),
        3: (5, 0, 0.0),
        4: (1, 0, 0.0),  # NULL text tokenizes to one empty token
        5: (3, 0, 0.0),
        6: (10, 10, 1.0),
    }


def test_strip_keeps_first_occurrence(docs):
    got = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans(docs, k=K).collect()
    }
    # canonical (min (doc, pos)) site survives: doc 1 intact, doc 2
    # stripped; doc 6 keeps exactly the canonical window's start token
    # run minus positions covered by removable windows
    assert got == {
        1: ("a b c d e f g h", 0),
        2: ("x y z", 5),
        3: ("q w e r t", 0),
        4: ("", 0),
        5: ("a b c", 0),
        6: ("p", 9),
    }


def test_strip_is_idempotent(spark, docs):
    """A second pass over cleaned text finds nothing new to strip —
    removal eliminated every non-canonical window occurrence."""
    once = S.strip_duplicate_spans(docs, k=K).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    twice = S.strip_duplicate_spans(once, k=K)
    assert twice.filter(F.col("n_removed") > 0).count() == 0


def test_intra_doc_duplicates_count(spark):
    """Two sites of one content inside a SINGLE doc are duplicates
    too (Lee et al. dedups within documents as well as across)."""
    df = spark.createDataFrame(
        [(1, "a b c d e z z a b c d e")], "doc_id int, text string"
    )
    spans = {
        (r.span_start, r.span_end)
        for r in S.duplicate_spans(df, k=K).collect()
    }
    assert spans == {(0, 5), (7, 12)}
    r = S.strip_duplicate_spans(df, k=K).collect()[0]
    assert (r.text_clean, r.n_removed) == ("a b c d e z z", 5)


def test_adjacent_spans_merge_exactly(spark):
    """Sites within k of each other merge into one span; sites
    exactly one past the coverage boundary do not."""
    # doc 10/11 duplicate windows at pos 0 and pos k (adjacent —
    # coverage [0,k) + [k,2k) merges); doc 12/13 at pos 0 and k+1
    # (gap of one token between coverages — two spans)
    a = "a b c d e f g h i j"  # pos 0..5 with k=5
    df = spark.createDataFrame(
        [
            (10, a),
            (11, a),
            (12, "a b c d e x f g h i j"),
            (13, "a b c d e y f g h i j"),
        ],
        "doc_id int, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in S.duplicate_spans(df, k=K).collect()
    }
    # docs 10/11: every window duplicated -> one merged span [0,10)
    assert (10, 0, 10) in got and (11, 0, 10) in got
    # docs 12/13: shared windows a..e at 0 and f..j at 6 -> two spans
    assert (12, 0, 5) in got and (12, 6, 11) in got


def test_no_duplicates_is_identity(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h i j")], "doc_id int, text string"
    )
    assert S.duplicate_spans(df, k=K).count() == 0
    got = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans(df, k=K).collect()
    }
    assert got == {1: ("a b c d e", 0), 2: ("f g h i j", 0)}


def test_incremental_equals_full_on_id_ordered_split(spark):
    """With old ids < new ids (ingest-time ordering), the day-N strip
    against the stored window_index equals the full-corpus strip
    restricted to the new batch: global canonicals land in the old
    side exactly when content is corpus-resident."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") < 25)
    new = docs.filter(F.col("doc_id") >= 25)
    idx = S.window_index(old, k=13)
    inc = {
        (r.doc_id, r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans_incremental(new, idx, k=13).collect()
    }
    full = {
        (r.doc_id, r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans(docs, k=13)
        .filter(F.col("doc_id") >= 25)
        .collect()
    }
    assert inc == full and inc  # non-vacuous: sf0.001 has dup windows


def test_incremental_strips_all_corpus_resident_occurrences(spark):
    """Content already in the resident corpus is stripped from EVERY
    new occurrence (the kept copy lives in the corpus), even when the
    new batch has only one occurrence of it."""
    old = spark.createDataFrame(
        [(1, "a b c d e f")], "doc_id int, text string"
    )
    new = spark.createDataFrame(
        [(10, "x a b c d e y"), (11, "fresh unique tokens only here")],
        "doc_id int, text string",
    )
    idx = S.window_index(old, k=K)
    got = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans_incremental(new, idx, k=K).collect()
    }
    assert got == {
        10: ("x y", 5),
        11: ("fresh unique tokens only here", 0),
    }


def test_incremental_batch_internal_dups_keep_first(spark):
    """Content new to the batch keeps its batch-canonical site."""
    old = spark.createDataFrame([(1, "q w e r t")], "doc_id int, text string")
    new = spark.createDataFrame(
        [(10, "a b c d e"), (11, "a b c d e")], "doc_id int, text string"
    )
    idx = S.window_index(old, k=K)
    got = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans_incremental(new, idx, k=K).collect()
    }
    assert got == {10: ("a b c d e", 0), 11: ("", 5)}


def test_index_metadata_guard_rejects_mismatched_k(spark):
    old = spark.createDataFrame([(1, "a b c d e f")], "doc_id int, text string")
    idx = S.window_index(old, k=7)
    with pytest.raises(ValueError, match="incompatible"):
        S.strip_duplicate_spans_incremental(
            spark.createDataFrame([(2, "a b")], "doc_id int, text string"),
            idx,
            k=K,
        )
    with pytest.raises(ValueError, match="span_scheme"):
        S.strip_duplicate_spans_incremental(
            spark.createDataFrame([(2, "a b")], "doc_id int, text string"),
            old.selectExpr("xxhash64(text) AS h", "1 AS cnt",
                           "doc_id AS canon_id", "0 AS canon_pos"),
            k=K,
        )


def test_index_survives_parquet_roundtrip(spark, tmp_path):
    """The parameterization metadata rides the parquet footer — a
    stored index re-read from disk still passes the guard."""
    old = spark.createDataFrame([(1, "a b c d e f")], "doc_id int, text string")
    path = str(tmp_path / "widx")
    S.window_index(old, k=K).write.parquet(path)
    idx = spark.read.parquet(path)
    new = spark.createDataFrame([(10, "z a b c d e")], "doc_id int, text string")
    got = S.strip_duplicate_spans_incremental(new, idx, k=K).collect()[0]
    assert (got.text_clean, got.n_removed) == ("z", 5)


def test_incremental_corpus_side_never_shuffles(spark):
    """Plan shape (broadcast_new=True): in the candidate stage both
    index-touching joins are broadcast — a shuffled join anywhere
    there means the stored index (corpus-scale) is being exchanged,
    which breaks the incremental cost model."""
    old = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    idx = S.window_index(old, k=13)
    new = old.filter(F.col("doc_id") >= 45)
    plan = (
        S._incremental_sites(new, idx, "text", "doc_id", 13, True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_null_doc_id_duplicates_still_strip(spark):
    """Regression (round-6 review): a NULL id sorts first in the
    canonical struct-min, and a plain != against it yields SQL NULL —
    the removable filter silently kept the duplicate. Null-safe
    comparison strips it."""
    df = spark.createDataFrame(
        [(None, "a b c d e"), (7, "a b c d e")],
        "doc_id int, text string",
    )
    got = {
        r.doc_id: (r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans(df, k=K).collect()
    }
    # NULL-id doc is canonical (sorts first); doc 7 must be stripped
    assert got[7] == ("", 5)


def test_agg_method_equals_window_method(spark):
    """The hot-content-safe agg route and the default window route
    are the same operator — differential over the fixture corpus
    plus a manufactured hot window content."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hot = spark.range(40).select(
        (F.col("id") + 10_000).cast("int").alias("doc_id"),
        F.concat(F.lit("boiler plate licence line one two "),
                 F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"), F.lit("x").alias("source"),
        F.lit(0).alias("n_chars"),
    )
    corpus = docs.unionByName(hot)
    for fn in (S.duplicate_spans, S.strip_duplicate_spans):
        a = sorted(map(tuple, fn(corpus, k=K, method="window").collect()))
        b = sorted(map(tuple, fn(corpus, k=K, method="agg").collect()))
        assert a == b and a, fn.__name__
    with pytest.raises(ValueError, match="unknown method"):
        S.duplicate_spans(docs, k=K, method="nope")


def test_auto_method_routes_boilerplate_to_agg(spark, docs):
    """method='auto' probes the hottest window content and picks the
    skew-proof agg route for a boilerplate-heavy corpus, the window
    route otherwise — removing the round-6 footgun where the caller
    had to know to ask for 'agg'. Full-fraction probe with a tiny
    threshold makes the routing deterministic in-test; the defaults
    (5% sample, 1M-occurrence estimate) are the production knobs."""
    # ordinary corpus: nothing hot
    assert (
        S.pick_span_method(docs, k=K, probe_frac=1.0, hot_threshold=20)
        == "window"
    )
    # plant one window content at 30 sites — past the threshold
    hot = spark.createDataFrame(
        [(100 + i, "same old licence boiler plate") for i in range(30)],
        "doc_id int, text string",
    )
    heavy = docs.unionByName(hot)
    assert (
        S.pick_span_method(heavy, k=K, probe_frac=1.0, hot_threshold=20)
        == "agg"
    )
    # the auto route is the same operator: differential vs explicit
    import unittest.mock as mock

    with mock.patch.object(S, "AUTO_PROBE_FRAC", 1.0), mock.patch.object(
        S, "AUTO_HOT_THRESHOLD", 20
    ):
        a = sorted(
            map(tuple, S.strip_duplicate_spans(heavy, k=K, method="auto").collect())
        )
    b = sorted(
        map(tuple, S.strip_duplicate_spans(heavy, k=K, method="agg").collect())
    )
    assert a == b and a


def test_site_table_is_narrow_no_python(docs):
    """The site projection stays JVM-side (no BatchEvalPython /
    ArrowEvalPython) and has no Exchange — hashing is codegen work."""
    plan = (
        S._site_table(docs, "text", "doc_id", K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_strip_rebuild_is_python_free(docs):
    plan = (
        S.strip_duplicate_spans(docs, k=K)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan, plan


def test_arrow_site_route_matches_native(spark, docs):
    """site_route='arrow' (_site_table_arrow — token-siphash
    polynomial windows instead of the interpreted xxhash64-of-string
    build) must produce the same strip output and the same
    (id, pos) removable-site sets as the native route — window
    EQUALITY is what both hashes encode; only the hash family
    differs. Covers the fixture edges: NULL text, doc shorter than
    k, exactly-k doc, intra-doc runs."""
    nat = {
        (r.doc_id, r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans(docs, k=K).collect()
    }
    arr = {
        (r.doc_id, r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans(
            docs, k=K, site_route="arrow"
        ).collect()
    }
    assert arr == nat
    _, rem_nat = S._dup_sites(docs, "text", "doc_id", K)
    _, rem_arr = S._dup_sites(
        docs, "text", "doc_id", K, site_route="arrow"
    )
    assert {(r["_id"], r["pos"]) for r in rem_arr.collect()} == {
        (r["_id"], r["pos"]) for r in rem_nat.collect()
    }
    with pytest.raises(ValueError):
        S.strip_duplicate_spans(docs, k=K, site_route="bogus")


def test_arrow_site_route_matches_native_on_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    nat = {
        (r.doc_id, r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans(docs, k=5).collect()
    }
    arr = {
        (r.doc_id, r.text_clean, r.n_removed)
        for r in S.strip_duplicate_spans(
            docs, k=5, site_route="arrow"
        ).collect()
    }
    assert arr == nat
    assert sum(1 for _, _, n in nat if n > 0) > 0  # non-vacuous


def test_merge_route_arrow_matches_window(spark):
    """r14 sort-free span merge (_merged_spans_arrow): identical
    (doc, text_clean, n_removed) to the WindowExec gaps-and-islands
    route, on a corpus staged so every doc strips something; and the
    min_parallelism repartition escape changes nothing but the plan."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60), F.lit(" "),
            F.substring("text", 1, 60), F.lit(" "),
            F.expr("substring(text, 61)"),
        ).alias("text"),
    )
    win = sorted(
        map(tuple, S.strip_duplicate_spans(
            docs, k=5, site_route="arrow", merge_route="window"
        ).collect())
    )
    arr = sorted(
        map(tuple, S.strip_duplicate_spans(
            docs, k=5, site_route="arrow", merge_route="arrow"
        ).collect())
    )
    assert arr == win
    assert sum(1 for _, _, n in win if n > 0) > 0
    # the arrow merge plan carries NO sort-based window over sites
    plan = (
        S.strip_duplicate_spans(
            docs, k=5, site_route="arrow", merge_route="arrow"
        )._jdf.queryExecution().executedPlan().toString()
    )
    # the dup-detection window (keyed by h) remains; the span MERGE
    # must be a hash aggregate, never a WindowExec keyed by _id
    assert "windowspecdefinition(_id" not in plan, plan
    assert "windowspecdefinition(h" in plan, plan
    barred = sorted(
        map(tuple, S.strip_duplicate_spans(
            docs, k=5, site_route="arrow", min_parallelism=4
        ).collect())
    )
    assert barred == win
    with pytest.raises(ValueError):
        S.strip_duplicate_spans(docs, k=5, merge_route="bogus")


def test_merged_spans_arrow_unit(spark):
    """Span math of the vectorized merge: positions {0,1,2, 9, 20,21}
    at k=5 merge to [0,7),[9,14),[20,26) per the gaps-and-islands
    rule (break when pos > prev + k)."""
    rem = spark.createDataFrame(
        [(1, p) for p in (0, 1, 2, 9, 20, 21)], "_id long, pos int"
    )
    rows = S._merged_spans_arrow(rem, 5).collect()
    assert len(rows) == 1
    spans = sorted(
        (s["span_start"], s["span_end"]) for s in rows[0]["_spans"]
    )
    assert spans == [(0, 7), (9, 14), (20, 26)]


def test_strip_with_index_matches_full(spark):
    """r14 indexed full strip: against an arrow-family window_index
    built over the same corpus, strip_duplicate_spans_with_index must
    return exactly strip_duplicate_spans' rows — detection via the
    broadcast df>=2 verdict set instead of the corpus-wide site
    shuffle. Family/k mismatches refuse loudly."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60), F.lit(" "),
            F.substring("text", 1, 60), F.lit(" "),
            F.expr("substring(text, 61)"),
        ).alias("text"),
    )
    idx = S.window_index(docs, k=5, site_route="arrow")
    full = sorted(
        map(tuple, S.strip_duplicate_spans(
            docs, k=5, site_route="arrow"
        ).collect())
    )
    via_idx = sorted(
        map(tuple, S.strip_duplicate_spans_with_index(
            docs, idx, k=5
        ).collect())
    )
    assert via_idx == full
    assert sum(1 for _, _, n in full if n > 0) > 0
    # the detection side of the indexed plan has no site-wide shuffle:
    # no Window at all, and the only joins are the broadcast verdict
    # lookup + the rebuild join
    plan = (
        S.strip_duplicate_spans_with_index(docs, idx, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "windowspecdefinition(h" not in plan, plan
    # an EXPLICIT family mismatch refuses; k mismatches refuse
    nidx = S.window_index(docs, k=5)  # native-family index
    with pytest.raises(ValueError, match="span_scheme"):
        S.strip_duplicate_spans_with_index(
            docs, nidx, k=5, site_route="arrow"
        )
    with pytest.raises(ValueError, match="span_k"):
        S.strip_duplicate_spans_with_index(docs, idx, k=7)
    # native probe against a native index also round-trips
    via_nat = sorted(
        map(tuple, S.strip_duplicate_spans_with_index(
            docs, nidx, k=5, site_route="native"
        ).collect())
    )
    assert via_nat == full
    # r15 (r14 ADVICE): the NAIVE pairing — default-route window_index
    # into default-route strip — auto-detects the index's family
    # instead of refusing on the default mismatch, for BOTH families
    via_auto_nat = sorted(
        map(tuple, S.strip_duplicate_spans_with_index(
            docs, nidx, k=5
        ).collect())
    )
    assert via_auto_nat == full


def test_broadcast_dups_auto_routes_both_ways(spark):
    """r15 (r14 VERDICT task 3): broadcast_dups='auto' asks the
    standing index for the cnt>=2 verdict-set size — a generous
    budget routes to the broadcast join (hint present), a zero budget
    to the shuffle join (no hint), and BOTH produce the direct
    strip's exact rows."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 60), F.lit(" "),
            F.substring("text", 1, 60), F.lit(" "),
            F.expr("substring(text, 61)"),
        ).alias("text"),
    )
    idx = S.window_index(docs, k=5, site_route="arrow")
    assert S.pick_dups_route(idx) == "broadcast"
    assert S.pick_dups_route(idx, max_bytes=0) == "shuffle"

    full = sorted(
        map(tuple, S.strip_duplicate_spans(
            docs, k=5, site_route="arrow"
        ).collect())
    )

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    bc = S.strip_duplicate_spans_with_index(docs, idx, k=5)  # auto
    assert "ResolvedHint" in analyzed(bc)
    assert sorted(map(tuple, bc.collect())) == full

    sh = S.strip_duplicate_spans_with_index(
        docs, idx, k=5, broadcast_dups_max_bytes=0
    )
    assert "ResolvedHint" not in analyzed(sh)
    assert sorted(map(tuple, sh.collect())) == full
