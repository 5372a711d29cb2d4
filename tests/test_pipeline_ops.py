"""Training-data curation operators (operators/pipeline.py):
decontamination, quota capping, deterministic splits and mixes.
The end-to-end values are oracle-verified in the driver gate
(test_entry_oracle); these pin the operator contracts and plan
shapes."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators import pipeline as P

SF = "/root/testdata/sf0.001"


def test_decontaminate_removes_exact_and_reformatted(spark):
    corpus = spark.createDataFrame(
        [(1, "Hello  World"), (2, "unrelated text"), (3, "hello world")],
        ["doc_id", "text"],
    )
    eval_set = spark.createDataFrame([(99, "hello   world")], ["doc_id", "text"])
    kept = sorted(
        r.doc_id for r in P.decontaminate(corpus, eval_set).collect()
    )
    # both formatting variants of the eval doc are gone
    assert kept == [2]


def test_decontaminate_is_broadcast_anti_join(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    plan = (
        P.decontaminate(docs, eval_set)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cap_per_group_deterministic(spark):
    df = spark.createDataFrame(
        [("a", i, f"r{i}") for i in range(10)] + [("b", 0, "x")],
        ["grp", "ord", "payload"],
    )
    capped = P.cap_per_group(df, "grp", ["ord"], 3)
    got = sorted((r.grp, r.ord) for r in capped.collect())
    assert got == [("a", 0), ("a", 1), ("a", 2), ("b", 0)]


def test_cap_per_group_strategies_agree_and_shape_plans(spark):
    """All strategy combinations keep the same rows; the default
    suppresses Spark's map-side WindowGroupLimit (pure overhead at
    high group cardinality — measured 3× at the 100× point), while
    group_limit_pushdown=True re-enables it for few-giant-groups
    workloads."""
    df = spark.createDataFrame(
        [(f"g{i % 7}", j, f"p{i}-{j}") for i in range(21) for j in range(i % 5 + 1)],
        ["grp", "ord", "payload"],
    )
    want = sorted(
        map(tuple, P.cap_per_group(df, "grp", ["ord", "payload"], 2).collect())
    )
    for tp in (False, True):
        for pd_ in (False, True):
            got = sorted(
                map(
                    tuple,
                    P.cap_per_group(
                        df, "grp", ["ord", "payload"], 2,
                        two_phase=tp, group_limit_pushdown=pd_,
                    ).collect(),
                )
            )
            assert got == want, (tp, pd_)

    def plan_of(q):
        return q._jdf.queryExecution().executedPlan().toString()

    assert "WindowGroupLimit" not in plan_of(
        P.cap_per_group(df, "grp", ["ord", "payload"], 2)
    )
    assert "WindowGroupLimit" in plan_of(
        P.cap_per_group(
            df, "grp", ["ord", "payload"], 2, group_limit_pushdown=True
        )
    )


def test_cap_per_group_null_group_is_capped_on_every_route(spark):
    """Regression (round-6 review): the two-phase route's equi-joins
    never matched a NULL group key, so null-key rows bypassed the
    quota entirely while the window route capped them. The null-safe
    join must make all strategies agree: NULL is one group like any
    other."""
    df = spark.createDataFrame(
        [(None, i, f"n{i}") for i in range(5)]
        + [("g", i, f"g{i}") for i in range(5)],
        "grp string, ord int, payload string",
    )
    key = lambda t: (t[0] is not None, t[0] or "", t[1])  # noqa: E731
    want = sorted(
        ((r.grp, r.ord)
         for r in P.cap_per_group(df, "grp", ["ord"], 2).collect()),
        key=key,
    )
    assert want == [(None, 0), (None, 1), ("g", 0), ("g", 1)]
    got = sorted(
        ((r.grp, r.ord)
         for r in P.cap_per_group(
             df, "grp", ["ord"], 2, two_phase=True
         ).collect()),
        key=key,
    )
    assert got == want


def test_hash_split_stable_and_partitioning_invariant(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = {
        r.doc_id: r.split for r in P.hash_split_assign(docs).collect()
    }
    b = {
        r.doc_id: r.split
        for r in P.hash_split_assign(docs.repartition(13)).collect()
    }
    assert a == b  # membership depends on the id alone
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert 0.6 * n <= train <= 0.95 * n  # roughly 80%, small-N tolerance


def test_scrub_pii_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "mail a@b.co and c.d+x@e.org, ip 10.0.0.1, tel +48 123-456-789"),
            (2, "clean text with no pii at all"),
        ],
        ["id", "t"],
    )
    got = df.select(
        "id",
        "t",
        P.scrub_pii(F.col("t")).alias("red"),
        P.pii_count(F.col("t"), "email").alias("ne"),
        P.pii_count(F.col("t"), "ipv4").alias("ni"),
        P.pii_count(F.col("t"), "phone").alias("np"),
    ).collect()
    r1 = next(r for r in got if r.id == 1)
    assert (r1.ne, r1.ni, r1.np) == (2, 1, 1)
    assert r1.red == "mail [EMAIL] and [EMAIL], ip [IP], tel [PHONE]"
    r2 = next(r for r in got if r.id == 2)
    assert (r2.ne, r2.ni, r2.np) == (0, 0, 0)
    assert r2.red == r2.t  # clean text passes through unchanged


def test_pack_sequences_budget_and_oversize(spark):
    rows = [
        # bucket 0: 300+300 overflow -> split; then 600 oversize alone
        (1, 0, 300),
        (2, 0, 300),
        (3, 0, 600),
        (4, 0, 100),
        # bucket 1: all fit in one pack
        (5, 1, 100),
        (6, 1, 200),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "bucket", "n_tokens"])
    got = {
        r.doc_id: r.pack_id
        for r in P.pack_sequences(df, budget=512).collect()
    }
    # greedy: doc1 pack0(300), doc2 overflows -> pack1(300), doc3
    # 300+600>512 -> pack2 alone (oversize), doc4 600+100>512 -> pack3
    assert got == {1: 0, 2: 1, 3: 2, 4: 3, 5: 0, 6: 0}


def test_pack_sequences_partitioning_invariant(spark):
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(
            "doc_id",
            P.hash_bucket(F.col("doc_id"), 32).alias("bucket"),
            (F.col("n_chars") % 97 + 1).cast("long").alias("n_tokens"),
        )
    )
    a = {r.doc_id: r.pack_id for r in P.pack_sequences(docs).collect()}
    b = {
        r.doc_id: r.pack_id
        for r in P.pack_sequences(docs.repartition(7)).collect()
    }
    assert a == b and len(a) == docs.count()


def test_repetition_stats_short_docs(spark):
    from wroclaw_bike_stats_spark.operators import text as T

    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "word"), (3, "")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in T.repetition_stats(df).collect()}
    # "a b a b a": 2-grams [a b, b a, a b, b a] -> top 2 of 4
    assert (got[1].top2_count, got[1].total_2grams) == (2, 4)
    assert abs(got[1].dup_word_frac - (1 - 2 / 5)) < 1e-9
    # <2 tokens: no 2-grams, zero dup fraction
    assert (got[2].top2_count, got[2].total_2grams, got[2].dup_word_frac) == (0, 0, 0.0)
    assert (got[3].top2_count, got[3].total_2grams, got[3].dup_word_frac) == (0, 0, 0.0)


def test_segment_repetition_stats_lines(spark):
    """Gopher duplicate-line stats (r12): hand-computed values,
    whitespace-only segment dropping, NULL/empty text, and the
    char-fraction accounting (repeat OCCURRENCES' chars / total)."""
    from wroclaw_bike_stats_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "aa\nbb\naa\ncc"),   # 4 segs, 1 dup pair
            (2, "xx\n  \nxx\nxx"),   # ws-only seg dropped; xx ×3
            (3, "solo"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in T.segment_repetition_stats(df).collect()}
    # doc 1: n=4 distinct=3 → dup_frac 0.25; chars 8, first-chars 6
    assert got[1].n_segments == 4
    assert got[1].dup_seg_frac == 0.25
    assert got[1].dup_seg_char_frac == 0.25
    # doc 2: segs [xx, xx, xx] → dup 2/3; chars 6, firsts 2
    assert got[2].n_segments == 3
    assert abs(got[2].dup_seg_frac - (1 - 1 / 3)) < 1e-4
    assert abs(got[2].dup_seg_char_frac - (4 / 6)) < 1e-4
    for d in (3,):
        assert (got[d].dup_seg_frac, got[d].dup_seg_char_frac) == (0.0, 0.0)
    for d in (4, 5):
        assert got[d].n_segments == 0
        assert (got[d].dup_seg_frac, got[d].dup_seg_char_frac) == (0.0, 0.0)


def test_segment_repetition_paragraph_mode_and_filter(spark):
    """sep_pattern='\\n{2,}' groups lines into paragraphs; the filter
    keeps exactly the docs under both Gopher bounds and matches a
    stats-side reimplementation of the predicate."""
    from wroclaw_bike_stats_spark.operators import text as T

    dup_para = "p one\nstill p one\n\np one\nstill p one\n\nother"
    clean = "p one\n\np two\n\np three"
    df = spark.createDataFrame(
        [(1, dup_para), (2, clean)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r
        for r in T.segment_repetition_stats(
            df, sep_pattern=r"\n{2,}"
        ).collect()
    }
    assert got[1].n_segments == 3 and got[1].dup_seg_frac > 0.3
    assert got[2].n_segments == 3 and got[2].dup_seg_frac == 0.0

    # the composed filter with only the paragraph rules binding
    kept = {
        r.doc_id
        for r in T.gopher_repetition_filter(
            df,
            max_dup_line_frac=1.0,
            max_dup_line_char_frac=1.0,
            max_top_ngram_share={},
            max_dup_ngram_char_frac={},
        ).collect()
    }
    assert kept == {2}


def test_word_ngrams_generalizes_bigrams(spark):
    """word_ngrams(n=2) must equal word_bigrams on arbitrary text
    (the chained zip_with fold vs the original two-slice zip), and
    n=3 must produce the expected windows with the <n guard."""
    from wroclaw_bike_stats_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "a b c d"),
            (2, "one two"),
            (3, "solo"),
            (4, ""),
            (5, "  x   y  z "),
        ],
        "doc_id long, text string",
    )
    rows = df.select(
        "doc_id",
        T.word_bigrams(F.col("text")).alias("bi"),
        T.word_ngrams(F.col("text"), 2).alias("n2"),
        T.word_ngrams(F.col("text"), 3).alias("n3"),
    ).collect()
    for r in rows:
        assert r.bi == r.n2, r.doc_id
    got = {r.doc_id: r for r in rows}
    assert got[1].n3 == ["a b c", "b c d"]
    assert got[2].n3 == []
    assert got[3].n3 == []
    with pytest.raises(ValueError, match="n must be"):
        T.word_ngrams(F.col("text"), 0)
    # NULL contract (ADVICE r13): NULL text normalizes to [] for
    # EVERY n — one semantics across n=1 and n>=2
    nrow = (
        spark.createDataFrame([(9, None)], "doc_id long, text string")
        .select(
            T.word_ngrams(F.col("text"), 1).alias("n1"),
            T.word_ngrams(F.col("text"), 2).alias("n2"),
            T.word_ngrams(F.col("text"), 3).alias("n3"),
        )
        .collect()[0]
    )
    assert nrow.n1 == [] and nrow.n2 == [] and nrow.n3 == []


def test_top_ngram_stats_and_char_fraction_signal(spark):
    """top_ngram_stats (native explode route, the oracle shape)
    returns hand-computable counts; gopher_repetition_signals
    returns the PAPER's character fraction for the same docs —
    count × gram chars / total chars, tie on count broken by the
    longer gram."""
    from wroclaw_bike_stats_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b"),   # 3-grams: abc,bca,cab,abc,bca,cab -> top 2 of 6
            (2, "x y"),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    native = {r.doc_id: r for r in T.top_ngram_stats(df, 3).collect()}
    assert (native[1].top3_count, native[1].total_3grams) == (2, 6)
    assert (native[2].top3_count, native[2].total_3grams) == (0, 0)
    assert (native[3].top3_count, native[3].total_3grams) == (0, 0)
    sig = T.gopher_repetition_signals(
        F.col("text"), top_ns=(3,), mask_ns=()
    )
    got = {
        r.doc_id: r.s[0]
        for r in df.select(
            "doc_id", sig.getField("top_shares").alias("s")
        ).collect()
    }
    # doc 1: joined chars 15, best 3-gram count 2 × len 5 -> 10/15
    assert got[1] == pytest.approx(10 / 15, abs=1e-4)
    assert got[2] == 0.0 and got[3] == 0.0


def test_dup_ngram_char_fracs_overlap_aware(spark):
    """The duplicate-n-gram char fraction counts each character ONCE
    no matter how many duplicated n-grams cover it (the Gopher
    definition), and is 0/1 at the extremes."""
    from wroclaw_bike_stats_spark.operators import text as T

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),    # every 2-gram duplicated -> 1.0
            (2, "a a a b c d e"),  # only 'a a' dup: covers 'a a a' = 5 of 13
            (3, "q w e r t y"),    # no dups -> 0.0
            (4, ""),
        ],
        "doc_id long, text string",
    )
    fr = T.gopher_repetition_signals(
        F.col("text"), top_ns=(), mask_ns=(2,)
    ).getField("dup_char_fracs")
    got = {r.doc_id: r.f[0] for r in df.select("doc_id", fr.alias("f")).collect()}
    assert got[1] == 1.0
    assert got[2] == pytest.approx(5 / 13, abs=1e-4)
    assert got[3] == 0.0
    assert got[4] == 0.0


def test_gopher_repetition_filter_paper_rules(spark):
    """The composed filter keeps a clean doc and drops docs failing
    each rule family: duplicate lines, a dominant top-2-gram, and a
    duplicated long n-gram run."""
    from wroclaw_bike_stats_spark.operators import text as T

    # long enough that no single count-1 n-gram is >16% of the chars
    # (the paper applies these rules after its 50-word floor — a
    # 10-token doc would trip the top-2-gram CHAR bound spuriously)
    clean = "\n".join(
        " ".join(f"w{i}x{j}" for j in range(12)) for i in range(5)
    )
    dup_lines = "same line here\nsame line here\nsame line here\nother"
    top_heavy = " ".join(["spam ham"] * 30)        # one 2-gram dominates
    long_dup = "a b c d e f g h " * 4 + "tail"     # 8-gram repeated
    df = spark.createDataFrame(
        [(1, clean), (2, dup_lines), (3, top_heavy), (4, long_dup)],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in T.gopher_repetition_filter(df).collect()}
    assert kept == {1}
    # disabling families re-admits their casualties
    kept2 = {
        r.doc_id
        for r in T.gopher_repetition_filter(
            df, max_top_ngram_share={}, max_dup_ngram_char_frac={}
        ).collect()
    }
    assert 3 in kept2 and 4 in kept2 and 2 not in kept2


def test_gopher_repetition_filter_arrow_parity_and_barrier(spark):
    """impl='arrow' must keep exactly the native route's rows (same
    rules, one short-circuiting Python pass), and min_parallelism
    must pin the UDF ABOVE the repartition exchange (the
    nondeterministic barrier) — without it Catalyst pushes the filter
    to the scan, which serializes low-row-group local inputs."""
    from wroclaw_bike_stats_spark.operators import text as T

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit("\n"),
            F.substring("text", 1, 40),
            F.lit("\n"),
            F.expr("substring(text, 41)"),
        ).alias("text"),
    )
    native = {
        r.doc_id
        for r in T.gopher_repetition_filter(docs, impl="native").collect()
    }
    arrow = {
        r.doc_id
        for r in T.gopher_repetition_filter(docs, impl="arrow").collect()
    }
    assert arrow == native
    dropped = docs.count() - len(native)
    assert dropped > 0, "vacuous: the injected dup line must drop docs"

    barred = T.gopher_repetition_filter(
        docs, impl="arrow", min_parallelism=4
    )
    assert {r.doc_id for r in barred.collect()} == native
    plan = barred._jdf.queryExecution().executedPlan().toString()
    eval_pos = plan.find("ArrowEvalPython")
    exch_pos = plan.find("REPARTITION_BY_NUM")
    assert eval_pos != -1 and exch_pos != -1
    # parent-first plan text: the eval must print BEFORE (above) the
    # repartition exchange it is meant to run on top of
    assert eval_pos < exch_pos
    # and the knob cannot be silently dropped on the native route
    with pytest.raises(ValueError, match="min_parallelism requires"):
        T.gopher_repetition_filter(docs, impl="native", min_parallelism=4)


def test_gopher_repetition_filter_default_auto_routing(spark):
    """Round-14 default flip: gopher_repetition_filter defaults to
    impl='auto' (pick_gopher_rep_impl). With any n-gram family
    binding (the paper defaults) the DEFAULT call runs the one-pass
    Arrow route — per-doc short-circuit, min_parallelism escape
    available; with segment-only bounds the plan stays Python-free
    native codegen. Default-route rows == pinned-native rows."""
    from wroclaw_bike_stats_spark.operators import text as T

    assert T.pick_gopher_rep_impl((2, 3, 4), (5,)) == "arrow"
    assert T.pick_gopher_rep_impl((), ()) == "native"

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit("\n"),
            F.substring("text", 1, 40),
        ).alias("text"),
    )
    dflt = T.gopher_repetition_filter(docs)  # default impl="auto"
    dflt_exec = dflt._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in dflt_exec or "MapInPandas" in dflt_exec
    pinned = {
        r.doc_id
        for r in T.gopher_repetition_filter(docs, impl="native").collect()
    }
    assert {r.doc_id for r in dflt.collect()} == pinned
    # segment-only bounds: the default plan must be Python-free
    seg = T.gopher_repetition_filter(
        docs, max_top_ngram_share={}, max_dup_ngram_char_frac={}
    )
    seg_exec = seg._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in seg_exec and "MapInPandas" not in seg_exec
    # min_parallelism now composes with the DEFAULT (auto->arrow) call
    barred = T.gopher_repetition_filter(docs, min_parallelism=4)
    assert {r.doc_id for r in barred.collect()} == pinned


def _no_gram_shuffle(plan: str) -> bool:
    """True when the only exchanges in ``plan`` are round-robin input
    fan-outs: no hash partitioning, no join and no hash aggregation,
    i.e. nothing shuffles or re-joins a gram stream."""
    exchanges = re.findall(r"Exchange (\w+)", plan)
    return (
        all(e == "RoundRobinPartitioning" for e in exchanges)
        and "hashpartitioning" not in plan
        and "Join" not in plan
        and "HashAggregate" not in plan
    )


def test_repetition_stats_default_auto_is_arrow(spark):
    """Round-14 default flip: repetition_stats defaults to
    impl='auto' -> the arrow struct route (no Exchange from the gram
    stream in the plan), byte-equal to the pinned native explode+agg
    route. The under-parallel input fan-out (a round-robin Exchange
    below the Arrow pass, operators/fanout.py) is allowed."""
    from wroclaw_bike_stats_spark.operators import text as T

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    dflt = T.repetition_stats(docs)  # default impl="auto"
    dflt_exec = dflt._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in dflt_exec
    assert _no_gram_shuffle(dflt_exec), dflt_exec
    native = T.repetition_stats(docs, impl="native")
    native_exec = native._jdf.queryExecution().executedPlan().toString()
    # the check must reject the native route's gram shuffles and join-back
    assert not _no_gram_shuffle(native_exec), native_exec
    assert sorted(map(tuple, dflt.collect())) == sorted(
        map(tuple, native.collect())
    )


def test_repetition_stats_arrow_parity(spark):
    """impl="arrow" (r11: repetition_2gram_struct — zero-shuffle
    per-doc column) must be byte-parity with the native explode+agg
    route, including the tokenization edge cases the arrow routes
    mirror deliberately: NBSP is NOT whitespace (Java \\s), trim
    strips spaces only (tab-only docs keep their empty-string
    tokens), null text, repeated runs of spaces, and mode ties."""
    from wroclaw_bike_stats_spark.operators import text as T

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [
            (900001, "a b a b a"),
            (900002, "word"),
            (900003, ""),
            (900004, None),
            (900005, "x y x y x y"),  # NBSP-joined tokens
            (900006, "\t\t"),
            (900007, "  p   q  p   q  "),
            (900008, "t1 t2 t2 t3 t1 t2"),  # tie: (t1,t2) vs (t2,?)
        ],
        ["doc_id", "text"],
    )
    corpus = docs.unionByName(edge)
    nat = {
        r.doc_id: (r.dup_word_frac, r.top2_count, r.total_2grams)
        for r in T.repetition_stats(corpus, impl="native").collect()
    }
    arr = {
        r.doc_id: (r.dup_word_frac, r.top2_count, r.total_2grams)
        for r in T.repetition_stats(corpus, impl="arrow").collect()
    }
    assert nat == arr
    # and "auto" resolves to the arrow route
    aut = {
        r.doc_id: (r.dup_word_frac, r.top2_count, r.total_2grams)
        for r in T.repetition_stats(corpus, impl="auto").collect()
    }
    assert aut == nat


def test_add_global_index_dense_and_ordered(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    got = {
        r.doc_id: r.idx
        for r in P.add_global_index(docs, "doc_id", num_partitions=5).collect()
    }
    n = len(got)
    assert sorted(got.values()) == list(range(n))  # dense 0..n-1
    by_doc = [idx for _, idx in sorted(got.items())]
    assert by_doc == list(range(n))  # index follows doc_id order


def test_add_global_index_no_single_partition_sort(spark):
    """The plan must not contain a global (non-partitioned) Sort over
    the data: the window is partitioned by the range-partition id."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    plan = (
        P.add_global_index(docs, "doc_id", num_partitions=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # rangepartitioning appears (phase 1); no Exchange SinglePartition
    # feeding the big side (the only single-partition work is the
    # one-row-per-partition offsets table)
    assert "rangepartitioning" in plan.lower(), plan
    assert plan.lower().count("singlepartition") <= 1, plan


def test_weighted_mix_subset_and_weights(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "source",
        F.when(F.col("doc_id") % 2 == 0, F.lit("web")).otherwise(F.lit("books")),
    )
    mixed = P.weighted_mix_assign(docs, "source", {"web": 1.0, "books": 0.0})
    got = {r.doc_id for r in mixed.collect()}
    web = {r.doc_id for r in docs.filter("source = 'web'").collect()}
    assert got == web  # weight 1.0 keeps all, 0.0 drops all


def test_decontaminate_big_blocklist_mode(spark):
    """broadcast=False routes through a shuffled anti-join (no forced
    broadcast of a huge exclusion list) with identical results."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    a = sorted(r.doc_id for r in P.decontaminate(docs, eval_set).collect())
    b = sorted(
        r.doc_id
        for r in P.decontaminate(docs, eval_set, broadcast=False).collect()
    )
    assert a == b
    plan = (
        P.decontaminate(docs, eval_set, broadcast=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan


def test_decontaminate_ngram_drops_partial_overlap(spark):
    """A doc that embeds an eval 5-gram VERBATIM inside otherwise-new
    text must be dropped (exact-match decontam would keep it); docs
    with no 5-gram overlap survive."""
    from wroclaw_bike_stats_spark.operators.pipeline import (
        decontaminate,
        decontaminate_ngram,
    )

    eval_set = spark.createDataFrame(
        [(100, "the capital of france is paris obviously")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "quiz answer: the capital of france is paris end of quote"),
            (2, "a completely unrelated document about spark shuffles"),
            (3, "the capital of germany is berlin obviously"),
        ],
        ["doc_id", "text"],
    )
    survivors = {
        r["doc_id"]
        for r in decontaminate_ngram(corpus, eval_set, n=5).collect()
    }
    assert survivors == {2, 3}
    # exact-match decontam keeps all three (no identical normalized text)
    exact_survivors = {
        r["doc_id"] for r in decontaminate(corpus, eval_set).collect()
    }
    assert exact_survivors == {1, 2, 3}


def _has_broadcast_hint(df) -> bool:
    """Route probe below AQE: the broadcast path attaches a ResolvedHint
    to the logical plan; the shuffle path attaches none. Deterministic
    regardless of what AQE later does with runtime sizes."""
    return "strategy=broadcast" in df._jdf.queryExecution().analyzed().toString()


def test_decontaminate_auto_route_flips_at_threshold(spark):
    """broadcast=None must count the distinct exclusion fingerprints
    and flip broadcast→shuffle exactly at broadcast_max_fps."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    eval_set = docs.filter(F.col("doc_id") % 10 == 0)  # 50 distinct fps
    small = P.decontaminate(docs, eval_set, broadcast=None, broadcast_max_fps=50)
    big = P.decontaminate(docs, eval_set, broadcast=None, broadcast_max_fps=49)
    assert _has_broadcast_hint(small), "≤ threshold must broadcast"
    assert not _has_broadcast_hint(big), "> threshold must shuffle"
    # identical results either side of the flip
    assert sorted(r.doc_id for r in small.collect()) == sorted(
        r.doc_id for r in big.collect()
    )


def test_decontaminate_ngram_auto_route_flips_at_threshold(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    eval_set = docs.filter(F.col("doc_id") % 10 == 0)
    from wroclaw_bike_stats_spark.operators.dedup import _shingle_table

    n_ev = (
        _shingle_table(eval_set, "text", "doc_id", 5)
        .select("shingle")
        .distinct()
        .count()
    )
    small = P.decontaminate_ngram(
        docs, eval_set, n=5, broadcast=None, broadcast_max_fps=n_ev
    )
    big = P.decontaminate_ngram(
        docs, eval_set, n=5, broadcast=None, broadcast_max_fps=n_ev - 1
    )
    assert _has_broadcast_hint(small)
    assert not _has_broadcast_hint(big)
    assert sorted(r.doc_id for r in small.collect()) == sorted(
        r.doc_id for r in big.collect()
    )


def test_decontam_shuffle_gate_takes_shuffle_route_and_matches_docs_gate(spark):
    """The r05 gate query: its 1.2M-entry blocklist must push the auto
    route onto the shuffle anti-join, and its result must equal the
    plain decontam_docs gate (synthetic entries match nothing)."""
    import __spark_entry__ as entry_mod

    sf = "/root/testdata/sf0.001"
    shuffled = entry_mod.queries()["decontam_shuffle"](spark, sf)
    assert not _has_broadcast_hint(shuffled), "blocklist gate must shuffle"
    plain = entry_mod.queries()["decontam_docs"](spark, sf)
    assert [r.doc_id for r in shuffled.collect()] == [
        r.doc_id for r in plain.collect()
    ]


def test_chunk_documents_windows_and_edges(spark):
    """Window arithmetic: chunk i covers tokens [i*stride, i*stride+max);
    last chunk short; docs at/below max emit one chunk; empty doc emits
    one empty chunk (tokenizer contract: '' is one empty token)."""
    toks = lambda k: " ".join(f"t{j}" for j in range(k))  # noqa: E731
    df = spark.createDataFrame(
        [(1, toks(10)), (2, toks(4)), (3, toks(11)), (4, "")],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in P.chunk_documents(df, max_tokens=4, overlap=1).collect()
    }
    # doc 1: 10 tokens, stride 3 -> ceil(9/3)=3 chunks: [0,4) [3,7) [6,10)
    assert got[(1, 0)] == ("t0 t1 t2 t3", 4)
    assert got[(1, 1)] == ("t3 t4 t5 t6", 4)
    assert got[(1, 2)] == ("t6 t7 t8 t9", 4)
    assert (1, 3) not in got
    # doc 2: exactly max -> one chunk
    assert got[(2, 0)] == ("t0 t1 t2 t3", 4)
    assert (2, 1) not in got
    # doc 3: 11 tokens -> ceil(10/3)=4 chunks, last one short ([9,11))
    assert got[(3, 3)] == ("t9 t10", 2)
    # doc 4: empty -> one chunk of the single empty token
    assert got[(4, 0)] == ("", 1)


def test_chunk_documents_null_text_behaves_like_empty(spark):
    """Regression (round-6 review): text=NULL made size(tokens) = -1
    and emitted a (NULL, -1) chunk; NULL must behave like '' — one
    empty-token chunk — honoring the >= 1 chunk contract."""
    df = spark.createDataFrame(
        [(1, None), (2, "a b")], "doc_id int, text string"
    )
    got = {
        (r.doc_id, r.chunk_id): (r.chunk_text, r.n_tokens)
        for r in P.chunk_documents(df, max_tokens=4, overlap=1).collect()
    }
    assert got == {(1, 0): ("", 1), (2, 0): ("a b", 2)}


def test_chunk_documents_rejects_bad_overlap(spark):
    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    for mt, ov in ((4, 4), (4, 5), (4, -1)):
        with pytest.raises(ValueError):
            P.chunk_documents(df, max_tokens=mt, overlap=ov)


def test_chunk_documents_no_shuffle(spark):
    """Chunking is a narrow map + generate: no Exchange in the plan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (
        P.chunk_documents(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_shuffle_corpus_is_deterministic_permutation(spark):
    """r07 deterministic training-order shuffle: dense 0..n-1
    permutation, decorrelated from id order, invariant to partition
    count (the auditability/resumability contract), no RNG."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    got5 = {
        r.doc_id: r.idx
        for r in P.shuffle_corpus(docs, num_partitions=5).collect()
    }
    n = len(got5)
    assert sorted(got5.values()) == list(range(n))  # dense permutation
    by_doc = [idx for _, idx in sorted(got5.items())]
    assert by_doc != list(range(n))  # actually shuffled vs id order
    # partition-count invariance
    got11 = {
        r.doc_id: r.idx
        for r in P.shuffle_corpus(docs, num_partitions=11).collect()
    }
    assert got11 == got5
    # matches the spec: rank by (knuth(id) mod 2^32, id)
    key = {d: (d * 2654435761) % 4294967296 for d in got5}
    expect = {
        d: i for i, d in enumerate(sorted(got5, key=lambda d: (key[d], d)))
    }
    assert expect == got5
