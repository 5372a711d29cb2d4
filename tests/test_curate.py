"""End-to-end curation plan (plans/curate.py): stage composition,
determinism, and the CLI surface."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators import text as T
from wroclaw_bike_stats_spark.plans.curate import (
    curate_corpus,
    curation_report,
    write_curated,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_curate_removes_eval_and_duplicates(spark, docs):
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    # plant an exact duplicate pair (reformatted) that must collapse
    extra = spark.createDataFrame(
        [
            (100001, "planted duplicate body of text here ok fine yes ten", "en", "web", 50),
            (100002, "planted  duplicate body of text  here ok fine yes ten", "en", "web", 50),
        ],
        docs.schema,
    )
    curated = curate_corpus(docs.unionByName(extra), eval_set, min_tokens=5)
    out = curated.select("doc_id", "text", "split").cache()

    # eval fingerprints gone
    eval_fps = {
        r.fp
        for r in eval_set.select(
            T.fingerprint_md5(F.col("text")).alias("fp")
        ).collect()
    }
    out_fps = {
        r.fp
        for r in out.select(T.fingerprint_md5(F.col("text")).alias("fp")).collect()
    }
    assert not (eval_fps & out_fps)
    # no duplicate fingerprints survive; first-writer (smaller id) kept
    assert len(out_fps) == out.count()
    kept = sorted(
        r.doc_id for r in out.filter(F.col("doc_id") > 100000).collect()
    )
    assert kept == [100001]
    # every row has a split
    assert out.filter(~F.col("split").isin("train", "val", "test")).count() == 0


def test_curate_deterministic(spark, docs):
    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    a = sorted(
        (r.doc_id, r.split)
        for r in curate_corpus(docs, eval_set).select("doc_id", "split").collect()
    )
    b = sorted(
        (r.doc_id, r.split)
        for r in curate_corpus(
            docs.repartition(13), eval_set
        ).select("doc_id", "split").collect()
    )
    assert a == b


def test_curate_is_one_lazy_plan(spark, docs):
    """Composition must not hide eager actions: building the plan
    triggers no jobs (status poll of the sc should show no change)."""
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    _ = curate_corpus(docs, docs.limit(5))
    after = tracker.getJobIdsForGroup(None)
    assert before == after


def test_curate_full_is_one_lazy_plan(spark, docs):
    """The round-7 stages (perplexity band + span strip) keep the
    zero-jobs-until-action contract UNDER lm_impl="native": training
    the LM is lazy (two groupBys) and the vocab size is a lazy 1-row
    cross join. The round-10 default lm_impl="auto" resolves to the
    Arrow scorer, whose model collect at plan-construction time is
    the plan's documented eager exception (the decontam_mode="bloom"
    precedent) — pinned here so the exception stays deliberate, and
    its output must equal the native route's byte-for-byte."""
    from wroclaw_bike_stats_spark.operators.text import train_bigram_lm

    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 7 == 3))
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    _ = curate_corpus(
        docs, docs.limit(5), lm=lm, max_ppl=40.0, strip_spans=True,
        lm_impl="native",
    )
    after = tracker.getJobIdsForGroup(None)
    assert before == after

    # the auto default IS eager (model collect) — a deliberate,
    # documented exception, not an accident
    auto = curate_corpus(
        docs, docs.limit(5), lm=lm, max_ppl=40.0, strip_spans=True
    )
    after_auto = tracker.getJobIdsForGroup(None)
    assert after_auto != after, "auto route no longer collects a model?"
    native_out = curate_corpus(
        docs, docs.limit(5), lm=lm, max_ppl=40.0, strip_spans=True,
        lm_impl="native",
    )
    assert {tuple(r) for r in auto.collect()} == {
        tuple(r) for r in native_out.collect()
    }


def test_curate_corpus_scale_model_regime(spark, docs):
    """lm_broadcast_model=False (round-11 ADVICE fix) declares a
    corpus-scale/untrimmed model: the default lm_impl="auto" must
    then resolve to the fully-lazy NATIVE route (no model collect at
    plan-construction time, no jobs until action) with identical
    output, and an explicit lm_impl="arrow" pin must raise the
    scorer's corpus-scale ValueError instead of collecting — the
    guard text.py's bigram_lm_score always had, now reachable
    through curate_corpus."""
    from wroclaw_bike_stats_spark.operators.text import train_bigram_lm

    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 7 == 3))
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    lazy = curate_corpus(
        docs, docs.limit(5), lm=lm, max_ppl=40.0,
        lm_broadcast_model=False,
    )
    after = tracker.getJobIdsForGroup(None)
    assert before == after, "auto+corpus-scale regime ran jobs at build"

    native_out = curate_corpus(
        docs, docs.limit(5), lm=lm, max_ppl=40.0, lm_impl="native"
    )
    assert {tuple(r) for r in lazy.collect()} == {
        tuple(r) for r in native_out.collect()
    }

    with pytest.raises(ValueError, match="broadcast_model=False"):
        curate_corpus(
            docs, docs.limit(5), lm=lm, max_ppl=40.0,
            lm_impl="arrow", lm_broadcast_model=False,
        )


def test_curate_rep_impl_routes_agree(spark, docs):
    """rep_impl (r11): the default "auto" routes the repetition stage
    through the zero-shuffle Arrow column (no join-back, stays lazy);
    its survivors must equal the oracle-shape "native" explode+agg
    route's byte-for-byte, including with a planted doc that the
    top-2-gram cap drops (non-vacuous stage)."""
    loop2 = " ".join(["rep loop"] * 20)  # top2 share ~0.5+ -> dropped
    extra = spark.createDataFrame(
        [(300001, loop2, "en", "web", 40)], docs.schema
    )
    corpus = docs.unionByName(extra)
    kw = dict(min_tokens=5, max_top2gram_frac=0.3, scrub=False)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    auto = curate_corpus(corpus, None, **kw)
    assert tracker.getJobIdsForGroup(None) == before, "arrow rep ran jobs"
    native = curate_corpus(corpus, None, rep_impl="native", **kw)
    a = {tuple(r) for r in auto.collect()}
    n = {tuple(r) for r in native.collect()}
    assert a == n
    assert 300001 not in {t[0] for t in a}, "vacuous: cap dropped nothing"


def test_curate_repetition_rules_stage(spark, docs):
    """repetition_rules (r12): the optional full Gopher repetition
    stage drops a planted duplicate-line doc, equals the manual
    composition (curate-without-stage then the standalone filter),
    and the default None leaves the output byte-identical to
    pre-r12."""
    dup_lines = "same line text here\n" * 5 + "one two three four five six"
    extra = spark.createDataFrame(
        [(300002, dup_lines, "en", "web", 40)], docs.schema
    )
    corpus = docs.unionByName(extra)
    kw = dict(min_tokens=5, scrub=False)

    base = curate_corpus(corpus, None, **kw)
    base_rows = {tuple(r) for r in base.collect()}
    assert 300002 in {t[0] for t in base_rows}, "planted doc survives base"

    staged = curate_corpus(corpus, None, repetition_rules={}, **kw)
    staged_rows = {tuple(r) for r in staged.collect()}
    assert 300002 not in {t[0] for t in staged_rows}
    manual = {
        tuple(r)
        for r in T.gopher_repetition_filter(base).collect()
    }
    assert staged_rows == manual

    arrow = curate_corpus(
        corpus, None, repetition_rules={"impl": "arrow"}, **kw
    )
    assert {tuple(r) for r in arrow.collect()} == staged_rows


def test_curate_ppl_band_and_span_strip(spark, docs):
    """Composition semantics: a doc outside the ppl band is dropped;
    a duplicated 13-token span planted in two surviving docs is
    stripped from the later one only (keep-first), and untouched docs
    keep their token sequence (modulo the rebuild's whitespace
    normalization).

    Band direction quirk of the tiny synthetic vocabulary (~31
    words): an all-UNSEEN doc scores ppl = V = |vocab|+1 ~ 32-37,
    INSIDE the band, so the dropped plant sits on the LOW side — a
    5-word loop trained into the reference slice (200007 % 7 == 3)
    scores ppl ~ 1.4, far under min_ppl."""
    from wroclaw_bike_stats_spark.operators.text import train_bigram_lm

    span = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"
    loop = " ".join(["red green blue cyan pink"] * 8)
    extra = spark.createDataFrame(
        [
            (200001, f"first host document starts here {span} and then keeps going onward", "en", "web", 50),
            (200002, f"second host document begins now {span} before wrapping up entirely today", "en", "web", 50),
            (200007, loop, "en", "web", 50),
        ],
        docs.schema,
    )
    corpus = docs.unionByName(extra)
    lm = train_bigram_lm(corpus.filter(F.col("doc_id") % 7 == 3))
    out = curate_corpus(
        corpus,
        None,
        min_tokens=5,
        lm=lm,
        max_ppl=40.0,
        min_ppl=23.0,
        strip_spans=True,
        scrub=False,
    )
    planted = {
        r.doc_id: r.text
        for r in out.filter(F.col("doc_id") > 200000).collect()
    }
    # the in-reference loop doc: near-certain bigrams -> ppl ~ 1,
    # under the band floor
    assert 200007 not in planted
    # keep-first: the span survives in the smaller id, stripped after
    assert span in planted[200001]
    assert span not in planted[200002]
    assert planted[200002].startswith("second host document begins now")


def test_write_and_report(spark, docs, tmp_path):
    out_dir = str(tmp_path / "curated")
    curated = curate_corpus(docs, None, min_tokens=5)
    write_curated(curated, out_dir)
    back = spark.read.parquet(out_dir)
    rep = curation_report(back, docs)
    assert rep["rows_out"] == back.count() > 0
    assert rep["rows_in"] == docs.count()
    assert set(rep["splits"]) <= {"train", "val", "test"}
    # PII scrub ran on the output text
    assert back.filter(F.col("text").rlike("@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count() == 0


def test_cli_curate(spark, tmp_path, capsys):
    from wroclaw_bike_stats_spark.cli import main

    out_dir = str(tmp_path / "cli_out")
    main(
        [
            "curate",
            "--docs", f"{SF}/documents.parquet",
            "--out", out_dir,
            "--min-tokens", "5",
        ]
    )
    line = capsys.readouterr().out.strip().splitlines()[-1]
    rep = json.loads(line)
    assert rep["rows_in"] == 500 and rep["rows_out"] > 0
    assert spark.read.parquet(out_dir).count() == rep["rows_out"]


def test_cli_curate_full_stages(spark, tmp_path, capsys):
    """The round-7 stages reach the CLI: LM band + span strip flags
    produce a curated corpus and a report."""
    from wroclaw_bike_stats_spark.cli import main

    out_dir = str(tmp_path / "cli_full_out")
    main(
        [
            "curate",
            "--docs", f"{SF}/documents.parquet",
            "--out", out_dir,
            "--min-tokens", "5",
            "--lm-ref", f"{SF}/documents.parquet",
            "--max-ppl", "31.0",
            "--strip-spans",
        ]
    )
    line = capsys.readouterr().out.strip().splitlines()[-1]
    rep = json.loads(line)
    assert rep["rows_in"] == 500
    assert 0 < rep["rows_out"] < 500  # the band filtered something


def test_curation_stages_run_in_streaming(spark, docs, tmp_path):
    """The stateless curation stages (quality predicates, PII scrub,
    split assignment) are plain column expressions, so the SAME code
    runs under Structured Streaming — batch/stream outputs are
    row-identical. (The dedup/repetition stages need state across
    batches; streaming/curate_stream.py carries it.)"""
    from wroclaw_bike_stats_spark.operators import pipeline as P

    src_dir = str(tmp_path / "src")
    sink_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    docs.limit(50).write.parquet(src_dir)
    schema = spark.read.parquet(src_dir).schema

    def stages(df):
        out = df.filter(T.token_count_ws(F.col("text")) >= 5)
        out = out.withColumn("text", P.scrub_pii(F.col("text")))
        return P.hash_split_assign(out)

    stream = spark.readStream.schema(schema).parquet(src_dir)
    q = (
        stages(stream)
        .writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch_rows = sorted(
        (r.doc_id, r.split, r.text)
        for r in stages(spark.read.parquet(src_dir)).collect()
    )
    stream_rows = sorted(
        (r.doc_id, r.split, r.text)
        for r in spark.read.parquet(sink_dir).collect()
    )
    assert stream_rows == batch_rows and len(batch_rows) > 0


def test_decontam_modes_compose_and_stay_lazy(spark, docs):
    """r07 decontam_mode knob: each mode's survivors equal the
    standalone operator's decision applied inside the same pipeline,
    and the lazy modes build zero jobs at plan-construction time."""
    from wroclaw_bike_stats_spark.operators import pipeline as P

    eval_set = docs.filter(F.col("doc_id") % 50 == 0)
    base_kwargs = dict(min_tokens=5, decontam_n=3)

    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    plans = {
        mode: curate_corpus(
            docs, eval_set, decontam_mode=mode, **base_kwargs
        )
        for mode in ("exact", "ngram", "fuzzy")
    }
    assert tracker.getJobIdsForGroup(None) == before  # all three lazy

    got = {m: {r.doc_id for r in p.select("doc_id").collect()} for m, p in plans.items()}
    # standalone-stage expectation: curation with mode m keeps exactly
    # the mode-m survivors that then pass the downstream stages, i.e.
    # mode-m curation == exact-mode curation restricted to mode-m
    # survivors (downstream stages are per-doc filters + dedup whose
    # keep-min rule only depends on surviving ids... dedup canonical
    # may differ, so compare via direct operator survivors instead)
    ng = {r.doc_id for r in P.decontaminate_ngram(docs, eval_set, n=3).collect()}
    fz = {r.doc_id for r in P.decontaminate_fuzzy(docs, eval_set, n=3).collect()}
    assert got["ngram"] <= ng
    assert got["fuzzy"] <= fz
    # strictness ordering: ngram drops a superset of fuzzy's drops,
    # fuzzy at least the exact-copy eval docs
    assert got["ngram"] <= got["fuzzy"] <= got["exact"]

    # bloom mode: documented as eager (bitset build) but must equal
    # the ngram result row-for-row
    bloom = curate_corpus(docs, eval_set, decontam_mode="bloom", **base_kwargs)
    assert {r.doc_id for r in bloom.select("doc_id").collect()} == got["ngram"]

    with pytest.raises(ValueError):
        curate_corpus(docs, eval_set, decontam_mode="nope")


def test_gopher_stage_composes_and_stays_lazy(spark, docs):
    from wroclaw_bike_stats_spark.operators import text as T2

    bounds = dict(min_words=5, min_mean_word_len=1.0)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    plan = curate_corpus(docs, None, min_tokens=1, gopher_bounds=bounds)
    assert tracker.getJobIdsForGroup(None) == before
    got = {r.doc_id for r in plan.select("doc_id").collect()}
    # every survivor individually passes the standalone gopher filter
    standalone = {
        r.doc_id for r in T2.gopher_quality_filter(docs, **bounds).collect()
    }
    assert got <= standalone
    assert len(got) > 0


def test_persist_stages_parity_and_release(spark, docs):
    """persist_stages=True must produce byte-identical output to the
    fully-lazy plan (it only changes WHERE the survivor frame is read
    from) and register its persisted frames with the scratch registry
    so release() frees them."""
    from wroclaw_bike_stats_spark.operators import scratch
    from wroclaw_bike_stats_spark.operators.text import train_bigram_lm

    scratch.release()
    lm = train_bigram_lm(docs.filter(F.col("doc_id") % 7 == 3))
    kw = dict(
        min_tokens=5, lm=lm, max_ppl=40.0, strip_spans=True, scrub=False
    )
    eval_set = docs.limit(5)
    lazy = sorted(
        (r.doc_id, r.text, r.split)
        for r in curate_corpus(docs, eval_set, **kw).collect()
    )
    persisted = sorted(
        (r.doc_id, r.text, r.split)
        for r in curate_corpus(
            docs, eval_set, persist_stages=True, **kw
        ).collect()
    )
    assert lazy == persisted
    # r11: under the defaults both the repetition stage (rep_impl
    # "auto" → arrow struct column) and the ppl band (lm_impl "auto"
    # → ppl column) are per-row columns — NOT self-join branches —
    # so only the span strip registers a persisted frame
    assert len(scratch._SCRATCH) == 1
    cached = [df for df in scratch._SCRATCH if df.storageLevel.useMemory]
    assert len(cached) == 1
    scratch.release()
    assert not scratch._SCRATCH

    # the oracle-shape native routes keep their persists: three
    # self-join branches => three registered frames
    native = sorted(
        (r.doc_id, r.text, r.split)
        for r in curate_corpus(
            docs, eval_set, persist_stages=True, rep_impl="native",
            lm_impl="native", **kw
        ).collect()
    )
    assert native == lazy
    assert len(scratch._SCRATCH) == 3
    scratch.release()
    assert not scratch._SCRATCH


def test_persist_stages_single_scan_per_branch(spark, docs):
    """The point of persist_stages: after the first action, the
    repetition branch reads the survivor frame from cache — the
    executed plan contains InMemoryTableScan nodes."""
    from wroclaw_bike_stats_spark.operators import scratch

    scratch.release()
    # rep_impl="native": the repetition stage IS the self-join branch
    # this test exercises (the r11 arrow default has no branch to
    # cache — nothing to scan from memory)
    out = curate_corpus(
        docs, None, min_tokens=5, persist_stages=True, rep_impl="native"
    )
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    scratch.release()


def test_repetition_stage_drops_doubled_docs_in_composition(spark):
    """The curate_pipeline_rep gate's staging contract: doubling a
    doc's text makes every n-gram repeat, so the FULL Gopher
    repetition stage (repetition_rules={}) must drop exactly those
    docs from the composed keep-set that the rep-OFF run keeps —
    non-vacuity for the driver gate."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    staged = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 3,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    off = {
        r.doc_id
        for r in curate_corpus(staged, None, scrub=False).collect()
    }
    on = {
        r.doc_id
        for r in curate_corpus(
            staged, None, scrub=False, repetition_rules={}
        ).collect()
    }
    assert on < off, "repetition stage must drop rows"
    dropped = off - on
    doubled = {r.doc_id for r in staged.filter("doc_id % 11 = 3").collect()}
    # every doc the stage dropped that was doubled fired the mask
    # family; at least one doubled doc must actually be dropped
    assert dropped & doubled, "staged signal must fire"


def test_ppl_precomputed_byte_equals_inline_scoring(spark, docs):
    """curate_corpus(ppl_precomputed=...) — the r13 score-once shape —
    must produce byte-identical rows to the inline lm=(uni, bi) band
    stage when the carried column comes from the same scorer."""
    from wroclaw_bike_stats_spark.operators.text import (
        bigram_lm_ppl_column,
        train_bigram_lm,
    )

    ref = docs.filter(F.col("doc_id") % 7 == 3)
    uni, bi = train_bigram_lm(ref)
    inline = sorted(
        (r.doc_id, r.text, r.split)
        for r in curate_corpus(
            docs, None, scrub=False, lm=(uni, bi),
            min_ppl=23.0, max_ppl=40.0,
        ).collect()
    )
    scored = docs.withColumn(
        "_p", bigram_lm_ppl_column(
            F.col("text"), uni, bi, spark=spark
        )
    )
    pre = sorted(
        (r.doc_id, r.text, r.split)
        for r in curate_corpus(
            scored, None, scrub=False,
            min_ppl=23.0, max_ppl=40.0, ppl_precomputed="_p",
        ).drop("_p").collect()
    )
    assert pre == inline and len(inline) > 0


def test_span_site_route_parity_in_composition(spark, docs):
    """curate_corpus's strip defaults to the arrow site route (r13);
    output must be byte-identical to the pinned-native plan shape."""
    arrow = sorted(
        (r.doc_id, r.text, r.split)
        for r in curate_corpus(
            docs, None, scrub=False, strip_spans=True, span_k=5
        ).collect()
    )
    native = sorted(
        (r.doc_id, r.text, r.split)
        for r in curate_corpus(
            docs, None, scrub=False, strip_spans=True, span_k=5,
            span_site_route="native",
        ).collect()
    )
    assert arrow == native and len(arrow) > 0


def test_fused_gopher_kwargs_validated(spark, docs):
    """A misspelled Gopher bound must raise like the unfused path
    (gopher_quality_filter(**gk) -> TypeError), not silently run the
    fused stage with paper defaults (ADVICE r13)."""
    from wroclaw_bike_stats_spark.operators.text import (
        fused_gopher_rep_filter,
    )

    with pytest.raises(TypeError, match="min_word"):
        fused_gopher_rep_filter(docs, gopher_kwargs={"min_word": 50})
    # valid keys still pass through
    ok = fused_gopher_rep_filter(docs, gopher_kwargs={"min_words": 1})
    assert ok.count() >= 0


def test_fused_quality_stage_byte_parity(spark, docs):
    """fuse_quality=True (the r13 one-Arrow-pass Gopher+repetition
    conjunction) must keep exactly the rows the two-stage plan keeps,
    across HOF-binding bounds (arrow route) and with the fused plan
    containing ONE MapInPandas for the pair of stages."""
    bounds = dict(min_words=5, min_mean_word_len=1.0)
    fused = curate_corpus(
        docs, None, scrub=False, gopher_bounds=bounds,
        max_top2gram_frac=0.4,
    )
    twostage = curate_corpus(
        docs, None, scrub=False, gopher_bounds=bounds,
        max_top2gram_frac=0.4, fuse_quality=False,
    )
    a = sorted((r.doc_id, r.text, r.split) for r in fused.collect())
    b = sorted((r.doc_id, r.text, r.split) for r in twostage.collect())
    assert a == b and len(a) > 0
    fused_exec = fused._jdf.queryExecution().executedPlan().toString()
    two_exec = twostage._jdf.queryExecution().executedPlan().toString()
    # the fused plan's ONLY Python stage is the MapInPandas pass (no
    # ArrowEvalPython — the rep predicate moved inside it); the
    # unfused plan runs the gopher MapInPandas AND the rep
    # ArrowEvalPython as separate Python stages
    assert "MapInPandas" in fused_exec
    assert "ArrowEvalPython" not in fused_exec
    assert "MapInPandas" in two_exec and "ArrowEvalPython" in two_exec
    # scalar-only bounds resolve the gopher stage to native -> no
    # fusion, rep stays on its column route; still equal keep-sets
    scalar = dict(
        min_words=2, min_mean_word_len=0.0,
        max_mean_word_len=float("inf"),
        min_alpha_word_frac=0.0, min_stopwords=0,
    )
    nat = curate_corpus(
        docs, None, scrub=False, gopher_bounds=scalar,
        max_top2gram_frac=0.4,
    )
    assert "MapInPandas" not in (
        nat._jdf.queryExecution().executedPlan().toString()
    )
