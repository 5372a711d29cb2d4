"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference surface (BASELINE.json north star): language ID,
quality scoring, token counting, document fingerprinting — all as
native column expressions so they run inside whole-stage codegen on
JVM executors (no Python in the hot path; at 100 TB a row-at-a-time
Python UDF here would dominate the job).

Every function returns a Column usable in select/filter; the
``queries()`` entries in __spark_entry__.py expose them with DuckDB
oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Whitespace-token regex shared with the oracle SQL (keep in sync with
# __spark_entry__.py oracles).
WS = r"\s+"

# BPE-ish token regex: words OR single non-word-non-space symbols —
# approximates subword-tokenizer token counts well enough for corpus
# budgeting, while staying a pure JVM regexp.
BPE_ISH = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"

# Minimal per-language stopword marker sets for the n-gram heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "et", "est"],
    "es": ["el", "la", "de", "que", "los"],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.trim(col), WS)


def token_count_ws(col: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


def token_count_bpe_ish(col: Column) -> Column:
    """Symbol-aware token count (words + punctuation symbols)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH), 0))


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation."""
    n_punct = F.length(F.regexp_replace(col, r"[^.!?,;:\"'()\[\]-]", ""))
    return F.when(F.length(col) > 0, n_punct / F.length(col)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    sw = stopwords if stopwords is not None else LANG_MARKERS["en"]
    toks = tokens(F.lower(col))
    n_sw = F.size(F.filter(toks, lambda t: t.isin(*sw)))
    n = F.size(toks)
    return F.when(n > 0, n_sw / n).otherwise(F.lit(0.0))


def mean_word_len(col: Column) -> Column:
    """Mean token length — a cheap gibberish signal."""
    toks = tokens(col)
    total = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation
    noise + plausible word lengths + some stopwords. Deterministic,
    JVM-native; weights are pipeline policy, not reference parity."""
    n = F.length(col)
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    word_ok = F.when(
        (mean_word_len(col) >= 2.0) & (mean_word_len(col) <= 12.0), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    sw_ok = F.when(stopword_ratio(col) > 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok * 0.3 + punct_ok * 0.2 + word_ok * 0.3 + sw_ok * 0.2).alias(
        "quality_score"
    )


def _marker_pred(markers: list[str]):
    """Closure factory for the marker-membership lambda.

    Must stay single-parameter: PySpark dispatches higher-order-
    function lambdas by arity, and a default argument (``m=markers``)
    would make it the two-arg ``(value, index)`` form, binding the
    index Column over the default.
    """
    return lambda t: t.isin(*markers)


def lang_marker_counts(col: Column) -> dict[str, Column]:
    """Per-language stopword-marker hit counts (n-gram heuristic base)."""
    toks = tokens(F.lower(col))
    return {
        lang: F.size(F.filter(toks, _marker_pred(markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(col: Column) -> Column:
    """Argmax language guess across marker sets; 'und' when no markers
    hit. Deterministic tie-break: language code ascending."""
    counts = lang_marker_counts(col)
    pairs = F.array(
        *[
            F.struct(cnt.alias("hits"), F.lit(lang).alias("lang"))
            for lang, cnt in sorted(counts.items())
        ]
    )
    # Left fold keeps the FIRST max (languages pre-sorted ascending),
    # giving the ascending-code tie-break without a comparator.
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1).alias("hits"), F.lit("und").alias("lang")),
        lambda acc, p: F.when(
            (p["hits"] > acc["hits"]),
            F.struct(p["hits"].alias("hits"), p["lang"].alias("lang")),
        ).otherwise(acc),
    )
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def term_document_frequency(df, text_col: str = "text", top_n: int = 20):
    """Corpus vocabulary by document frequency: top ``top_n`` terms by
    the number of documents containing them (df DESC, term ASC
    tie-break). The per-doc distinct happens BEFORE the explode
    shuffle (``array_distinct`` is a narrow transform), so the shuffle
    carries each (doc, term) once — at corpus scale that's the
    difference between |tokens| and |distinct doc-terms| rows moved.
    Top-k via TakeOrderedAndProject, no global sort."""
    toks = F.array_distinct(tokens(F.lower(F.col(text_col))))
    return (
        df.select(F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("term"))
        .limit(top_n)
    )


def tfidf_top_terms(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 3,
):
    """Top ``top_n`` characteristic terms per document by
    tf·ln((N+1)/(df+1)). Three aggregations, each on its natural key:
    (doc, term) for tf, term for df, plus a 1-row broadcast for N —
    then one shuffle join of tf⋈df on term (the vocabulary is NOT
    assumed broadcastable at corpus scale) and a per-doc window over
    ≤|doc terms| rows. Deterministic: ties break by term ascending;
    identical (tf, df) pairs produce bit-identical scores."""
    from pyspark.sql import Window

    # r16 NOTE (attempted and REVERTED): fanning the explode input up
    # (`ensure_parallelism`) to parallelize the twice-computed tf map
    # pass measured a consistent REGRESSION in alternating A/B windows
    # (change {4.28, 2.05} vs base {1.52, 1.39} s min-of-3) — the
    # extra round-robin exchange + its sort-before-repartition cost
    # more than the duplicated single-task explode it hides. Left on
    # the scan's natural parallelism.
    toks = tokens(F.lower(F.col(text_col)))
    tf = (
        df.select(F.col(id_col), F.explode(toks).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = df.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.col("tf") * F.log(
        (F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_score"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n))
        .withColumn("_score", score)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(
            id_col,
            "term",
            F.round("_score", 4).alias("tfidf"),
            F.col("rn").cast("int").alias("rn"),
        )
    )


# Gopher rules §A1.1 (Rae et al. 2021, arXiv:2112.11446): the
# stop-word presence rule counts hits from this fixed list.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
_BULLETS = ("-", "*", "•", "‣", "▪")


def _with_gopher_inputs(df, text_col: str):
    """Project the shared token/line arrays ONCE: every signal that
    follows references the named columns, so Catalyst's subexpression
    elimination computes one split per row instead of one per signal
    — measured 128 → 86 s on the 5M-doc sf100 filter (the split and
    the interpreted HOF lambdas are the cost; sharing the split is
    the cheap half of it)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    return df.withColumn("_gtoks", tokens(text)).withColumn(
        "_glines", F.split(text, "\n")
    )


def _gopher_signals(text_col: str) -> dict[str, Column]:
    """The Gopher rule signals as per-row native expressions — the ONE
    implementation both the stats report and the filter compile from
    (whole-stage codegen for the scalar parts; the array lambdas are
    interpreted, which is why the arrays are shared via
    ``_with_gopher_inputs``). NULL text behaves as empty (zero
    counts/ratios)."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    toks = F.col("_gtoks")
    wc = F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(toks))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ell = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3 + (F.length(text) - F.length(F.regexp_replace(text, "…", "")))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    n_stop = F.size(
        F.filter(
            F.transform(toks, F.lower),
            lambda t: t.isin(*GOPHER_STOPWORDS),
        )
    )
    lines = F.col("_glines")
    is_bullet = lambda ln: F.substring(F.trim(ln), 1, 1).isin(*_BULLETS)  # noqa: E731
    ends_ell = lambda ln: F.trim(ln).endswith("...") | F.trim(ln).endswith("…")  # noqa: E731
    n_lines = F.size(lines)
    tok_chars = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    mwl = F.when(F.size(toks) > 0, tok_chars / F.size(toks)).otherwise(
        F.lit(0.0)
    )
    return {
        "word_count": wc,
        "mean_word_len": F.round(mwl, 6),
        "symbol_word_ratio": F.round(
            F.when(wc > 0, n_ell + n_hash).otherwise(F.lit(0))
            / F.greatest(wc, F.lit(1)),
            6,
        ),
        "alpha_word_frac": F.round(
            F.when(wc > 0, alpha / wc).otherwise(F.lit(0.0)), 6
        ),
        "n_stopwords": F.when(wc > 0, n_stop).otherwise(F.lit(0)),
        "bullet_line_frac": F.round(
            F.size(F.filter(lines, is_bullet)) / F.greatest(n_lines, F.lit(1)),
            6,
        ),
        "ellipsis_line_frac": F.round(
            F.size(F.filter(lines, ends_ell)) / F.greatest(n_lines, F.lit(1)),
            6,
        ),
    }


def gopher_quality_stats(df, text_col: str = "text", id_col: str = "doc_id"):
    """Per-document signals for the Gopher quality rules (Rae et al.
    2021 §A1.1): word_count, mean_word_len, symbol_word_ratio (# and
    … per word), alpha_word_frac (words containing ≥1 [a-zA-Z]),
    n_stopwords (GOPHER_STOPWORDS hits), bullet_line_frac (lines
    starting with a bullet glyph), ellipsis_line_frac (lines ending
    in … or ...). One narrow projection."""
    sig = _gopher_signals(text_col)
    return _with_gopher_inputs(df, text_col).select(
        F.col(id_col), *[c.alias(name) for name, c in sig.items()]
    )


def pick_gopher_impl(
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
) -> str:
    """Route selection for ``gopher_quality_filter(impl="auto")`` —
    the Gopher analog of span-dedup's ``pick_span_method``, except no
    probe job is needed: the winning route is a property of WHICH
    rules are binding, not of the corpus. The token-level signals
    (mean_word_len, alpha_word_frac, n_stopwords) are higher-order
    -function lambdas Spark evaluates INTERPRETED per array element —
    the measured 3.4× sf100 gap (native 187 s vs arrow 55 s,
    SCALING.md) is entirely theirs. When any of them is binding the
    Arrow pass wins at corpus scale; with scalar-only bounds
    (word_count via one codegen size(), symbol ratio via
    regexp_replace lengths, line fracs over a handful of lines) the
    native codegen filter wins and keeps the plan Python-free.
    Zero jobs — safe inside plans/curate.py's lazy composition."""
    hof_binding = (
        min_mean_word_len > 0
        or max_mean_word_len < float("inf")
        or min_alpha_word_frac > 0
        or min_stopwords > 0
    )
    return "arrow" if hof_binding else "native"


def pick_gopher_rep_impl(top_ns, mask_ns) -> str:
    """Route selection for ``gopher_repetition_filter(impl="auto")``
    — same contract as ``pick_gopher_impl``: zero jobs, the winner is
    a property of WHICH rule families are binding. When any n-gram
    family is binding (the paper defaults bind both), even the
    "native" route carries the fused Arrow signal pass inside its
    scan-pushed predicate — so it inherits the measured
    single-row-group serialization trap with none of the arrow
    route's per-doc short-circuit or ``min_parallelism`` escape;
    route arrow. With segment-only bounds the predicate is pure
    codegen and the native scan-pushed filter is strictly right."""
    return "arrow" if (top_ns or mask_ns) else "native"


def gopher_quality_filter(
    df,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    min_alpha_word_frac: float = 0.8,
    min_stopwords: int = 2,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    impl: str = "auto",
):
    """Keep documents passing every Gopher rule (paper defaults; all
    bounds overridable — short-doc corpora need a lower word floor).
    Compiled INLINE from the same signal expressions as the stats
    report: a pure narrow filter pushed at the scan — never a
    join-back (a kept-id set is corpus-sized, the one thing you must
    not broadcast).

    ``impl="arrow"``: the same rules in an Arrow-batched Python pass.
    This is the family's MEASURED exception to "stay JVM-side": the
    token-level signals are higher-order-function lambdas, which
    Spark evaluates INTERPRETED per array element (no whole-stage
    codegen). Official SCALING.json rows at the 5M-doc sf100 point
    (density-constant bounds, every rule evaluated): native 187 s vs
    arrow 55 s (3.4×); with bounds where most docs fail an early rule
    the arrow pass's per-doc short-circuit widens the gap (probe run:
    128 vs 30 s). Semantics identical (ASCII \\s+ split, same
    rounding) — differential-tested.

    ``impl="auto"`` (the DEFAULT) routes by rule shape
    (``pick_gopher_impl``, zero jobs): Arrow when any token-level HOF
    rule is binding — which the paper defaults are — native for
    scalar-only bounds. Default flipped from ``"native"`` in round 13:
    the native route's scan-pushed predicate serializes on
    single-row-group local inputs (measured 122 s on one core with 21
    idle workers), and the binding rules are known at plan time, so
    defaulting to the router removes the trap for callers composing
    outside ``curate_corpus`` with no cost to anyone. Pass
    ``impl="native"`` explicitly for the codegen-only oracle shape."""
    if impl == "auto":
        impl = pick_gopher_impl(
            min_mean_word_len, max_mean_word_len,
            min_alpha_word_frac, min_stopwords,
        )
    if impl == "arrow":
        return _gopher_filter_arrow(
            df, text_col, min_words, max_words, min_mean_word_len,
            max_mean_word_len, max_symbol_word_ratio, min_alpha_word_frac,
            min_stopwords, max_bullet_line_frac, max_ellipsis_line_frac,
        )
    if impl != "native":
        raise ValueError(f"unknown impl {impl!r}")
    s = _gopher_signals(text_col)
    return (
        _with_gopher_inputs(df, text_col)
        .filter(
            (s["word_count"] >= min_words)
            & (s["word_count"] <= max_words)
            & (s["mean_word_len"] >= min_mean_word_len)
            & (s["mean_word_len"] <= max_mean_word_len)
            & (s["symbol_word_ratio"] <= max_symbol_word_ratio)
            & (s["alpha_word_frac"] >= min_alpha_word_frac)
            & (s["n_stopwords"] >= min_stopwords)
            & (s["bullet_line_frac"] <= max_bullet_line_frac)
            & (s["ellipsis_line_frac"] <= max_ellipsis_line_frac)
        )
        .drop("_gtoks", "_glines")
    )


def _make_gopher_passes(
    min_words, max_words, min_mean_word_len, max_mean_word_len,
    max_symbol_word_ratio, min_alpha_word_frac, min_stopwords,
    max_bullet_line_frac, max_ellipsis_line_frac,
):
    """Per-doc Gopher rule closure shared by ``_gopher_filter_arrow``
    and the fused composed-pipeline pass (``fused_gopher_rep_filter``)
    — ONE implementation of the Python rule semantics, so the fused
    route cannot drift from the parity-pinned standalone route.
    Tokenization = ASCII \\s+ over the space-trimmed text — the exact
    split the native ``tokens()`` and the DuckDB oracles use; per-doc
    short-circuit in rule order."""
    import re as _re

    stop = set(GOPHER_STOPWORDS)
    ws = _re.compile(r"\s+", _re.ASCII)
    alpha_re = _re.compile(r"[a-zA-Z]")

    def passes(t) -> bool:
        t = t or ""
        ts = t.strip(" ")
        toks = ws.split(ts) if ts != "" else []
        wc = len(toks)
        if not (min_words <= wc <= max_words):
            return False
        mwl = round(sum(map(len, toks)) / wc, 6) if wc else 0.0
        if not (min_mean_word_len <= mwl <= max_mean_word_len):
            return False
        n_sym = (
            (len(t) - len(t.replace("...", ""))) / 3
            + t.count("…")
            + t.count("#")
        )
        if round(n_sym / max(wc, 1), 6) > max_symbol_word_ratio:
            return False
        alpha_frac = (
            round(sum(1 for x in toks if alpha_re.search(x)) / wc, 6)
            if wc
            else 0.0
        )
        if alpha_frac < min_alpha_word_frac:
            return False
        if sum(1 for x in toks if x.lower() in stop) < min_stopwords:
            return False
        lines = t.split("\n")
        nl = max(len(lines), 1)
        n_bul = sum(1 for ln in lines if ln.strip(" ")[:1] in _BULLETS)
        if round(n_bul / nl, 6) > max_bullet_line_frac:
            return False
        n_ell = sum(
            1
            for ln in lines
            if ln.strip(" ").endswith("...") or ln.strip(" ").endswith("…")
        )
        return round(n_ell / nl, 6) <= max_ellipsis_line_frac

    return passes


def _gopher_filter_arrow(
    df, text_col, min_words, max_words, min_mean_word_len,
    max_mean_word_len, max_symbol_word_ratio, min_alpha_word_frac,
    min_stopwords, max_bullet_line_frac, max_ellipsis_line_frac,
):
    """Arrow-batched Gopher rule pass (see gopher_quality_filter
    docstring for when this wins); per-doc rules from
    ``_make_gopher_passes``."""
    cols = df.columns
    passes = _make_gopher_passes(
        min_words, max_words, min_mean_word_len, max_mean_word_len,
        max_symbol_word_ratio, min_alpha_word_frac, min_stopwords,
        max_bullet_line_frac, max_ellipsis_line_frac,
    )

    def emit(pdf_iter):
        for pdf in pdf_iter:
            mask = [passes(t) for t in pdf[text_col]]
            yield pdf[mask]

    return df.mapInPandas(emit, df.schema)[cols]


#: The Gopher bound names gopher_quality_filter accepts — the
#: validation surface for fused_gopher_rep_filter's dict form.
_GOPHER_BOUND_NAMES = frozenset(
    {
        "min_words",
        "max_words",
        "min_mean_word_len",
        "max_mean_word_len",
        "max_symbol_word_ratio",
        "min_alpha_word_frac",
        "min_stopwords",
        "max_bullet_line_frac",
        "max_ellipsis_line_frac",
    }
)


def fused_gopher_rep_filter(
    df,
    text_col: str = "text",
    gopher_kwargs: dict | None = None,
    max_top2gram_frac: float = 0.5,
):
    """The composed pipeline's Gopher stage AND top-2-gram repetition
    stage as ONE Arrow pass (r13): both are pure per-row predicates,
    so their conjunction is the same keep-set as running them
    sequentially — but sequential composition pays one Arrow
    serialization + one tokenization of the surviving corpus PER
    stage (the sf100s realppl stage split put the pipeline's stacked
    per-row passes at 307 s of 633 — the dominant term after the r13
    strip/score-once moves). Per-doc short-circuit in stage order:
    Gopher rules first (``_make_gopher_passes`` — the same closure
    the standalone arrow route runs), then the 2-gram share with
    ``repetition_2gram_struct``'s exact semantics (< 2 tokens → no
    signal → keep; share compared unrounded, IEEE-equal to the
    column route's Spark-side division). Byte-parity with the
    two-stage composition pinned in tests/test_curate.py."""
    import re as _re

    gk = dict(gopher_kwargs or {})
    # fail like the unfused path: gopher_quality_filter(**gk) raises
    # TypeError on an unknown bound — silently defaulting a misspelled
    # key here would run the fused stage with paper bounds the caller
    # never chose (ADVICE r13)
    unknown = set(gk) - _GOPHER_BOUND_NAMES
    if unknown:
        raise TypeError(
            f"fused_gopher_rep_filter: unknown gopher_kwargs "
            f"{sorted(unknown)}; valid bounds: "
            f"{sorted(_GOPHER_BOUND_NAMES)}"
        )
    passes = _make_gopher_passes(
        gk.get("min_words", 50),
        gk.get("max_words", 100_000),
        gk.get("min_mean_word_len", 3.0),
        gk.get("max_mean_word_len", 10.0),
        gk.get("max_symbol_word_ratio", 0.1),
        gk.get("min_alpha_word_frac", 0.8),
        gk.get("min_stopwords", 2),
        gk.get("max_bullet_line_frac", 0.9),
        gk.get("max_ellipsis_line_frac", 0.3),
    )
    ws = _re.compile(r"\s+", _re.ASCII)
    cols = df.columns

    def keep(t) -> bool:
        if not passes(t):
            return False
        ts = (t or "").strip(" ")
        toks = ws.split(ts) if ts != "" else []
        if len(toks) < 2:
            return True  # total_2grams <= 0 → the stage keeps
        counts: dict = {}
        prev = toks[0]
        for w in toks[1:]:
            g = (prev, w)
            counts[g] = counts.get(g, 0) + 1
            prev = w
        return max(counts.values()) / (len(toks) - 1) <= max_top2gram_frac

    def emit(pdf_iter):
        for pdf in pdf_iter:
            mask = [keep(t) for t in pdf[text_col]]
            yield pdf[mask]

    return df.mapInPandas(emit, df.schema)[cols]


def dup_word_frac(col: Column) -> Column:
    """Fraction of token occurrences that are repeats of an earlier
    token (Gopher-style repetition signal): 1 - distinct/total.
    Native array expression — linear per row, whole-stage codegen."""
    toks = tokens(col)
    n = F.size(toks)
    return F.when(
        n > 0, F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n
    ).otherwise(F.lit(0.0))


def word_bigrams(col: Column) -> Column:
    """Adjacent whitespace-token 2-grams as an array column — the
    n=2 case of ``word_ngrams`` (one definition; equality pinned in
    tests). The zip_with-over-slices form is measured 10× faster at
    sf0.1 than the ``transform(sequence(...), element_at(..))``
    alternative, whose per-index lookups dominate interpreted
    evaluation."""
    return word_ngrams(col, 2)


def repetition_2gram_struct(col: Column) -> Column:
    """Per-row Arrow route for the 2-gram repetition signal: a
    ``struct<top2_count:long, total_2grams:long>`` COLUMN (most-common
    adjacent-2-gram count and total 2-grams of the doc), computed in
    one Arrow-batched pass with a per-doc Counter — linear per doc,
    ZERO shuffle, and because it is a column (not a derived frame)
    consumers need no join-back onto the corpus. This is the shape
    ``plans/curate.py``'s repetition stage wants at 100 TB: the
    native ``repetition_stats`` route explodes every survivor 2-gram
    through TWO keyed aggregations and re-joins the result (the
    pipeline's only remaining self-referencing shuffle branch besides
    the model stages). Tokenization mirrors the native ``tokens()``
    exactly (the ``_gopher_filter_arrow`` precedent: Java ``\\s`` ==
    Python ASCII ``\\s``; ``trim`` strips spaces only), so the two
    routes are byte-parity — pinned in tests/test_pipeline_ops.py."""
    import re as _re

    import pandas as pd

    ws = _re.compile(r"\s+", _re.ASCII)

    def _stats(t) -> tuple:
        ts = (t or "").strip(" ")
        toks = ws.split(ts) if ts != "" else []
        if len(toks) < 2:
            return 0, 0
        counts: dict = {}
        prev = toks[0]
        for w in toks[1:]:
            g = (prev, w)
            counts[g] = counts.get(g, 0) + 1
            prev = w
        return max(counts.values()), len(toks) - 1

    def _rep(s):
        rows = [_stats(t) for t in s]
        return pd.DataFrame(rows, columns=["top2_count", "total_2grams"])

    # real annotation objects, not PEP-563 strings (this module has
    # `from __future__ import annotations`, which would break
    # pandas_udf's Series→DataFrame eval-type inference)
    _rep.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    # r15: nondeterministic per guide §4.4 — an expensive UDF
    # referenced by a filter must not be pushed below a parallelism
    # fan-out exchange (plans/curate.py) or duplicated around the
    # filter; never scan-pushable anyway, so nothing is lost.
    rep_udf = F.pandas_udf(
        _rep, "struct<top2_count:long,total_2grams:long>"
    ).asNondeterministic()
    return rep_udf(col)


def word_ngrams(col: Column, n: int) -> Column:
    """Adjacent whitespace-token n-grams as an array column —
    ``word_bigrams`` generalized: n-1 chained ``zip_with`` folds over
    shifted ``slice`` views (the measured-fast form; the
    sequence+element_at alternative is ~10× slower interpreted).
    Docs with fewer than n tokens yield []; NULL text normalizes to
    [] for EVERY n (NULL has zero tokens < n — one contract across
    n=1 and n≥2, pinned in tests)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = tokens(col)
    if n == 1:
        # split("") yields [""] — guard so empty/whitespace-only docs
        # honor the fewer-than-n-tokens-yield-[] contract at n=1 too
        return F.when(token_count_ws(col) > 0, toks).otherwise(
            F.array().cast("array<string>")
        )
    m = F.size(toks)
    out = F.slice(toks, 1, m - (n - 1))
    for j in range(1, n):
        out = F.zip_with(
            out,
            F.slice(toks, 1 + j, m - (n - 1)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(m >= n, out).otherwise(F.array().cast("array<string>"))


def top_ngram_stats(
    df, n: int, text_col: str = "text", id_col: str = "doc_id"
):
    """Gopher's top-n-gram share signal for ANY n (Rae et al. 2021
    gate the most-common-{2,3,4}-gram's character share at
    0.20/0.18/0.16): per doc, the most common adjacent n-gram's count
    and the total n-gram count — ``repetition_stats``' native 2-gram
    route generalized (explode → two keyed aggregations with map-side
    partial combine → join back; linear, SQL-mirrorable)."""
    # r15: same parallelism floor as repetition_stats' native route
    # (see there) — integer counts, partitioning-invariant.
    from wroclaw_bike_stats_spark.operators.fanout import ensure_parallelism

    grams = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(word_ngrams(F.col(text_col), n)).alias("_g"),
    )
    per_gram = grams.groupBy(id_col, "_g").agg(
        F.count(F.lit(1)).alias("_c")
    )
    top = per_gram.groupBy(id_col).agg(
        F.max("_c").cast("long").alias(f"top{n}_count"),
        F.sum("_c").cast("long").alias(f"total_{n}grams"),
    )
    return df.select(id_col).join(top, id_col, "left").select(
        id_col,
        F.coalesce(f"top{n}_count", F.lit(0)).alias(f"top{n}_count"),
        F.coalesce(f"total_{n}grams", F.lit(0)).alias(f"total_{n}grams"),
    )


def _rep_signals_one(
    t, top_ns: tuple, mask_ns: tuple, ws, np
) -> tuple:
    """Per-doc repetition signals, ONE tokenize for every n:
    (top-n-gram CHARACTER fractions aligned with top_ns, duplicate-
    n-gram char fracs aligned with mask_ns). Both follow the paper's
    character accounting (Rae et al. 2021 Table A1 gates "fraction
    of characters in the most common n-gram" / "... in duplicated
    n-grams", not count shares): the top signal is
    count × ngram_chars / total_chars (tie on count → the longer
    gram, deterministic), the dup signal a char-coverage UNION via a
    diff-array (+1 at span start, −1 past span end, coverage =
    positions with positive prefix sum) — O(len) regardless of how
    many duplicated spans overlap."""
    ts = (t or "").strip(" ")
    if ts == "":
        return [0.0] * len(top_ns), [0.0] * len(mask_ns)
    toks = ws.split(ts)
    m = len(toks)
    # total chars in the space-joined form (deterministic even when
    # the raw doc had runs of whitespace)
    total = sum(len(w) for w in toks) + (m - 1)
    shares = []
    for n in top_ns:
        if m < n or total <= 0:
            shares.append(0.0)
            continue
        grams = [tuple(toks[i : i + n]) for i in range(m - n + 1)]
        counts: dict = {}
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
        best = max(
            counts.items(),
            key=lambda kv: (kv[1], sum(len(w) for w in kv[0])),
        )
        glen = sum(len(w) for w in best[0]) + (n - 1)
        shares.append(round(min(best[1] * glen / total, 1.0), 4))
    fracs = []
    if mask_ns:
        lens = np.fromiter((len(w) for w in toks), dtype=np.int64, count=m)
        starts = np.zeros(m, dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=starts[1:])
        ends = starts + lens
        for n in mask_ns:
            if m < n or total <= 0:
                fracs.append(0.0)
                continue
            grams = [tuple(toks[i : i + n]) for i in range(m - n + 1)]
            counts = {}
            for g in grams:
                counts[g] = counts.get(g, 0) + 1
            dup_idx = [
                i for i, g in enumerate(grams) if counts[g] > 1
            ]
            if not dup_idx:
                fracs.append(0.0)
                continue
            diff = np.zeros(total + 1, dtype=np.int64)
            a = starts[np.asarray(dup_idx)]
            b = ends[np.asarray(dup_idx) + n - 1]
            np.add.at(diff, a, 1)
            np.add.at(diff, b, -1)
            covered = int((np.cumsum(diff[:-1]) > 0).sum())
            fracs.append(round(covered / total, 4))
    return shares, fracs


def gopher_repetition_signals(
    col: Column,
    top_ns: tuple = (2, 3, 4),
    mask_ns: tuple = (5, 6, 7, 8, 9, 10),
) -> Column:
    """ALL of Gopher's n-gram repetition signals in ONE Arrow pass:
    ``struct<top_shares:array<double>, dup_char_fracs:array<double>>``
    — the top-n-gram CHARACTER fraction for each n in ``top_ns``
    (chars inside occurrences of the most common n-gram / total
    chars — the paper's accounting) and the overlap-aware
    duplicate-n-gram character fraction for each n in ``mask_ns``.
    Fused because the naive composition (one UDF per signal)
    re-tokenized the document once per n — measured 9 Arrow passes
    → 1. Tokenization mirrors ``tokens()`` (the Arrow-twin
    contract)."""
    import re as _re

    import numpy as np
    import pandas as pd

    ws = _re.compile(r"\s+", _re.ASCII)
    top_ns, mask_ns = tuple(top_ns), tuple(mask_ns)

    def _batch(s):
        rows = [
            _rep_signals_one(t, top_ns, mask_ns, ws, np) for t in s
        ]
        return pd.DataFrame(
            {
                "top_shares": [r[0] for r in rows],
                "dup_char_fracs": [r[1] for r in rows],
            }
        )

    _batch.__annotations__ = {"s": pd.Series, "return": pd.DataFrame}
    # r15: nondeterministic — same §4.4 rationale as
    # repetition_2gram_struct (expensive, never scan-pushable).
    return F.pandas_udf(
        _batch,
        "struct<top_shares:array<double>,dup_char_fracs:array<double>>",
    ).asNondeterministic()(col)


def _half_up4_s(x: float) -> float:
    """Scalar twin of ``_half_up4``: HALF_UP round to 4 dp matching
    Spark's ``F.round`` (BigDecimal shortest-decimal HALF_UP) on a
    single non-negative float. Python's builtin ``round`` is
    HALF_EVEN — at exactly-representable dyadic halves (e.g.
    1/32 = 0.03125 → 0.0312 vs Spark's 0.0313) it diverges from the
    native expressions and the DuckDB oracles, which is why the arrow
    filter route must NOT use it for bound comparisons (ADVICE r13).
    Fast path is the fp shortcut; tie-suspect values re-round exactly
    through ``decimal.Decimal(repr(x))`` — the ``_half_up4`` kernel's
    scheme, scalarized."""
    import math

    scaled = x * 1e4
    frac = scaled - math.floor(scaled)
    if abs(frac - 0.5) < max(1e-6, 8 * (math.ulp(scaled) if scaled else 1e-300)):
        from decimal import ROUND_HALF_UP, Decimal

        return float(
            Decimal(repr(float(x))).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )
    return math.floor(scaled + 0.5) / 1e4


def _seg_fracs_py(ts: str, pat) -> tuple:
    """Python mirror of ``_segment_dup_exprs`` for one doc: the
    (dup_seg_frac, dup_seg_char_frac) pair under the compiled split
    regex ``pat`` — same trim-spaces-only / drop-empty semantics, so
    the arrow filter route is value-parity with the native
    expressions (pinned in tests)."""
    segs = [s.strip(" ") for s in pat.split(ts)]
    segs = [s for s in segs if s != ""]
    n = len(segs)
    if n == 0:
        return 0.0, 0.0
    seen = set(segs)
    dup_frac = 1.0 - len(seen) / n
    chars = sum(len(s) for s in segs)
    firsts = sum(len(s) for s in seen)
    dup_char_frac = (chars - firsts) / chars if chars > 0 else 0.0
    return dup_frac, dup_char_frac


def gopher_repetition_filter(
    df,
    text_col: str = "text",
    max_dup_line_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_frac: float = 0.30,
    max_dup_para_char_frac: float = 0.20,
    max_top_ngram_share: dict | None = None,
    max_dup_ngram_char_frac: dict | None = None,
    impl: str = "auto",
    min_parallelism: int | None = None,
):
    """The COMPLETE Gopher repetition rule set as one filter (Rae et
    al. 2021, Table A1): duplicate line/paragraph fractions and char
    fractions, top-{2,3,4}-gram CHARACTER fractions (the paper's
    accounting — chars inside occurrences of the most common n-gram
    over total chars, not a count share), and duplicate-n-gram char
    fractions for n=5..10 (overlap-aware mask). Defaults are the
    paper's thresholds; pass ``{}`` to disable a family. Compose
    AFTER a word-count floor (``gopher_quality_filter``'s
    ``min_words`` — the paper's own order): on very short docs even
    a once-occurring n-gram can exceed the top-n-gram CHAR bounds.

    ``impl`` routes the evaluation (the ``gopher_quality_filter``
    precedent — byte-parity pinned in tests). ``"auto"`` (the DEFAULT
    since round 14 — one consistent family policy) resolves through
    the zero-job ``pick_gopher_rep_impl``: arrow when any n-gram
    family is binding (the paper defaults), native for segment-only
    bounds.

    - ``"native"``: segment rules as native expressions +
      ONE fused Arrow pass for the n-gram signals, all conjoined into
      a single Filter. Catalyst pushes this predicate to the SCAN —
      exactly right at cluster scale (drop rows before any exchange;
      parallelism comes from the source layout).
    - ``"arrow"``: everything in ONE Arrow pass returning a boolean,
      with per-doc short-circuit (cheap segment rules first, the
      n-gram masks only for survivors).

    ``min_parallelism`` (arrow route only): the scan-pushdown that is
    right on a cluster SERIALIZES on a low-row-group local input —
    measured: one 78 MB/1-row-group file ran the whole Python pass on
    one core (122 s at 500k docs) because the filter was pushed below
    an explicit repartition. When set, the input is repartitioned and
    the filter UDF is marked nondeterministic, which pins its
    evaluation ABOVE the exchange (deterministic predicates are
    pushed through; nondeterministic ones are not — the documented
    Catalyst contract used here as an optimizer barrier). Same
    result set; plan shape pinned in tests."""
    if max_top_ngram_share is None:
        max_top_ngram_share = {2: 0.20, 3: 0.18, 4: 0.16}
    if max_dup_ngram_char_frac is None:
        max_dup_ngram_char_frac = {
            5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10,
        }
    top_ns = tuple(sorted(max_top_ngram_share))
    mask_ns = tuple(sorted(max_dup_ngram_char_frac))

    if impl == "auto":
        impl = pick_gopher_rep_impl(top_ns, mask_ns)

    if impl == "arrow":
        import re as _re

        import numpy as np
        import pandas as pd

        ws = _re.compile(r"\s+", _re.ASCII)
        line_pat = _re.compile(r"\n")
        para_pat = _re.compile(r"\n{2,}")
        top_bounds = [max_top_ngram_share[n] for n in top_ns]
        mask_bounds = [max_dup_ngram_char_frac[n] for n in mask_ns]

        def _keep(t) -> bool:
            ts = t or ""
            # segment signals rounded to 4 like the n-gram signals
            # (and the stats surfaces) — ONE boundary semantics for
            # every rule family
            lf, lcf = _seg_fracs_py(ts, line_pat)
            if (
                _half_up4_s(lf) > max_dup_line_frac
                or _half_up4_s(lcf) > max_dup_line_char_frac
            ):
                return False
            pf, pcf = _seg_fracs_py(ts, para_pat)
            if (
                _half_up4_s(pf) > max_dup_para_frac
                or _half_up4_s(pcf) > max_dup_para_char_frac
            ):
                return False
            if top_ns or mask_ns:
                shares, fracs = _rep_signals_one(
                    ts, top_ns, mask_ns, ws, np
                )
                for v, b in zip(shares, top_bounds):
                    if v > b:
                        return False
                for v, b in zip(fracs, mask_bounds):
                    if v > b:
                        return False
            return True

        def _batch(s):
            return pd.Series([_keep(t) for t in s])

        _batch.__annotations__ = {"s": pd.Series, "return": pd.Series}
        # r15: always nondeterministic (previously only under
        # min_parallelism) — the same §4.4 barrier so the predicate
        # cannot sink below an upstream fan-out exchange either.
        keep_udf = F.pandas_udf(_batch, "boolean").asNondeterministic()
        if min_parallelism:
            df = df.repartition(min_parallelism)
        return df.filter(keep_udf(F.col(text_col)))

    if impl != "native":
        raise ValueError(f"unknown impl {impl!r}")
    if min_parallelism:
        # silently accepting (and dropping) the knob would recreate
        # the exact single-core trap it exists to escape
        raise ValueError(
            "min_parallelism requires impl='arrow' — the native "
            "route's predicate is pushed to the scan by design, so "
            "a repartition cannot raise its parallelism"
        )
    pred = F.lit(True)
    line_f, line_cf, _ = _segment_dup_exprs(text_col, "\n")
    para_f, para_cf, _ = _segment_dup_exprs(text_col, r"\n{2,}")
    # segment signals rounded to 4 like the n-gram signals below (and
    # the stats surfaces) — one boundary semantics across families
    pred = (
        pred
        & (F.round(line_f, 4) <= max_dup_line_frac)
        & (F.round(line_cf, 4) <= max_dup_line_char_frac)
        & (F.round(para_f, 4) <= max_dup_para_frac)
        & (F.round(para_cf, 4) <= max_dup_para_char_frac)
    )
    if top_ns or mask_ns:
        # ONE fused Arrow pass for every n-gram signal (re-tokenizing
        # per n was the composed filter's measured bottleneck)
        sig = gopher_repetition_signals(
            F.col(text_col), top_ns=top_ns, mask_ns=mask_ns
        )
        for idx, n in enumerate(top_ns):
            pred = pred & (
                F.element_at(sig.getField("top_shares"), idx + 1)
                <= max_top_ngram_share[n]
            )
        for idx, n in enumerate(mask_ns):
            pred = pred & (
                F.element_at(sig.getField("dup_char_fracs"), idx + 1)
                <= max_dup_ngram_char_frac[n]
            )
    return df.filter(pred)


def segment_repetition_stats(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep_pattern: str = "\n",
):
    """Gopher's duplicate LINE/PARAGRAPH repetition signals (Rae et
    al. 2021, Table A1 — the segment-granularity siblings of
    ``repetition_stats``'s word/2-gram metrics): per document,

    - ``dup_seg_frac``   = 1 − distinct/total segments (fraction of
      segments that repeat an earlier one);
    - ``dup_seg_char_frac`` = characters inside repeat OCCURRENCES
      (every occurrence beyond a segment's first) / total segment
      characters.

    ``sep_pattern`` is a Java regex for ``split`` — ``"\\n"`` gives
    the line rules, ``"\\n{2,}"`` the paragraph rules (the paper
    gates at dup-frac ≤ 0.30 / char-frac ≤ 0.20 for lines, 0.30/0.20
    for paragraphs — thresholds belong to the caller's filter, the
    stats are the operator). Segments are compared TRIMMED, and
    whitespace-only segments are dropped (the common Dolma/NeMo
    normalization).

    Shape: pure native array expressions — split + trim + distinct +
    two ``aggregate`` folds per row, linear per doc, zero shuffle,
    no explode (the distinct is per-row, so no (doc, segment) stream
    ever materializes)."""
    dup_frac, dup_char_frac, n = _segment_dup_exprs(text_col, sep_pattern)
    return df.select(
        F.col(id_col),
        F.round(dup_frac, 4).alias("dup_seg_frac"),
        F.round(dup_char_frac, 4).alias("dup_seg_char_frac"),
        n.alias("n_segments"),
    )


def _segment_dup_exprs(text_col: str, sep_pattern: str) -> tuple:
    """The shared (dup_seg_frac, dup_seg_char_frac, n_segments)
    expressions — ONE source of truth for the stats frame and the
    inline filter, so the two cannot drift."""
    col = F.col(text_col)
    raw = F.split(F.coalesce(col, F.lit("")), sep_pattern)
    segs = F.filter(
        F.transform(raw, lambda s: F.trim(s)), lambda s: s != ""
    )
    dist = F.array_distinct(segs)
    n = F.size(segs)
    nd = F.size(dist)
    chars = F.aggregate(
        segs, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    first_chars = F.aggregate(
        dist, F.lit(0).cast("long"), lambda a, x: a + F.length(x)
    )
    dup_frac = F.when(
        n > 0, F.lit(1.0) - nd.cast("double") / n
    ).otherwise(F.lit(0.0))
    dup_char_frac = F.when(
        chars > 0, (chars - first_chars).cast("double") / chars
    ).otherwise(F.lit(0.0))
    return dup_frac, dup_char_frac, n


def repetition_stats(
    df, text_col: str = "text", id_col: str = "doc_id", impl: str = "auto"
):
    """Gopher-style repetition metrics per document: most-common-2-gram
    share and duplicate-word fraction.

    ``impl`` routes the 2-gram mode computation (the
    ``gopher_quality_filter(impl=...)`` precedent):

    - ``"native"``: the SQL-differential shape (the
      ``repetition_stats`` driver gate pins it explicitly): explode →
      two keyed aggregations → join back. Linear work with map-side
      partial aggregation on (doc, gram), but it shuffles the gram
      stream twice and re-references ``df``.
    - ``"arrow"`` / ``"auto"`` (the DEFAULT since round 14 — one
      consistent family policy with ``gopher_quality_filter``; the
      stat is per-doc, so there is no rule-dependent regime and no
      probe is needed): ``repetition_2gram_struct`` — one Arrow
      pass with no gram shuffle and no join-back (the only exchange
      is the under-parallel input fan-out), measured 4.7× over
      native at sf10 (SCALING.md r11 note), and it dodges the native
      route's double gram shuffle. Byte-parity with native is pinned
      in tests; the arrow core is oracle-attested by the
      ``repetition_2gram_column`` gate.

    Docs with <2 tokens get top2_count=0/total_2grams=0 either way.
    """
    if impl == "auto":
        impl = "arrow"
    # r16: dup_word_frac is an interpreted HOF over the token array —
    # the per-row cost of `base` — and runs at the scan's parallelism
    # (one ~0.5 s task on a single-row-group input, computed TWICE by
    # a downstream total-order sort's range-sample + shuffle-map pass).
    # Fan the (id, text) projection up when under-parallel (no-op on
    # parallel scans). The arrow route has this one exchange; the
    # native route references `src` twice (base and the gram explode)
    # and so plans two round-robin exchanges, one per reference.
    # Per-row outputs (rounded fraction, integer counts) are
    # partitioning-invariant.
    from wroclaw_bike_stats_spark.operators.fanout import ensure_parallelism

    src = ensure_parallelism(df.select(id_col, text_col))
    base = src.select(
        F.col(id_col),
        F.round(dup_word_frac(F.col(text_col)), 4).alias("dup_word_frac"),
        F.col(text_col).alias("_rep_text"),
    )
    if impl == "arrow":
        st = repetition_2gram_struct(F.col("_rep_text"))
        return base.select(
            id_col,
            "dup_word_frac",
            st.getField("top2_count").alias("top2_count"),
            st.getField("total_2grams").alias("total_2grams"),
        )
    if impl != "native":
        raise ValueError(f"unknown impl {impl!r}")
    # r15: the explode + (doc, gram) partial aggregation is this
    # route's dominant cost and runs at the scan's parallelism — one
    # task on a single-file input (measured 0.66 s at the bench sf).
    # r16: reads the same fanned `src` as `base` (its own exchange).
    grams = src.select(
        F.col(id_col), F.explode(word_bigrams(F.col(text_col))).alias("_g")
    )
    per_gram = grams.groupBy(id_col, "_g").agg(
        F.count(F.lit(1)).alias("_c")
    )
    top = per_gram.groupBy(id_col).agg(
        F.max("_c").cast("long").alias("top2_count"),
        F.sum("_c").cast("long").alias("total_2grams"),
    )
    return base.drop("_rep_text").join(top, id_col, "left").select(
        id_col,
        "dup_word_frac",
        F.coalesce("top2_count", F.lit(0)).alias("top2_count"),
        F.coalesce("total_2grams", F.lit(0)).alias("total_2grams"),
    )


def train_bigram_lm(
    reference, text_col: str = "text"
) -> "tuple[DataFrame, DataFrame]":
    """Count tables of a bigram language model over a reference
    corpus: (``unigrams`` (w, c1), ``bigrams`` (w1, w2, c12)) — the
    CCNet-style model-based quality signal (score a candidate corpus
    by how surprising it is under a model of known-good text;
    Wenzek et al., "CCNet", LREC 2020, use a 5-gram KenLM — a bigram
    with add-α smoothing is the same filter shape without the
    external toolkit). Two keyed aggregations with map-side partial
    combine; store both tables as parquet — they ARE the model.

    Kept as count tables rather than probabilities so the smoothing
    α and vocabulary size stay scoring-time choices and two models
    merge by adding counts (the same monoid-maintenance story as
    ``span_dedup.window_index``)."""
    uni = (
        reference.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    bi = (
        reference.select(
            F.explode(_bigram_pairs(F.col(text_col))).alias("_g")
        )
        .select(F.col("_g.w1").alias("w1"), F.col("_g.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    return uni, bi


def thin_bigram_lm(
    unigrams, bigrams, min_count: int = 2
) -> "tuple[DataFrame, DataFrame]":
    """Min-count prune of a bigram LM's count tables — the shuffle
    shrinker for corpus-trained models. Under Zipf, singleton bigrams
    are roughly half the DISTINCT rows of a count table while being
    statistically indistinguishable from unseen (add-α already floors
    them): dropping ``c12 < min_count`` rows keeps every frequent
    transition exact and usually takes the table from
    shuffle-join-only territory to BROADCASTABLE — after thinning,
    score with ``broadcast_model=True`` and the corpus-side gram
    stream never shuffles for the model joins at all (the round-7
    Bloom-decontamination move, applied to the LM family).

    Error contract (the pruned model is the approximation, scoring is
    exact under it): a dropped bigram scores as unseen — its smoothed
    P falls from (c12+α)/(c1+αV) to α/(c1+αV), so per-bigram log-prob
    drops by at most log2((min_count−1+α)/α) bits and NEVER rises ⇒
    pruned xent ≥ exact xent, pruned ppl ≥ exact ppl, with equality
    for docs whose bigrams are all kept or all already-unseen. The
    one-sided bound is the driver contract gate (``ppl_pruned``
    family); unigrams are returned untouched (the vocab table is V
    rows — the divisor c1 and the smoothing V must stay exact or the
    bound above stops being one-sided)."""
    return unigrams, bigrams.filter(F.col("c12") >= min_count)


def _bigram_pairs(col: Column) -> Column:
    """Adjacent token pairs as ``array<struct<w1,w2>>`` — the LM's
    join keys, built without the string-gram concat+split round-trip
    ``word_bigrams`` pays for its display contract."""
    toks = tokens(col)
    n = F.size(toks)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def pick_lm_impl(broadcast_model: bool) -> str:
    """Route selection for ``bigram_lm_score(impl="auto")`` — the LM
    twin of ``pick_gopher_impl``: zero jobs, the winning route is a
    property of the MODEL REGIME the caller already declared, not of
    the corpus. ``broadcast_model=True`` asserts the count tables fit
    one heap — exactly the regime where the Arrow pass
    (``bigram_lm_score_arrow``: model as two broadcast dicts, one
    zero-shuffle mapInPandas, measured 1.4× over the native join
    route at sf100 — SCALING.md) is safe and wins, because the
    corpus-side gram stream dominates and the native route pays two
    string-keyed join probes per gram. ``broadcast_model=False``
    declares a corpus-scale model that must NOT be collected — the
    native route's AQE-planned shuffle joins are the only correct
    shape there.

    Exactness caveat at the routing point: the Arrow route is
    byte-parity with native on ASCII-whitespace corpora (its
    tokenizer mirrors Java ``\\s`` exactly, incl. the NBSP
    non-split), and its HALF_UP rounding resolves decimal-tie cases
    through ``decimal.Decimal`` to match Spark's BigDecimal
    semantics; parity is pinned by checksum + property tests
    (tests/test_lm.py, tests/test_properties.py)."""
    return "arrow" if broadcast_model else "native"


def bigram_lm_score(
    df,
    unigrams,
    bigrams,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    broadcast_model: bool = True,
    impl: str = "auto",
    model_assets=None,
):
    """Per-document cross-entropy under the reference bigram LM:
    (``id_col``, ``n_bigrams``, ``xent_bits``, ``ppl``) where
    ``xent_bits`` = −mean log₂ P(tᵢ | tᵢ₋₁) over the doc's adjacent
    token pairs with add-α smoothing
    P = (c12 + α) / (c1 + α·V), V = |reference vocab| + 1 (the
    out-of-vocabulary token), and ``ppl`` = 2^xent_bits. Low = fluent
    under the reference distribution; pipelines keep a perplexity
    band (CCNet buckets head/middle/tail on exactly this signal).
    Docs with <2 tokens have no bigrams: n_bigrams=0, NULL scores.

    No explicit UNK mapping is needed: the reference tables contain
    no UNK rows, so an unseen token's lookups miss → c12=0 / c1=0,
    which IS the mapped-to-UNK probability under add-α.

    Shape: doc bigrams via ``explode_outer`` (docs with <2 tokens
    keep one NULL-pair row, so full doc coverage needs NO join back
    to the corpus — count/avg skip the NULL sentinel) left-join the
    two count tables — broadcast under ``broadcast_model`` (a
    reference slice's model is small; pass False for a corpus-scale
    model and AQE plans the joins) — then one groupBy(doc). V is a
    1-row lazy aggregate cross-joined broadcast, not a driver
    action, so scoring composes into a single plan.

    ``impl`` selects the execution route (round 10, the
    ``gopher_quality_filter(impl=...)`` precedent): ``"auto"`` (the
    DEFAULT since round 14 — ``pick_lm_impl``, zero-job, routes on
    the model regime the caller already declared: arrow under
    ``broadcast_model=True``, native otherwise; ``plans/curate.py``'s
    ppl stage always used this), ``"native"`` (the join plan above —
    the ``bigram_lm_ppl`` driver gate pins it explicitly), or
    ``"arrow"`` (the ONE-pass ``bigram_lm_score_arrow``; requires the
    model-fits-one-heap regime and EAGERLY collects the count tables
    at call time, so it is rejected under ``broadcast_model=False``;
    its scorer core is oracle-attested by the ``bigram_lm_ppl_column``
    gate). ``model_assets`` (``collect_lm_assets``) lets a
    caller scoring repeatedly against ONE standing model skip the
    arrow route's per-call collect+broadcast; only that route
    consumes it (the native joins read the DataFrames directly)."""
    if impl == "auto":
        impl = pick_lm_impl(broadcast_model)
    if impl == "arrow":
        if not broadcast_model:
            raise ValueError(
                "impl='arrow' collects the model to the driver - "
                "incompatible with broadcast_model=False (corpus-scale "
                "model); use the native route"
            )
        return bigram_lm_score_arrow(
            df, unigrams, bigrams, text_col, id_col, alpha,
            model_assets=model_assets,
        )
    if impl != "native":
        raise ValueError(f"unknown impl {impl!r}")
    grams = df.select(
        F.col(id_col),
        F.explode_outer(_bigram_pairs(F.col(text_col))).alias("_g"),
    ).select(
        id_col,
        F.col("_g.w1").alias("w1"),
        F.col("_g.w2").alias("w2"),
    )
    v = unigrams.agg((F.count(F.lit(1)) + 1).alias("_V"))
    uni, bi = unigrams, bigrams
    if broadcast_model:
        uni, bi = F.broadcast(uni), F.broadcast(bi)
    logp = F.when(
        F.col("w1").isNotNull(),
        F.log2(
            (F.coalesce("c12", F.lit(0)) + F.lit(alpha))
            / (F.coalesce("c1", F.lit(0)) + F.lit(alpha) * F.col("_V"))
        ),
    )
    return (
        grams.join(bi, ["w1", "w2"], "left")
        .join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(v))
        .groupBy(id_col)
        .agg(
            F.count("w1").alias("n_bigrams"),
            F.round(F.avg(-logp), 4).alias("xent_bits"),
        )
        .select(
            id_col,
            "n_bigrams",
            "xent_bits",
            F.round(F.pow(F.lit(2.0), F.col("xent_bits")), 4).alias("ppl"),
        )
    )


def cms_bigram_sketch(
    reference,
    text_col: str = "text",
    depth: int = 4,
    width: int = 16384,
):
    """Count-min sketch of a reference corpus's BIGRAM counts — the
    constant-size alternative to the exact ``train_bigram_lm`` bigram
    table for corpus-trained models (the table is
    distinct-bigram-sized; the sketch is d·w cells no matter what).
    Terms are ``"w1 w2"`` (single-space join — injective for
    whitespace tokens, the ``_grams`` convention). Build cost: one
    narrow explode + ONE (row, bucket) groupBy with map-side combine."""
    from wroclaw_bike_stats_spark.operators.sketch import cms_build_terms

    pairs = reference.select(
        F.explode(_bigram_pairs(F.col(text_col))).alias("_g")
    ).select(F.concat_ws(" ", "_g.w1", "_g.w2").alias("term"))
    return cms_build_terms(pairs, "term", depth=depth, width=width)


def bigram_lm_score_cms(
    df,
    unigrams,
    bi_sketch,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    broadcast_unigrams: bool = True,
):
    """``bigram_lm_score`` with the bigram table replaced by a
    count-min sketch (``cms_bigram_sketch``) — the corpus-LM route
    that never shuffles the exploded gram stream against a
    corpus-sized count table: the sketch densifies to one broadcast
    row (``sketch.cms_dense``) and every bigram's count estimate is
    d codegen array lookups, so the only corpus-wide shuffle left is
    the per-doc groupBy (plus the w1 unigram join when
    ``broadcast_unigrams=False`` for a vocabulary too big to ship).

    Error contract (one-sided, the CMS classic): ĉ12 ≥ c12 always ⇒
    P̂ ≥ P per bigram ⇒ ``xent_cms ≤ xent_exact`` and
    ``ppl_cms ≤ ppl_exact`` for EVERY document, with
    ĉ12 ≤ c12 + (e/w)·N w.p. ≥ 1−e^−d bounding the deflation
    (deterministic for the fixed xxhash64 seeds — the contract gate
    asserts the one-sided inequality corpus-wide). Same output schema
    as ``bigram_lm_score``; c1 and V stay exact (unigram table).

    ``bi_sketch`` may be EITHER the sparse ``cms_bigram_sketch`` frame
    (densified lazily per plan via ``sketch.cms_dense``) or the
    pre-densified one-row ``sketch.cms_dense_local`` frame — the
    standing-asset hook (r16): a resident pipeline densifies the
    reference sketch once and scores every batch against it instead of
    paying the densify subplan per scoring plan. Identical scores
    (``cms_dense_local`` rows == ``cms_dense`` rows, pinned in
    tests)."""
    from wroclaw_bike_stats_spark.operators.fanout import ensure_parallelism
    from wroclaw_bike_stats_spark.operators.sketch import cms_dense

    if "_cms" in bi_sketch.columns:
        meta = bi_sketch.schema["_cms"].metadata or {}
        dense = bi_sketch
    else:
        meta = bi_sketch.schema["cnt"].metadata or {}
        dense = None
    depth, width = meta.get("cms_depth"), meta.get("cms_width")
    if not depth or not width:
        raise ValueError("bi_sketch must come from cms_bigram_sketch")
    if dense is None:
        dense = cms_dense(bi_sketch)
    # r16: the gram explode + d probes + per-doc aggregate is the whole
    # corpus-side cost and runs at the scan's parallelism — one task on
    # a single-row-group input (profiled 0.57 s at the bench sf). Fan
    # the doc frame up BEFORE the explode when under-parallel (no-op on
    # parallel scans): a doc's rows move as a unit, so its grams stay
    # contiguous in one partition and the per-doc partial sums keep
    # their sequential gram order — bit-identical, the nb_predict
    # precedent.
    grams = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode_outer(_bigram_pairs(F.col(text_col))).alias("_g"),
    ).select(
        id_col,
        F.col("_g.w1").alias("w1"),
        F.col("_g.w2").alias("w2"),
    )
    v = unigrams.agg((F.count(F.lit(1)) + 1).alias("_V"))
    uni = F.broadcast(unigrams) if broadcast_unigrams else unigrams
    term = F.concat_ws(" ", F.col("w1"), F.col("w2"))
    est = F.least(
        *[
            F.element_at(
                F.element_at(F.col("_cms"), F.lit(i).cast("long")),
                (
                    F.pmod(F.xxhash64(term, F.lit(i)), F.lit(width))
                ).cast("int")
                + F.lit(1),
            )
            for i in range(depth)
        ]
    )
    logp = F.when(
        F.col("w1").isNotNull(),
        F.log2(
            (est + F.lit(alpha))
            / (F.coalesce("c1", F.lit(0)) + F.lit(alpha) * F.col("_V"))
        ),
    )
    return (
        grams.join(uni.withColumnRenamed("w", "w1"), "w1", "left")
        .crossJoin(F.broadcast(v))
        .crossJoin(F.broadcast(dense))
        .groupBy(id_col)
        .agg(
            F.count("w1").alias("n_bigrams"),
            F.round(F.avg(-logp), 4).alias("xent_bits"),
        )
        .select(
            id_col,
            "n_bigrams",
            "xent_bits",
            F.round(F.pow(F.lit(2.0), F.col("xent_bits")), 4).alias("ppl"),
        )
    )


def _half_up4(x):
    """HALF_UP round to 4 dp on a positive float64 array, matching
    Spark's ``F.round`` on doubles exactly: Spark goes through
    ``BigDecimal.valueOf(d)`` (the SHORTEST-DECIMAL repr — the same
    string Python's ``repr`` produces) then decimal HALF_UP at scale
    4. For positive x, ``floor(x·1e4 + 0.5)`` matches — EXCEPT
    possibly where the binary-fp product x·1e4 lands near a .5 tie
    and can cross the decimal tie boundary the other way (ADVICE
    r09). Those rare candidates are re-rounded exactly via
    ``decimal.Decimal(repr(x))``, which IS BigDecimal's semantics;
    everything else stays on the vectorized path. Module-level so
    tests pin the SHIPPED kernel, not a copy."""
    import numpy as np

    y = np.floor(x * 1e4 + 0.5) / 1e4
    scaled = x * 1e4
    frac = scaled - np.floor(scaled)
    # tie window scales with the float spacing at this magnitude —
    # for scaled values ≥ ~1e9 a fixed 1e-6 window would be narrower
    # than one ulp and could miss a crossing tie
    sus = np.abs(frac - 0.5) < np.maximum(1e-6, 8 * np.spacing(scaled))
    if sus.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.0001")
        for i in np.nonzero(sus)[0]:
            y[i] = float(
                Decimal(repr(float(x[i]))).quantize(
                    q, rounding=ROUND_HALF_UP
                )
            )
    return y


def collect_lm_assets(df_or_spark, unigrams, bigrams):
    """Collect + broadcast a bigram LM's count tables ONCE, returning
    the ``model_assets`` tuple ``bigram_lm_score_arrow`` accepts —
    the reuse hook for repeated scoring against one standing model
    (streaming admission filters score every daily batch; without
    this each call re-collects and re-broadcasts the model)."""
    spark = getattr(df_or_spark, "sparkSession", df_or_spark)
    uni_rows = unigrams.collect()
    v_count = float(len(uni_rows) + 1)
    uni_map = {r["w"]: float(r["c1"]) for r in uni_rows}
    bi_map = {
        f'{r["w1"]} {r["w2"]}': float(r["c12"]) for r in bigrams.collect()
    }
    return (
        spark.sparkContext.broadcast(uni_map),
        spark.sparkContext.broadcast(bi_map),
        v_count,
    )


def bigram_lm_score_arrow(
    df,
    unigrams,
    bigrams,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    model_assets=None,
):
    """``bigram_lm_score`` as ONE Arrow pass — the Gopher-arrow move
    (text.py pick_gopher_impl) applied to LM scoring: the count
    tables are collected and broadcast as plain dicts, each Arrow
    batch tokenizes its docs, looks every bigram up via a C-loop
    ``pd.Series.map``, and reduces per-doc sums with
    ``np.add.reduceat`` — ZERO joins, ZERO Exchange, output rows 1:1
    with input partitions (plan-shape pinned in tests/test_lm.py).

    Exactness contract: byte-identical to the native route on every
    corpus whose whitespace is ASCII — the tokenizer mirrors Spark
    precisely (trim strips SPACES only; Java ``\\s`` is the six ASCII
    whitespace chars, unlike Python's unicode-aware ``str.split``),
    and rounding mirrors Spark's HALF_UP (numpy's default is
    banker's), with near-tie values re-rounded exactly through
    ``decimal.Decimal(repr(x))`` — the same shortest-decimal HALF_UP
    semantics as Spark's ``BigDecimal.valueOf`` path, closing the
    binary-fp tie-crossing gap the fast ``floor(x·1e4+0.5)`` form
    alone would leave (ADVICE r09). Parity is pinned by checksum
    against the native route in tests/test_lm.py plus a dedicated
    decimal-tie battery. Use when the model fits one heap (same
    regime as ``broadcast_model=True``) and the corpus-side gram
    stream dominates — the 500M-gram sf100 regime where the native
    route pays two string-keyed join probes per gram; reachable as
    ``bigram_lm_score(impl="auto")`` in that regime."""
    if model_assets is None:
        model_assets = collect_lm_assets(df, unigrams, bigrams)
    b_uni, b_bi, v_count = model_assets
    a = float(alpha)
    a_v = a * v_count

    def score(batches):
        import pandas as pd

        uni_d = b_uni.value
        bi_d = b_bi.value
        for pdf in batches:
            counts, xent, ppl = _score_text_batch(
                list(pdf[text_col]), uni_d, bi_d, a, a_v
            )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bigrams": counts,
                    "xent_bits": xent,
                    "ppl": ppl,
                }
            )

    return df.mapInPandas(
        score, f"{id_col} long, n_bigrams long, xent_bits double, ppl double"
    )


def _score_text_batch(texts, uni_d, bi_d, a, a_v):
    """The arrow LM scorer's per-batch core, shared by the
    ``bigram_lm_score_arrow`` frame route and the
    ``bigram_lm_ppl_column`` column route so the two CANNOT diverge:
    (counts, xent, ppl) numpy arrays for a list of texts. NaN =
    no-signal (<2 tokens / NULL text) — Arrow converts it to a real
    SQL NULL on the way back, matching the native route's
    explode_outer NULL contract."""
    import math
    import re

    import numpy as np
    import pandas as pd

    # Java \s — exactly these six ASCII chars; python \s would also
    # split on unicode whitespace and diverge from the native route.
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    log2e_inv = math.log(2.0)
    n_docs = len(texts)
    tok_lists = [
        ws.split(t.strip(" ")) if t is not None else None for t in texts
    ]
    counts = np.array(
        [max(len(t) - 1, 0) if t is not None else 0 for t in tok_lists],
        dtype=np.int64,
    )
    xent = np.full(n_docs, np.nan)
    ppl = np.full(n_docs, np.nan)
    live = counts > 0
    if live.any():
        w1 = [w for t in tok_lists if t and len(t) > 1 for w in t[:-1]]
        keys = [
            f"{t[j]} {t[j + 1]}"
            for t in tok_lists
            if t and len(t) > 1
            for j in range(len(t) - 1)
        ]
        c12 = pd.Series(keys).map(bi_d).fillna(0.0).to_numpy()
        c1 = pd.Series(w1).map(uni_d).fillna(0.0).to_numpy()
        logp = np.log((c12 + a) / (c1 + a_v)) / log2e_inv
        cl = counts[live]
        starts = np.concatenate(([0], np.cumsum(cl)[:-1])).astype(np.int64)
        sums = np.add.reduceat(logp, starts)
        xb = _half_up4(-np.asarray(sums) / cl)
        xent[live] = xb
        ppl[live] = _half_up4(np.power(2.0, xb))
    return counts, xent, ppl


def bigram_lm_ppl_column(
    col: Column,
    unigrams,
    bigrams,
    spark=None,
    alpha: float = 0.1,
    model_assets=None,
) -> Column:
    """Per-row ppl as a COLUMN (round 11, the
    ``repetition_2gram_struct`` move applied to LM scoring): same
    math, tokenizer, and HALF_UP rounding as ``bigram_lm_score_arrow``
    (the shared ``_score_text_batch`` core — parity is structural),
    but returned as a pandas_udf column instead of a scored frame, so
    a ppl-band consumer filters IN PLACE: no join back onto the
    corpus, no extra corpus scan, one fewer self-referencing branch
    in ``plans/curate.py``. NULL (not NaN) for no-signal docs — the
    band filter's ``isNull()`` pass rule works unchanged. Collects
    the model eagerly unless ``model_assets`` is supplied (the same
    documented plan-construction exception as the arrow frame
    route; same broadcast-model regime caveat)."""
    import pandas as pd

    if model_assets is None:
        if spark is None:
            raise ValueError(
                "bigram_lm_ppl_column needs `spark` to collect the "
                "model when model_assets is not supplied"
            )
        model_assets = collect_lm_assets(spark, unigrams, bigrams)
    b_uni, b_bi, v_count = model_assets
    a = float(alpha)
    a_v = a * v_count

    def _ppl(s):
        _, _, ppl = _score_text_batch(
            list(s), b_uni.value, b_bi.value, a, a_v
        )
        return pd.Series(ppl)

    _ppl.__annotations__ = {"s": pd.Series, "return": pd.Series}
    # r15: nondeterministic — the ppl band filter references this
    # column; §4.4 keeps the scoring above fan-out exchanges and
    # single-evaluated under the band predicate.
    return F.pandas_udf(_ppl, "double").asNondeterministic()(col)


def apply_ppl_band(
    df,
    ppl: Column,
    min_ppl: float | None = None,
    max_ppl: float | None = None,
):
    """The in-place ppl-band admission rule, in ONE place: attach
    ``ppl`` (a per-row column, e.g. ``bigram_lm_ppl_column``), keep
    rows whose ppl is NULL (the NO-SIGNAL pass rule — a doc with no
    bigrams carries no evidence either way) or inside the optional
    [``min_ppl``, ``max_ppl``] band, drop the scratch column. Shared
    by ``plans/curate.py``'s arrow branch and the streaming
    ``make_ppl_band_filter`` so the batch/stream parity contract
    cannot drift through two hand-maintained copies of the band
    predicate."""
    band = F.lit(True)
    if max_ppl is not None:
        band = band & (F.col("_ppl") <= max_ppl)
    if min_ppl is not None:
        band = band & (F.col("_ppl") >= min_ppl)
    return (
        df.withColumn("_ppl", ppl)
        .filter(F.col("_ppl").isNull() | band)
        .drop("_ppl")
    )


def ppl_bucket_assign(
    scores,
    mode: str = "approx",
    id_col: str = "doc_id",
    ppl_col: str = "ppl",
    relative_error: float = 0.01,
):
    """CCNet's head/middle/tail bucket assignment (Wenzek et al.,
    LREC 2020 §3: the corpus is split into perplexity terciles and
    downstream consumers pick a band). Input is a scored frame
    (``bigram_lm_score`` output or any (id, ppl)); returns
    (``id_col``, ``ppl_col``, ``bucket``) with bucket ∈
    head/middle/tail, NULL-ppl docs (no bigrams) sorting last →
    tail.

    ``mode="approx"`` (default, the production path): two tercile
    thresholds from ``approxQuantile`` (Greenwald-Khanna sketch, one
    pass, driver gets TWO doubles — an eager job, like every
    stats-probe in this repo) and a map-side comparison — no global
    sort, scales to any corpus.
    ``mode="exact"``: ``ntile(3)`` over a GLOBAL ordering
    (ppl, id) — verification-grade, byte-stable, SQL-mirrorable, but
    a single-partition window: use it for oracles and small frames,
    never at corpus scale (the same exact/approx split as
    plans/range_metrics.py's re-aggregations). Agreement between the
    modes is ~1 − relative_error by construction, pinned in tests."""
    from pyspark.sql import Window

    if mode == "exact":
        w = Window.orderBy(
            F.col(ppl_col).asc_nulls_last(), F.col(id_col).asc()
        )
        tile = F.ntile(3).over(w)
        bucket = (
            F.when(tile == 1, "head")
            .when(tile == 2, "middle")
            .otherwise("tail")
        )
        return scores.select(
            id_col, ppl_col, bucket.alias("bucket")
        )
    if mode != "approx":
        raise ValueError(f"unknown mode {mode!r}")
    t1, t2 = scores.approxQuantile(
        ppl_col, [1 / 3, 2 / 3], relative_error
    )
    bucket = (
        F.when(F.col(ppl_col).isNull(), "tail")
        .when(F.col(ppl_col) <= t1, "head")
        .when(F.col(ppl_col) <= t2, "middle")
        .otherwise("tail")
    )
    return scores.select(id_col, ppl_col, bucket.alias("bucket"))


def fingerprint_md5(col: Column) -> Column:
    """Normalized-content fingerprint: md5 of lowercased,
    whitespace-collapsed text. Portable across engines (used by the
    DuckDB oracle verbatim)."""
    norm = F.regexp_replace(F.trim(F.lower(col)), WS, " ")
    return F.md5(norm)
