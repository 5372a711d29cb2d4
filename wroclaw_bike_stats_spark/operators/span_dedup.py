"""Exact substring-span deduplication — find and remove token spans
that appear more than once ACROSS the corpus, the training-data
cleaning step document-level dedup cannot do (two distinct articles
quoting the same boilerplate paragraph are not near-duplicates of
each other, yet the paragraph still trains the model twice).

Semantics follow the published exact-substring dedup recipe
(Lee et al., "Deduplicating Training Data Makes Language Models
Better", ACL 2022): a length-``k`` token window whose content occurs
at >= 2 sites corpus-wide is a duplicate site; overlapping duplicate
sites merge into maximal spans; removal keeps the globally first
occurrence of each window content and strips the rest. Like the
paper's suffix-array variant, removal is span-wise — overlapping
spans from *different* contents can cover a canonical site's tokens,
so "at least one copy survives" holds per window content only up to
such overlaps (documented there too, §4.1). Detection and removal are
split into separate operators because real pipelines often only
*measure* duplication (``duplicate_span_stats`` — RefinedWeb/Dolma
style dup-fraction thresholds) before deciding to cut.

This engine expresses the whole family relationally instead of with
the paper's monolithic suffix array (which needs the corpus
concatenated in one address space — a non-starter at 100 TB):

- **Site table**: one narrow projection emits ``(doc, pos,
  xxhash64(window))`` per token position — JVM-side ``transform`` +
  ``slice`` inside whole-stage codegen, no Python. Volume is one row
  per corpus token: linear, the same class as the dedup family's
  shingle index (dedup.py). 64-bit hashing stands in for window
  content with the module-standard collision tolerance
  (P ≈ d²/2⁶⁵ over d distinct windows — the false-positive rate at
  5 B windows is ~1e-3 and a collision costs one stripped span, not
  a wrong join).
- **Duplicate windows**: ONE shuffle of the site table keyed by
  window hash; occurrence count and the canonical (min
  ``(doc, pos)``) site come from unordered window functions in a
  single WindowExec pass over that shuffle — not groupBy +
  join-back, which would shuffle by hash twice and recompute the
  site projection per consumer. Per-hash groups are a handful of
  rows, so nothing meaningful buffers.
- **Span merge**: sites sorted per doc; because all windows share
  length ``k``, coverage ends are monotone in position and the
  classic gaps-and-islands break (``pos > lag(pos) + k``) merges
  overlapping/adjacent sites exactly. One shuffle keyed by doc
  (the island window, span groupBys and per-doc span collect all
  ride the same partitioning — no further exchange).
- **Strip**: collected spans join back to the docs (AQE broadcasts
  the span side when duplication is sparse — the common case) and
  the cleaned text is rebuilt with ``filter``/``array_join`` over
  the token array — map-side, codegen'd, no Python.

Total: two linear-volume keyed shuffles + the doc-side span join.
No suffix array, no global sort, no driver materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Window-hash scheme tag stored with a ``window_index`` table; the
#: incremental path refuses an index built under a different scheme
#: or ``k`` (the hashes would never collide — cross-batch duplicate
#: spans would be silently missed).
SPAN_SCHEME = "ws-token-xxhash64-v1"

#: Scheme tag for indexes built over the ARROW site table
#: (``_site_table_arrow``'s token-siphash polynomial) — a different
#: hash FAMILY from ``SPAN_SCHEME``, never mixable with it: the meta
#: guard refuses a cross-family probe exactly like a ``k`` mismatch.
ARROW_SPAN_SCHEME = "ws-token-poly-v1"

#: ``method="auto"`` probe knobs: sample this fraction of docs, and
#: route to ``"agg"`` when the hottest window content's estimated
#: corpus-wide occurrence count (sampled max / frac) reaches the
#: threshold — the point where the window route would buffer that
#: whole group in one task. ~24 B/site row puts 1M sites of one
#: content at ~24 MB in a single WindowExec buffer: still safe, but
#: growing linearly with corpus duplication while every other task
#: stays tiny; beyond it the skew-proof agg route wins.
AUTO_PROBE_FRAC = 0.05
AUTO_HOT_THRESHOLD = 1_000_000


def pick_span_method(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    probe_frac: float | None = None,
    hot_threshold: int | None = None,
    seed: int = 7,
) -> str:
    """Route selection for the span-dedup family: estimate the
    hottest window-content occurrence count from a seeded doc sample
    (a content occurring M times corpus-wide shows up ~M·frac times
    in the sample) and return ``"agg"`` when the estimate reaches
    ``hot_threshold``, else ``"window"``. Runs ONE small job (sampled
    site scan + max-count agg) — the family's only eager step, which
    is why it lives behind ``method="auto"`` instead of being the
    default: plans/curate.py's zero-jobs contract keeps the explicit
    routes. An empty sample (tiny corpus) returns ``"window"``."""
    frac = AUTO_PROBE_FRAC if probe_frac is None else probe_frac
    threshold = AUTO_HOT_THRESHOLD if hot_threshold is None else hot_threshold
    probe = _site_table(df.sample(frac, seed=seed), text_col, id_col, k)
    row = (
        probe.groupBy("h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(F.max("_c").alias("_m"))
        .first()
    )
    sampled_max = row["_m"] if row and row["_m"] is not None else 0
    return "agg" if sampled_max >= threshold * frac else "window"


#: Conservative per-row estimate for the cnt>=2 verdict set a
#: broadcast ships: h (8B) + canon_pos (8B) + canon_id (~16B typical)
#: + ~2x in-memory/relation overhead.
AUTO_DUP_ROW_BYTES = 64

#: Verdict-set bytes above which the indexed strip's duplicate join
#: routes to a shuffle join instead of a broadcast — sized for a
#: comfortable executor/driver broadcast, well under typical
#: spark.sql.autoBroadcastJoinThreshold tuning headroom at scale.
AUTO_BROADCAST_DUPS_MAX_BYTES = 128 * 1024 * 1024


def pick_dups_route(
    index: DataFrame,
    max_bytes: int | None = None,
    row_bytes: int = AUTO_DUP_ROW_BYTES,
) -> str:
    """Route selection for the indexed strip's duplicate-verdict join
    (r14 VERDICT task 3): the STANDING ``window_index`` already knows
    how big the cnt≥2 verdict set is, so one cheap count over the
    index (distinct-content-sized — never the site volume) estimates
    the broadcast payload and returns ``"broadcast"`` when it fits
    ``max_bytes`` (default :data:`AUTO_BROADCAST_DUPS_MAX_BYTES`),
    else ``"shuffle"``. The one eager job is against the index, not
    the corpus — the ``pick_span_method`` precedent of paying a small
    probe to avoid a catastrophic route."""
    budget = AUTO_BROADCAST_DUPS_MAX_BYTES if max_bytes is None else max_bytes
    n_dup = index.filter(F.col("cnt") >= 2).count()
    return "broadcast" if n_dup * row_bytes <= budget else "shuffle"


def _site_table(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(``_id``, ``pos``, ``h``) — one row per length-``k`` token
    window start position; ``h`` is the 64-bit window hash. Docs
    shorter than ``k`` tokens emit nothing (they have no length-k
    span to deduplicate — whole-doc dedup is ``dedup_exact``'s job).
    Narrow: generate + hash inside codegen, no shuffle."""
    from wroclaw_bike_stats_spark.operators.text import tokens

    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    base = df.select(
        F.col(id_col).alias("_id"), toks.alias("_toks")
    ).filter(F.size("_toks") >= k)
    # Tokens come from a whitespace split, so a single-space join is
    # injective — window string equality == token-sequence equality.
    return base.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("_toks") - k),
                lambda p: F.xxhash64(F.array_join(F.slice("_toks", p + 1, k), " ")),
            )
        ).alias("pos", "h"),
    )


def _site_table_arrow(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Arrow twin of ``_site_table`` — same ``(_id, pos, h)`` contract
    (one row per length-``k`` window start; docs shorter than ``k``
    emit nothing) with the window hash vectorized instead of built as
    a string: the native route's ``transform(sequence, ...)`` runs in
    Spark's INTERPRETED HOF evaluator and materializes every window
    via ``array_join(slice(...))`` — O(len·k) char copies per doc,
    measured as 36.9 s of the 48.3 s full strip at the 500k-doc salt
    point. Here each batch tokenizes once (ASCII ``\\s+`` on the
    space-trimmed text — the exact ``tokens()`` split), hashes ALL
    tokens in one C pass (``pd.util.hash_array``), and forms each
    window hash as a degree-(k-1) polynomial in ``_POLY`` over its k
    token hashes — the minhash-v3 move (dedup._shingle_hash_batch)
    applied to span sites.

    Both routes compare windows BY HASH ONLY, with the module-header
    collision tolerance; the hash FAMILY differs (token-siphash
    polynomial vs xxhash64-of-string), so the routes are equivalent,
    not mixable: never probe a stored ``window_index`` (always
    ``SPAN_SCHEME`` = xxhash64) with arrow sites — ``
    _check_index_meta`` exists exactly for that, and this route is
    used only where all sites come from one pass (the full-corpus
    strip)."""
    import re as _re

    import numpy as np
    import pandas as pd

    from wroclaw_bike_stats_spark.operators.dedup import _POLY

    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = f"_id {id_type}, pos int, h long"
    ws = _re.compile(r"\s+", _re.ASCII)
    P = np.uint64(_POLY)

    def emit(pdf_iter):
        empty = pd.DataFrame(
            {"_id": pd.Series([], dtype="object"),
             "pos": pd.Series([], dtype="int32"),
             "h": pd.Series([], dtype="int64")}
        )
        for pdf in pdf_iter:
            toks_flat: list = []
            tcounts: list = []
            keep_ids: list = []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                tk = ws.split((t or "").strip(" "))
                if len(tk) >= k:
                    toks_flat.extend(tk)
                    tcounts.append(len(tk))
                    keep_ids.append(i)
            if not tcounts:
                yield empty
                continue
            th = pd.util.hash_array(
                np.asarray(toks_flat, dtype=object), categorize=False
            )
            tc = np.asarray(tcounts, dtype=np.int64)
            ends = np.cumsum(tc)
            starts = ends - tc
            with np.errstate(over="ignore"):
                poly = th.copy()
                for j in range(1, k):
                    poly = poly * P
                    if j < len(th):
                        poly[: len(th) - j] += th[j:]
            poly = poly[: max(len(th) - (k - 1), 0)]
            idx = np.arange(len(poly))
            doc_of = np.repeat(np.arange(len(tc)), tc)[: len(poly)]
            valid = idx <= ends[doc_of] - k  # window inside its doc
            out_pos = (idx[valid] - starts[doc_of[valid]]).astype(
                np.int32
            )
            out_ids = np.repeat(
                np.asarray(keep_ids, dtype=object), tc - (k - 1)
            )
            yield pd.DataFrame(
                {
                    "_id": out_ids,
                    "pos": out_pos,
                    "h": poly[valid].astype(np.int64),
                }
            )

    # r15: per-doc tokenize + hash_array is the pass's whole cost and
    # runs at the scan's parallelism — one task on a single-file input
    # (measured 0.4–0.6 s at the bench sf). Fan the input up when
    # under-parallel (fanout.ensure_parallelism is a no-op for
    # already-split inputs); output is per-row, so partitioning cannot
    # change results.
    from wroclaw_bike_stats_spark.operators.fanout import ensure_parallelism

    return ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col))
    ).mapInPandas(emit, out_schema)


def _merge_spans(sites: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands merge of duplicate sites into maximal spans:
    (``_id``, ``span_start``, ``span_end``, ``n_sites``) with
    ``span_end`` exclusive. Correct because every site covers exactly
    ``[pos, pos+k)``: with positions sorted, the running coverage end
    is ``lag(pos)+k`` (monotone), so a new span starts exactly when
    ``pos > lag(pos) + k``. One shuffle keyed by doc."""
    w = Window.partitionBy("_id").orderBy("pos")
    return (
        sites.withColumn(
            "_brk",
            F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0),
        )
        .withColumn("_isl", F.sum("_brk").over(w))
        .groupBy("_id", "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count(F.lit(1)).alias("n_sites"),
        )
        .drop("_isl")
    )


def _merged_spans_arrow(removable: DataFrame, k: int) -> DataFrame:
    """Sort-free twin of ``_merge_spans`` + the per-doc span collect:
    returns (``_id``, ``_spans`` array<struct<span_start,span_end>>)
    — the exact frame ``_strip_with_sites`` joins back to the corpus.

    The window route sorts the ENTIRE removable-site stream inside a
    WindowExec (partitionBy(_id) orderBy(pos)) — at the salt-corpus
    1000× point that is a full external sort of ~10⁸ (id, pos) rows.
    Here the shuffle is a plain hash aggregation
    (``collect_list(pos)``, map-side partial, no sort) and the
    gaps-and-islands merge runs vectorized per doc in one Arrow pass
    (``np.sort`` over the doc's own positions — bounded by doc
    length, thousands not billions). Output span SETS are identical
    to the window route (differential-pinned); only the in-array
    order is canonicalized (sorted by span_start, which the window
    route also produces)."""
    import numpy as np
    import pandas as pd

    def merge_batch(pos_lists: pd.Series) -> pd.Series:
        out = []
        for pl in pos_lists:
            p = np.sort(np.asarray(pl, dtype=np.int64))
            brk = np.nonzero(p[1:] > p[:-1] + k)[0]
            starts = np.concatenate(([0], brk + 1))
            ends = np.concatenate((brk, [len(p) - 1]))
            out.append(
                [
                    {"span_start": int(p[s]), "span_end": int(p[e]) + k}
                    for s, e in zip(starts, ends)
                ]
            )
        return pd.Series(out)

    merge_batch.__annotations__ = {
        "pos_lists": pd.Series, "return": pd.Series,
    }
    merge_udf = F.pandas_udf(
        merge_batch, "array<struct<span_start:int,span_end:int>>"
    )
    return (
        removable.groupBy("_id")
        .agg(F.collect_list("pos").alias("_pl"))
        .select("_id", merge_udf(F.col("_pl")).alias("_spans"))
    )


def _non_canonical(annotated: DataFrame) -> DataFrame:
    """Duplicate sites that are not their content's canonical site.
    Null-safe on purpose: a NULL ``_id`` sorts first in the struct
    min, and a plain ``!=`` against it yields SQL NULL — the filter
    would then silently DROP every other occurrence at the canonical
    position, leaving duplicates unstripped with no error. ``<=>``
    keeps the comparison total (NULL ids are tolerated, though joins
    downstream still can't match them — don't feed NULL ids if you
    care about their rows)."""
    return annotated.filter(
        ~(
            F.col("_id").eqNullSafe(F.col("_canon._id"))
            & F.col("pos").eqNullSafe(F.col("_canon.pos"))
        )
    )


def _dup_sites(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    method: str = "window",
    site_route: str = "native",
    min_parallelism: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(all duplicate sites, removable duplicate sites): sites whose
    window content occurs >= 2 times corpus-wide; removable drops the
    canonical (globally min ``(doc, pos)``) occurrence per content.

    ``method="window"`` (default): ONE shuffle of the site table
    keyed by window hash, with occurrence count and canonical site
    computed as unordered window functions in a single WindowExec
    pass — not groupBy + join-back, which would shuffle by ``h``
    twice AND recompute the (O(n·k) hashing) site projection for
    each consumer. Right when per-``h`` groups are small (ordinary
    corpora: a handful of occurrences per duplicated content).

    ``method="agg"`` — the hot-content escape: a single window
    content occurring millions of times (a license sentence, a
    boilerplate footer) makes the window route buffer that entire
    group in one task. The agg route computes (count, canonical) by
    aggregation — partial combine collapses hot keys MAP-SIDE, so
    the shuffle moves per-partition partials, skew-proof — then
    joins the cnt>=2 verdicts back to a persisted site table (AQE
    picks broadcast when the duplicated-content set is small and
    splits skewed joins otherwise). Costs a persist of the site
    table; choose it when the corpus has boilerplate-heavy content.
    Both routes are differentially pinned in tests.

    ``method="auto"`` probes first (``pick_span_method`` — one small
    sampled job) and takes whichever route the corpus's hottest
    window content calls for.

    ``site_route`` picks the site-table generator: ``"native"`` (the
    codegen/oracle shape, and the ONLY route compatible with stored
    ``window_index`` assets) or ``"arrow"``
    (``_site_table_arrow`` — the measured fast path for one-shot
    full-corpus runs)."""
    if method == "auto":
        method = pick_span_method(df, text_col, id_col, k)
    # ``min_parallelism`` (r14): the site pass inherits the input's
    # partitioning, and a single-row-group local parquet (or a
    # 1-partition upstream) serializes the O(len·k) site generation
    # onto one core — measured 196 s of a 269 s standalone strip at
    # the 5M-doc salt point. One repartition of the two-column
    # projection fans it out; generation is per-row, so correctness
    # is unaffected (the gopher min_parallelism precedent, minus the
    # optimizer barrier — mapInPandas is not a pushable predicate).
    src = df.select(id_col, text_col)
    if min_parallelism:
        src = src.repartition(min_parallelism)
    # r16 NOTE (attempted and REVERTED, twice now counting r15): a
    # data-adaptive ensure_parallelism fan-out of the site-generation
    # input measured within host noise and trending NEGATIVE across
    # alternating A/B windows (change {1.94, 2.15} vs base
    # {1.90, 1.83} s for span_strip; identical-code control windows
    # put the noise floor at ±20%). At this sf the h-keyed duplicate
    # shuffle and scheduler barriers dominate, not the single-task
    # site pass; at scale the scan parallelizes by itself. Callers
    # with a genuinely serialized big corpus keep `min_parallelism`.
    if site_route == "arrow":
        sites = _site_table_arrow(src, text_col, id_col, k)
    elif site_route == "native":
        sites = _site_table(src, text_col, id_col, k)
    else:
        raise ValueError(f"unknown site_route {site_route!r}")
    if method == "window":
        w = Window.partitionBy("h")
        marked = (
            sites.withColumn("_cnt", F.count(F.lit(1)).over(w))
            .withColumn("_canon", F.min(F.struct("_id", "pos")).over(w))
            .filter(F.col("_cnt") >= 2)
        )
    elif method == "agg":
        from wroclaw_bike_stats_spark.operators.scratch import persist as _sp

        sites = _sp(sites)
        dup = (
            sites.groupBy("h")
            .agg(
                F.count(F.lit(1)).alias("_cnt"),
                F.min(F.struct("_id", "pos")).alias("_canon"),
            )
            .filter(F.col("_cnt") >= 2)
        )
        marked = sites.join(dup, "h")
    else:
        raise ValueError(f"unknown method {method!r}")
    return marked, _non_canonical(marked)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    method: str = "window",
) -> DataFrame:
    """Detect corpus-duplicated token spans: every maximal span of
    positions covered by length-``k`` windows whose content occurs at
    >= 2 sites corpus-wide (both occurrences count — detection marks
    ALL copies; ``strip_duplicate_spans`` is where the first
    occurrence is spared). Returns (``id_col``, ``span_start``,
    ``span_end``, ``n_sites``) with token-index spans, ``span_end``
    exclusive, ``n_sites`` = merged window count.

    ``k`` defaults to 13 to match ``decontaminate_ngram``'s collision
    rule; Lee et al. use 50 BPE tokens — pass what your tokenizer
    budget means. ``method``: see ``_dup_sites`` (pass ``"agg"`` for
    boilerplate-heavy corpora with hot window contents). See the
    module docstring for the scale shape."""
    marked, _ = _dup_sites(df, text_col, id_col, k, method)
    return _merge_spans(marked.select("_id", "pos"), k).select(
        F.col("_id").alias(id_col), "span_start", "span_end", "n_sites"
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    method: str = "window",
) -> DataFrame:
    """Per-document duplication measurement: (``id_col``,
    ``n_tokens``, ``dup_tokens``, ``dup_frac``) where ``dup_tokens``
    counts token positions covered by at least one corpus-duplicated
    window (all occurrences, as in ``duplicate_spans``) and
    ``dup_frac`` = dup_tokens / n_tokens. Every input doc gets a row
    (zero coverage when nothing is duplicated or the doc is shorter
    than ``k``) — this is the filter signal pipelines threshold on
    (e.g. drop docs with dup_frac > 0.5) before committing to
    span-level surgery.

    ``n_tokens`` = ``size(tokens(text))`` — positions in the token
    array the spans index into, so an empty/NULL doc counts 1 (the
    single empty token; the ``chunk_documents`` tokenizer contract).
    This deliberately differs from ``text.token_count_ws`` (which
    reports 0 for empty docs): the denominator here must match the
    coordinate space of ``span_start``/``span_end``."""
    from wroclaw_bike_stats_spark.operators.text import tokens

    marked, _ = _dup_sites(df, text_col, id_col, k, method)
    cov = (
        _merge_spans(marked.select("_id", "pos"), k)
        .groupBy("_id")
        .agg(F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"))
    )
    n_toks = F.size(tokens(F.coalesce(F.col(text_col), F.lit(""))))
    return (
        df.select(F.col(id_col), n_toks.alias("n_tokens"))
        .join(cov.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1))
            ).alias("dup_frac"),
        )
    )


def window_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    site_route: str = "native",
    min_parallelism: int | None = None,
) -> DataFrame:
    """The resident corpus's storable span-dedup asset: one row per
    DISTINCT window content — (``h``, ``cnt``, ``canon_id``,
    ``canon_pos``) with occurrence count and the canonical (min
    ``(doc, pos)``) site. Orders of magnitude smaller than the raw
    site table (no positions, one row per content), and exactly what
    the incremental path needs: a new-batch window is duplicated iff
    ``cnt_old + cnt_new >= 2``.

    The parameterization (``k``, hash scheme) rides on ``h`` as
    schema metadata — Spark serializes field metadata into the
    parquet footer, so a stored index carries its own provenance and
    the incremental operators validate compatibility with a zero-job
    schema check (same contract as ``dedup.minhash_band_table``).
    One groupBy(hash) shuffle to build; a store of per-batch parts
    is re-aggregated by the same monoid
    (``curate_stream.read_window_index_store``).

    ``site_route`` (r14): ``"native"`` (default — the scheme the
    incremental operators probe, ``SPAN_SCHEME``) or ``"arrow"``
    (the vectorized site pass; stored scheme ``ARROW_SPAN_SCHEME``).
    The two hash FAMILIES never mix — a stored index answers probes
    of its own family only, and the metadata guard enforces it.
    ``min_parallelism``: the single-row-group fan-out escape (see
    ``_dup_sites``)."""
    src = df.select(id_col, text_col)
    if min_parallelism:
        src = src.repartition(min_parallelism)
    # r16 NOTE: no adaptive fan-out here (unlike _dup_sites) — the
    # per-execution index builds in the incremental gates measured
    # slower with the extra exchange (the arrow route already fans
    # inside _site_table_arrow; the native index build feeds one
    # groupBy whose map side is the site pass itself).
    if site_route == "arrow":
        sites = _site_table_arrow(src, text_col, id_col, k)
        scheme = ARROW_SPAN_SCHEME
    elif site_route == "native":
        sites = _site_table(src, text_col, id_col, k)
        scheme = SPAN_SCHEME
    else:
        raise ValueError(f"unknown site_route {site_route!r}")
    agg = (
        sites
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct("_id", "pos")).alias("_canon"),
        )
    )
    return agg.select(
        F.col("h").alias(
            "h", metadata={"span_k": k, "span_scheme": scheme}
        ),
        "cnt",
        F.col("_canon._id").alias("canon_id"),
        F.col("_canon.pos").alias("canon_pos"),
    )


def _check_index_meta(
    index: DataFrame,
    k: int | None,
    what: str = "old_index",
    scheme: str = SPAN_SCHEME,
) -> None:
    """Refuse a stored index whose parameterization does not match
    this run — a silent mismatch finds ~no collisions and passes
    every duplicate through (same loud-guard contract as the
    minhash/hyperplane band tables). ``what`` names the offending
    argument in the error (merge validates both of its inputs);
    ``scheme`` is the hash family THIS caller's sites use (native
    xxhash64 by default; ``ARROW_SPAN_SCHEME`` for arrow-site
    probes)."""
    meta = index.schema["h"].metadata if "h" in index.columns else {}
    if not meta.get("span_scheme"):
        raise ValueError(
            f"{what} has no span_scheme metadata — not a "
            "window_index table (or a legacy rebuild is required)"
        )
    expected = {"span_scheme": scheme}
    if k is not None:
        expected["span_k"] = k
    bad = {
        key: (meta.get(key), want)
        for key, want in expected.items()
        if meta.get(key) != want
    }
    if bad:
        raise ValueError(
            "stored window_index was built with an incompatible "
            "parameterization — cross-batch duplicate spans would be "
            "silently missed: "
            + ", ".join(
                f"{key}: stored={s!r} run={r!r}"
                for key, (s, r) in sorted(bad.items())
            )
        )


def _incremental_sites(
    new: DataFrame,
    old_index: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    broadcast_new: bool,
) -> DataFrame:
    """New-batch site table annotated with corpus-wide duplication:
    (``_id``, ``pos``, ``_dup`` — content occurs >= 2 times across
    old ∪ new, ``_removable`` — duplicated and not the global
    canonical occurrence).

    Keep-first across ingest time: the resident corpus was already
    deduplicated when its index was built, so EVERY new occurrence of
    an old content is removable (the kept copy lives in the corpus);
    content new to this batch keeps its batch-canonical (min
    ``(doc, pos)``) site. The corpus never shuffles: the batch's
    distinct hashes probe the stored index (broadcast under
    ``broadcast_new``, the daily-ingest contract; pass False for a
    backfill-size batch and AQE plans from actual sizes), and the
    hit set — bounded by the batch's distinct windows — joins back
    to the batch sites. The batch site table feeds BOTH the window
    pass and the probe — scratch-persisted so the batch's O(n·k)
    tokenize+hash projection runs once per ingest, not per consumer
    (the review finding this fixes: the module's own single-
    computation rule applied to the full path but not here)."""
    from wroclaw_bike_stats_spark.operators.scratch import persist as _sp

    # r16 NOTE (attempted and REVERTED): fanning the batch site pass up
    # like _dup_sites measured no win (a daily batch is far smaller
    # than the corpus; the exchange overhead ate the parallelism gain
    # in alternating A/B windows). The batch pass stays on its scan's
    # parallelism.
    new_sites = _sp(_site_table(new, text_col, id_col, k))
    w = Window.partitionBy("h")
    new_marked = new_sites.withColumn(
        "_cnt_new", F.count(F.lit(1)).over(w)
    ).withColumn("_canon_new", F.min(F.struct("_id", "pos")).over(w))

    probe = new_sites.select("h").distinct()
    if broadcast_new:
        probe = F.broadcast(probe)
    hits = old_index.join(probe, "h").select("h", F.col("cnt").alias("_cnt_old"))
    if broadcast_new:
        hits = F.broadcast(hits)
    joined = new_marked.join(hits, "h", "left")
    in_old = F.col("_cnt_old").isNotNull()
    batch_dup = F.col("_cnt_new") >= 2
    # null-safe for the same reason as _non_canonical
    non_canon = ~(
        F.col("_id").eqNullSafe(F.col("_canon_new._id"))
        & F.col("pos").eqNullSafe(F.col("_canon_new.pos"))
    )
    return joined.select(
        "_id",
        "pos",
        (in_old | batch_dup).alias("_dup"),
        (in_old | (batch_dup & non_canon)).alias("_removable"),
    )


def strip_duplicate_spans_with_index(
    df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    keep_all: bool = False,
    site_route: str = "auto",
    min_parallelism: int | None = None,
    broadcast_dups: bool | str = "auto",
    merge_route: str = "window",
    broadcast_dups_max_bytes: int | None = None,
) -> DataFrame:
    """Full-corpus strip where the duplicate verdicts come from the
    STANDING ``window_index`` instead of a corpus-wide shuffle — the
    resident-corpus shape at 100 TB (r13 VERDICT task 5's df>1
    pruning, landed where it actually pays):

    - ``strip_duplicate_spans`` moves EVERY site (one per token
      position) through a hash-keyed shuffle + WindowExec to decide
      which windows duplicate. Here that decision is a lookup: the
      monoid index already holds (cnt, canonical) per DISTINCT
      window content, so the duplicated subset is
      ``index.filter(cnt >= 2)`` — distinct-content-sized, orders of
      magnitude below site volume on real corpora.
    - The site stream then just JOINS that verdict set on ``h``:
      when the verdict set fits the broadcast budget the join is
      broadcast and the site table NEVER shuffles — detection is one
      narrow pass. ``broadcast_dups="auto"`` (default, r15) asks the
      STANDING index itself: one cheap count of its cnt≥2 rows
      (:func:`pick_dups_route`) picks broadcast when the estimated
      verdict bytes fit ``broadcast_dups_max_bytes`` (default
      ``AUTO_BROADCAST_DUPS_MAX_BYTES``) and the shuffle join
      otherwise — a boilerplate-heavy corpus (the salt corpora
      measured 96.8% of sites duplicated) no longer needs the caller
      to know to pass False. ``True``/``False`` force the route
      (zero extra jobs); the forced-shuffle route leaves AQE to plan
      the join from actual sizes.
    - Canonical-copy semantics are the index's: the spared site per
      content is the min (doc, pos) ACROSS EVERYTHING THE INDEX HAS
      SEEN. When ``df`` is exactly the index's corpus this equals
      ``strip_duplicate_spans`` (differential-pinned); when the index
      is older/wider, verdicts are with respect to the resident
      corpus — precisely the incremental-path contract extended to a
      full re-strip.

    ``index`` must carry the hash-family metadata.
    ``site_route="auto"`` (default) reads the index's ``span_scheme``
    and probes with the SAME family — ``window_index(docs)`` →
    ``strip_duplicate_spans_with_index(docs, idx)`` pairs correctly
    whichever family built the index (the r14 default mismatch:
    window_index defaulted native while this defaulted arrow, so the
    naive pairing always refused). Passing ``"arrow"``/``"native"``
    explicitly still guards loudly on a family or ``k`` mismatch
    (``_check_index_meta``)."""
    if site_route == "auto":
        meta = index.schema["h"].metadata if "h" in index.columns else {}
        site_route = (
            "arrow" if meta.get("span_scheme") == ARROW_SPAN_SCHEME
            else "native"
        )
    scheme = ARROW_SPAN_SCHEME if site_route == "arrow" else SPAN_SCHEME
    _check_index_meta(index, k, what="index", scheme=scheme)
    src = df.select(id_col, text_col)
    if min_parallelism:
        src = src.repartition(min_parallelism)
    if site_route == "arrow":
        sites = _site_table_arrow(src, text_col, id_col, k)
    elif site_route == "native":
        sites = _site_table(src, text_col, id_col, k)
    else:
        raise ValueError(f"unknown site_route {site_route!r}")
    dups = index.filter(F.col("cnt") >= 2).select(
        "h", "canon_id", "canon_pos"
    )
    if broadcast_dups == "auto":
        broadcast_dups = (
            pick_dups_route(index, max_bytes=broadcast_dups_max_bytes)
            == "broadcast"
        )
    if broadcast_dups:
        dups = F.broadcast(dups)
    removable = (
        sites.join(dups, "h")
        .filter(
            ~(
                F.col("_id").eqNullSafe(F.col("canon_id"))
                & F.col("pos").eqNullSafe(F.col("canon_pos"))
            )
        )
        .select("_id", "pos")
    )
    return _strip_with_sites(
        df, removable, text_col, id_col, k, keep_all, merge_route
    )


def strip_duplicate_spans_incremental(
    new: DataFrame,
    old_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    broadcast_new: bool = True,
    keep_all: bool = False,
) -> DataFrame:
    """Day-N keep-first span removal over the NEW batch: strips every
    new occurrence of corpus-resident content (the kept copy is
    already in the corpus) and all but the batch-canonical occurrence
    of batch-new content. Same output shape as
    ``strip_duplicate_spans``; equivalence to the full-corpus run
    restricted to new docs is pinned in tests. After the batch is
    admitted, append its ``window_index`` to the store as a new part
    (``curate_stream.read_window_index_store`` folds the parts) —
    per-ingest cost stays proportional to the batch plus one narrow
    index scan, never corpus re-hashing."""
    _check_index_meta(old_index, k)
    sites = _incremental_sites(
        new, old_index, text_col, id_col, k, broadcast_new
    )
    return _strip_with_sites(
        new, sites.filter("_removable"), text_col, id_col, k, keep_all
    )


def _strip_with_sites(
    df: DataFrame,
    removable: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    keep_all: bool = False,
    merge_route: str = "window",
) -> DataFrame:
    """Shared rebuild tail of the full and incremental strips:
    removable sites → merged spans collected per doc → map-side
    token filter + re-join. One row per input doc. ``keep_all``
    carries every input column through (for pipeline composition —
    plans/curate.py swaps ``text_clean`` in for the text column);
    the default keeps the original 3-column contract.

    ``merge_route``: ``"window"`` = the SQL-mirrorable
    gaps-and-islands WindowExec (``_merge_spans``, sorts the full
    removable stream); ``"arrow"`` = sort-free hash agg + vectorized
    per-doc merge (``_merged_spans_arrow``) — same span sets,
    differential-pinned."""
    from wroclaw_bike_stats_spark.operators.text import tokens

    if merge_route == "arrow":
        spans = _merged_spans_arrow(removable.select("_id", "pos"), k)
    elif merge_route == "window":
        spans = (
            _merge_spans(removable.select("_id", "pos"), k)
            .groupBy("_id")
            .agg(
                F.collect_list(
                    F.struct("span_start", "span_end")
                ).alias("_spans")
            )
        )
    else:
        raise ValueError(f"unknown merge_route {merge_route!r}")
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    spans_arr = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<span_start:int,span_end:int>>"),
    )
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            spans_arr,
            lambda s: (s["span_start"] <= i) & (i < s["span_end"]),
        ),
    )
    # eqNullSafe: a NULL-id doc's merged spans must still reach its
    # rebuild (a plain equi-join never matches NULL and would silently
    # leave that doc unstripped). Multiple NULL-id docs are
    # indistinguishable at the site level and collapse into one
    # logical doc — the public docstrings state the unique-id
    # contract.
    spans2 = spans.withColumnRenamed("_id", "_strip_id")
    joined = df.join(
        spans2, F.col(id_col).eqNullSafe(F.col("_strip_id")), "left"
    )
    cleaned = F.array_join(kept, " ").alias("text_clean")
    removed = (F.size(toks) - F.size(kept)).alias("n_removed")
    if keep_all:
        return joined.select(df["*"], cleaned, removed)
    return joined.select(id_col, cleaned, removed)


def strip_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    method: str = "window",
    keep_all: bool = False,
    site_route: str = "native",
    min_parallelism: int | None = None,
    merge_route: str = "auto",
) -> DataFrame:
    """Remove duplicated spans, keeping the globally first occurrence
    of each window content (canonical = min ``(doc, pos)`` — stable
    across reruns and partitionings). Returns one row per input doc:
    (``id_col``, ``text_clean``, ``n_removed``) where ``text_clean``
    is the doc's tokens minus positions covered by any removable
    (duplicated, non-canonical) window, re-joined with single spaces,
    and ``n_removed`` counts stripped tokens.

    Whitespace is normalized by the rebuild (tokenizer round-trip);
    docs with nothing to strip keep all tokens. The canonical-copy
    guarantee is per window content and can be eroded by overlapping
    spans of *other* contents — the same caveat as Lee et al. §4.1.
    Rebuild is map-side (``filter`` over the token array against the
    doc's own collected span list, bounded by len/k spans).

    ``keep_all`` carries every input column through alongside
    ``text_clean``/``n_removed`` (pipeline composition). Contract:
    ``id_col`` values must be UNIQUE; at most one NULL id is handled
    (null-safe rebuild join) — several NULL-id docs are
    indistinguishable at the site level and collapse into one.

    ``site_route="arrow"`` swaps the site table for the vectorized
    Arrow generator (``_site_table_arrow`` — equal output, measured
    multi-x faster; the one-shot full-corpus shape
    ``plans/curate.py`` uses). The native default is the
    oracle-differential shape and the only route valid against
    stored window indexes.

    ``min_parallelism`` (r14): repartition the site-generation input
    first — the escape from single-row-group local parquet
    serializing the O(len·k) site pass onto one core (see
    ``_dup_sites``; measured 269 → ~95 s on the standalone 5M-doc
    salt strip). ``merge_route``: ``"window"`` = the SQL-mirrorable
    gaps-and-islands WindowExec; ``"arrow"`` = sort-free hash agg +
    vectorized per-doc merge (``_merged_spans_arrow``) — identical
    spans, differential-pinned. ``"auto"`` resolves to ``"window"``:
    four interleaved exclusive runs at the 5M-doc salt point measured
    the two within host noise of each other (window 87–108 s vs
    arrow 100–106 s — the h-keyed dup-detection shuffle dominates,
    not the _id-keyed merge), so auto keeps the one shape the SQL
    oracles mirror; the arrow route stays available for corpora
    where the removable stream is the bottleneck."""
    _, removable = _dup_sites(
        df, text_col, id_col, k, method, site_route, min_parallelism
    )
    if merge_route == "auto":
        merge_route = "window"
    return _strip_with_sites(
        df, removable, text_col, id_col, k, keep_all, merge_route
    )
