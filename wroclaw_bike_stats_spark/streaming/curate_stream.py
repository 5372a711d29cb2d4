"""Streaming daily-ingest curation — the incremental dedup assets
(MinHash band table, span window index, SemDeDup assignments) wired
into a ``foreachBatch`` job, so "the incremental operators exist"
becomes "the pipeline runs incrementally".

Production shape this models (RefinedWeb/Dolma-class): documents land
daily; each ingest must (a) find near-duplicates of the new batch
against the RESIDENT corpus without re-hashing the corpus, (b) strip
spans the corpus already contains, and (c) leave the standing assets
updated so tomorrow's ingest pays the same batch-proportional cost.
The reference repo's analog is the idempotent daily upsert
(src/data_load_sqlite.py:218 ``load_to_sqlite`` — INSERT OR IGNORE
over the staged batch); here the "already seen" test is similarity,
not key equality.

Store layout (plain parquet dirs under ``store_dir``; appends only,
no in-place rewrites — no versioned commit is needed because nothing
here overwrites what a lazy plan reads):

- ``docs/``      admitted documents, ``text`` already span-stripped;
                 the ORIGINAL text rides along as ``text_orig`` (the
                 dedup/index substrate — parity with a one-shot run
                 demands hashing originals, not rebuilt text).
- ``bands/``     banded MinHash rows (``dedup.minhash_band_table``),
                 appended per batch — tomorrow's candidate probe side.
- ``pairs/``     exact-Jaccard-verified near-dup pairs, appended per
                 batch (each batch contributes the pairs INVOLVING its
                 docs).
- ``winindex/``  per-batch ``span_dedup.window_index`` parts; readers
                 re-aggregate (the (cnt, canonical) monoid) — append
                 beats merge-rewrite and the re-agg is one groupBy
                 over index-sized data (bounded by the consumer's own
                 hash set via ``read_window_index_store``'s
                 ``probe_hashes``).
- ``maxid/``     the ascending-id guard's high-water-mark store: one
                 1-row batch fingerprint append per ingest (id range,
                 row count, id-multiset hash, (id,text) pairing
                 digest).

Exactness (the batch-parity contract, pinned in
tests/test_curate_stream.py): every near-dup pair of the union is
discovered by the batch that delivers its LATER member (new↔old or
new↔new), so the cumulative ``pairs/`` store is exactly the one-shot
pair graph and ``kept_view`` (CC + keep-min-id over it) equals the
full-run ``neardup_components``/``keep_canonical`` result. Span
parity likewise: with ingest in ascending-id order (daily ingests —
new ids are higher), each batch's incremental strip against the
accumulated index reproduces the full-run keep-first strip. Two
deliberate divergences from plans/curate.py's one-shot ordering,
both documented contracts: the window index accumulates over ALL
admitted docs (not just dedup survivors — survivor-only indexing is
unstable under retroactive component merges), and near-dup KEEP
decisions are a VIEW (``kept_view``), not row deletions: a later
batch can merge two components and re-elect the canonical doc, which
an append-only store can only express by recomputing the view (the
same reasoning as the reference's recompute-don't-update metrics
flow, src/compute_daily_metrics.py).

Embedding-side ingest (``ingest_embedding_batch``) maintains the
SemDeDup assets the same way: assignments accumulate against FIXED
centroids (fit once at ``init_embedding_store`` — the paper's
contract; refitting per batch would silently re-cluster history),
semantic pairs accumulate to the full within-cluster pair set, and
``kept_view_embeddings`` equals the one-shot SemDeDup keep over the
union under the stored centroids — PRECONDITION: the resident corpus
passed to ``init_embedding_store`` is internally deduped (its
old↔old pairs were resolved before the store existed; only pairs
involving a later batch are discoverable afterwards). All of the
above is pinned in tests/test_curate_stream.py.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from wroclaw_bike_stats_spark.operators import dedup as D
from wroclaw_bike_stats_spark.operators import span_dedup as SD
from wroclaw_bike_stats_spark.operators.components import (
    connected_components,
    keep_canonical,
)

__all__ = [
    "compact_curation_store",
    "ingest_document_batch",
    "ingest_embedding_batch",
    "init_embedding_store",
    "kept_view",
    "kept_view_embeddings",
    "make_dsir_threshold_filter",
    "make_nb_class_filter",
    "make_ppl_band_filter",
    "maybe_compact_store",
    "read_window_index_store",
    "run_curation_stream",
    "run_embedding_curation_stream",
]


#: Version tag of the maxid fingerprint's CONTENT digest. Rows written
#: under a different (or absent) scheme fall back to the id-keyed
#: replay check instead of hard-failing the content compare — a
#: formula change must never wedge an upgraded-in-place store in the
#: restart-crash loop the replay exemption exists to prevent.
#: "idtext-v2" = bit_xor(xxhash64(id, text)), the (id, text) PAIRING
#: digest. UNMARKED text_hash rows are ambiguous — two pre-scheme
#: formulas existed (a text-multiset digest, then briefly the pairing
#: digest, both written without a tag) and are indistinguishable on
#: disk, which is exactly why a scheme mismatch falls back id-keyed
#: rather than attempting the compare.
FP_SCHEME = "idtext-v2"


def _d(store_dir: str, what: str) -> str:
    return os.path.join(store_dir, what)


def _maybe(
    spark: SparkSession,
    path: str,
    max_depth: int = 8,
    merge_schema: bool = False,
) -> DataFrame | None:
    """Read a store directory if it holds data, else None —
    first-batch bootstrap. Listing goes through the Hadoop FileSystem
    API so the store can live on any supported filesystem (local,
    HDFS, S3A...); NOTE this uses ``spark._jvm``, which exists only
    on classic py4j sessions — under Spark Connect this helper (and
    therefore the store bootstrap) needs a Connect-side listing
    instead.

    Layout rules (ADVICE r09 — a silently-empty verdict here would
    make ``ingest_document_batch`` recompute within-batch-only pairs
    against no resident corpus, quietly breaking the parity
    contract):

    - a non-hidden DATA file anywhere down a non-hidden directory
      chain (depth-capped at ``max_depth`` levels, default 8) →
      read: covers both flat appends and hive-partitioned stores
      written by an external producer, including multi-column
      partitioning (data files several levels down); raise the cap
      for deeper partition hierarchies;
    - non-hidden subdirectories with NO data anywhere under them →
      raise (unrecognized layout), never a silent None;
    - only hidden/marker entries (e.g. a ``_SUCCESS`` left by a
      crashed append) or nothing at all → None."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None

    def _is_hidden(status) -> bool:
        return status.getPath().getName().startswith(("_", "."))

    def _has_data(statuses, depth: int) -> bool:
        subdirs = []
        for status in statuses:
            if _is_hidden(status):
                continue
            if status.isFile():
                return True
            subdirs.append(status)
        if depth > 0:
            return any(
                _has_data(fs.listStatus(s.getPath()), depth - 1)
                for s in subdirs
            )
        return False

    top = list(fs.listStatus(hpath))
    saw_subdir = any(s.isDirectory() and not _is_hidden(s) for s in top)
    if _has_data(top, max_depth):
        # merge_schema: for stores whose schema WIDENED in place (the
        # maxid watermark gained text_hash in r11) plain inference
        # reads ONE footer — whichever file listing order serves up —
        # so a new column present only in newer files would
        # nondeterministically vanish. Schema union costs one footer
        # read per file; only tiny stores opt in.
        if merge_schema:
            return spark.read.option("mergeSchema", "true").parquet(path)
        return spark.read.parquet(path)
    if saw_subdir:
        raise ValueError(
            f"unrecognized store layout at {path!r}: non-hidden "
            "subdirectories with no data files within max_depth="
            f"{max_depth} directory levels - refusing to treat the "
            "store as empty (raise _maybe's max_depth if the store "
            "is partitioned deeper than that)"
        )
    return None


def read_window_index_store(
    spark: SparkSession,
    store_dir: str,
    probe_hashes: DataFrame | None = None,
    broadcast_probe: bool = True,
) -> DataFrame | None:
    """The accumulated window index: per-batch parts re-aggregated by
    the (count, canonical) monoid — counts add, canonicals take the
    min — in ONE groupBy.
    Field metadata (span_k / span_scheme) survives the parquet
    round-trip, so the incremental strip's parameterization guard
    still fires on a mismatched store.

    ``probe_hashes`` (late r11, found by the stream_ingest_day_n
    scale decomposition): a frame whose ``h`` column bounds the
    hashes the CONSUMER will consult — e.g. the ingest batch's own
    ``window_index`` part. The store is then semi-join-filtered on
    ``h`` BEFORE the monoid groupBy, collapsing the re-aggregation
    shuffle from store-sized to probe-sized (measured 43 s → scan
    cost at sf100: 197M distinct windows aggregated for a consumer
    that reads ~4M of them). EXACT for such a consumer: the monoid
    folds per ``h``, so dropping never-consulted hashes changes no
    surviving row — but the result is NOT the full index (do not
    store it). ``broadcast_probe``
    mirrors the incremental operators' ``broadcast_new`` contract
    (False for a backfill-size probe)."""
    raw = _maybe(spark, _d(store_dir, "winindex"))
    if raw is None:
        return None
    meta = dict(raw.schema["h"].metadata or {})
    if probe_hashes is not None:
        probe = probe_hashes.select("h").distinct()
        if broadcast_probe:
            probe = F.broadcast(probe)
        raw = raw.join(probe, "h", "leftsemi")
    merged = (
        raw.groupBy("h")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.min(
                F.struct(
                    F.col("canon_id").alias("_id"),
                    F.col("canon_pos").alias("pos"),
                )
            ).alias("_canon"),
        )
    )
    return merged.select(
        F.col("h").alias("h", metadata=meta),
        "cnt",
        F.col("_canon._id").alias("canon_id"),
        F.col("_canon.pos").alias("canon_pos"),
    )


def _admit_scored(batch, scored, id_col, score_col, keep_pred):
    """The shared admission shape of every scored-stage filter:
    left-join the per-doc score frame back onto the batch and keep
    rows whose score is NULL (the NO-SIGNAL pass rule — one place,
    so the three filters cannot drift apart) or satisfies
    ``keep_pred`` (a Column predicate over ``score_col``)."""
    return (
        batch.join(scored, id_col, "left")
        .filter(F.col(score_col).isNull() | keep_pred)
        .drop(score_col)
    )


def make_ppl_band_filter(
    lm,
    min_ppl: float | None = None,
    max_ppl: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Build an ``admit_filter`` closure for ``ingest_document_batch``
    from a STORED reference bigram LM — the scored-stage analog of the
    stored band table: the model is a standing asset fit once
    (scale_bench prepare_stores' lm_uni/lm_bi framing), every daily
    ingest scores ONLY its own batch against it. Semantics mirror
    ``plans/curate.py``'s ppl stage exactly (no-signal docs pass,
    either bound optional; ``impl="auto"`` → the Arrow scorer in the
    broadcast-model regime). Because the model is FIXED and the
    filter is per-doc, filtering each batch ≡ filtering the union
    once — the batch-parity contract, pinned in
    tests/test_curate_stream.py. The count tables are collected and
    broadcast ONCE, on the first admitted batch
    (``text.collect_lm_assets``) and reused by every later ingest —
    model-sized driver work exactly once per stream, never per batch,
    never corpus-sized. DSIR / NB admission thresholds slot into the
    same hook: score the batch against the stored dsir_model /
    nb_weights tables and filter per doc.

    ``lm`` is either a ``(unigrams, bigrams)`` DataFrame pair or a
    CALLABLE ``spark -> (unigrams, bigrams)`` (e.g. a closure over the
    stored table paths). Pass the callable when the filter must
    survive a real session/stream RESTART: the memoized broadcasts are
    keyed by the batch's applicationId and rebuilt on a new context
    (r11 ADVICE), but a rebuild from the tuple form re-collects
    DataFrames bound to the DEAD session and raises — the loader form
    re-resolves the model on the batch's own session instead."""
    from wroclaw_bike_stats_spark.operators.text import (
        apply_ppl_band,
        bigram_lm_ppl_column,
        collect_lm_assets,
    )

    # memoized {applicationId: (b_uni, b_bi, v_count)} — keyed by the
    # batch's OWN SparkContext (the shared-asset store's keying), so a
    # filter object reused across a session/stream restart rebuilds
    # the broadcasts on the new context instead of scoring against a
    # dead broadcast from the old one.
    assets: dict = {}

    def admit(batch: DataFrame) -> DataFrame:
        spark = batch.sparkSession
        app_id = spark.sparkContext.applicationId
        if app_id not in assets:
            assets.clear()
            uni, bi = lm(spark) if callable(lm) else lm
            assets[app_id] = collect_lm_assets(batch, uni, bi)
        # r11: ppl as a per-row COLUMN (same _score_text_batch core),
        # filtered in place by the SAME shared band rule the batch
        # plan uses (text.apply_ppl_band — one implementation, no
        # drift): no per-batch scored-frame join.
        ppl = bigram_lm_ppl_column(
            F.col(text_col), None, None, model_assets=assets[app_id]
        )
        return apply_ppl_band(batch, ppl, min_ppl, max_ppl)

    return admit


def make_dsir_threshold_filter(
    model: DataFrame,
    min_logw: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    portable_hash: bool = False,
):
    """``admit_filter`` from a stored DSIR log-ratio model
    (operators/dsir.py ``dsir_logratio`` — the standing asset
    scale_bench's prepare_stores writes as ``dsir_model``): admit
    docs whose importance log-weight ≥ ``min_logw``. Per-doc under a
    FIXED model → per-batch ≡ one-shot union filtering, the same
    contract as ``make_ppl_band_filter`` — including the NO-SIGNAL
    rule: a doc whose every gram bucket is absent from the (e.g.
    thinned) stored model gets a NULL logw and PASSES, exactly like
    the ppl filter's NULL-ppl docs; the model's hash-scheme guard
    fires per batch exactly as in a one-shot score."""
    from wroclaw_bike_stats_spark.operators.dsir import dsir_scores

    def admit(batch: DataFrame) -> DataFrame:
        scored = dsir_scores(
            batch, model, text_col=text_col, id_col=id_col,
            num_buckets=num_buckets, portable_hash=portable_hash,
        ).select(id_col, "logw")
        return _admit_scored(
            batch, scored, id_col, "logw", F.col("logw") >= min_logw
        )

    return admit


def make_nb_class_filter(
    weights: DataFrame,
    priors: DataFrame,
    classes: list,
    keep_classes: set,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 4096,
    portable_hash: bool = False,
):
    """``admit_filter`` from stored Naive-Bayes weight/prior tables
    (operators/classifier.py ``nb_train`` — the ``nb_weights`` /
    ``nb_priors`` standing assets): admit docs whose argmax class is
    in ``keep_classes`` (the CCNet/fastText "keep the target
    language" admission rule). Same fixed-assets contract as the
    other filters, same NO-SIGNAL rule: a doc with no prediction row
    (nothing scoreable against the stored weights) PASSES rather
    than being silently dropped by a NULL comparison."""
    from wroclaw_bike_stats_spark.operators.classifier import nb_predict

    keep = sorted(keep_classes)

    def admit(batch: DataFrame) -> DataFrame:
        pred = nb_predict(
            batch, weights, priors, classes, text_col=text_col,
            id_col=id_col, num_buckets=num_buckets,
            portable_hash=portable_hash,
        ).select(id_col, "pred")
        return _admit_scored(
            batch, pred, id_col, "pred", F.col("pred").isin(keep)
        )

    return admit


def ingest_document_batch(
    batch: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    span_k: int = 13,
    enforce_ascending_ids: bool = True,
    admit_filter=None,
    broadcast_index_probe: bool = True,
) -> None:
    """Admit one daily batch: batch-proportional work only.

    1. Near-dup pairs involving the batch via the STORED band table
       (``minhash_incremental_pairs(old_banded=...)`` — the corpus is
       never re-shingled); appended to ``pairs/``.
    2. Span strip of the batch against the accumulated window index
       (``strip_duplicate_spans_incremental`` — one narrow scan of
       index-sized data); first batch falls back to the full
       within-batch strip (it IS the whole corpus then).
    3. Asset maintenance: append the batch's band rows and its
       original-text ``window_index`` part; append the stripped docs
       (original text kept as ``text_orig``).

    Each step materializes eagerly (this runs inside foreachBatch —
    eager is the contract there), and every write is an append of
    batch-derived rows.

    The SPAN-parity precondition (module docstring: keep-first strip
    equals the one-shot run only when ingests arrive in ascending-id
    order) is a RUNTIME GUARD, not prose — the same loud-contract
    discipline as span_dedup's parameterization check: a batch whose
    min id is ≤ the stored high-water mark raises ``ValueError``
    before anything is appended — EXCEPT a checkpoint replay of the
    most recent batch (identical fingerprint: id range, row count,
    order-insensitive id hash AND — since r11 — an
    order-insensitive digest of the ``(id, text)`` PAIRING, so
    neither a new batch merely sharing the endpoints, nor a
    REGENERATED day file with the same id multiset but different
    text, nor one re-pairing the same texts to different ids can
    impersonate one), which is let through WITH a ``UserWarning``
    (the re-append is correct at-least-once behavior, but never
    silent): fencing a replay would wedge the stream in a
    restart-crash loop after a crash between the watermark append
    and the checkpoint commit. The content compare applies only to
    rows tagged with the current ``fp_scheme``; any older vintage — no
    ``text_hash`` column at all, or an untagged ``text_hash`` from a
    pre-scheme formula — keeps the id-keyed replay
    check. The watermark rides in a
    tiny ``maxid/`` store (one 1-row fingerprint append per batch,
    built from the guard's own aggregate — one batch job total;
    reading it is index-sized, so the guard stays batch-proportional
    — no corpus scan). ``enforce_ascending_ids=False`` opts into
    DEGRADED
    semantics for out-of-order ingest: the near-dup pair graph and
    ``kept_view`` stay exact (pair discovery is order-independent),
    but the span strip becomes first-INGESTED-wins rather than the
    one-shot run's first-id-wins.

    ``admit_filter`` (round 10) is the SCORED-STAGE hook: a per-doc
    filter over the batch under FIXED standing model assets (the
    stored LM / DSIR / NB tables — ``make_ppl_band_filter`` builds
    the LM-band one), applied BEFORE any dedup/index work, so every
    ingest pays batch-proportional scoring instead of the
    full-recompute cost (measured 40-44× at sf100 for the DSIR/NB
    twins, SCALING.md). CONTRACT: the filter must be deterministic
    per-doc under assets that never change across batches — then
    filtering each batch ≡ filtering the union once, and all the
    parity equalities above hold over the FILTERED corpus (pinned in
    tests/test_curate_stream.py). A filter computing batch-relative
    statistics (quantiles, means) breaks that equivalence. The
    ordering guard and the high-water mark run on the RAW batch: ids
    the stream has seen, admitted or not.

    ``broadcast_index_probe`` (r12, closing the knob the
    ``read_window_index_store`` docstring promised but the ingest
    never exposed): the batch's window-hash set that bounds the
    stored index re-agg is ~one row per distinct k-token window —
    token-proportional, far larger than a doc-count probe — so a
    BACKFILL-sized batch ingested into an existing store must pass
    False here (shuffle semi-join instead of a hash-set broadcast),
    mirroring the incremental operators' ``broadcast_new``
    contract. Daily-drop batches keep the True default."""
    spark = batch.sparkSession
    batch = batch.persist()
    admitted_in = batch
    new_sigs = batch_index = None
    try:
        # ONE aggregate over the raw batch serves both the ordering
        # guard and the end-of-ingest watermark append (id range +
        # row count + order-insensitive id hash — the batch's
        # fingerprint).
        fp = batch.agg(
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
            F.count(F.lit(1)).alias("n_rows"),
            # bit_xor, not sum: order-insensitive like sum but cannot
            # overflow (ANSI mode makes a long-sum overflow throw)
            F.expr(f"bit_xor(xxhash64(`{id_col}`))").alias("id_hash"),
            # content digest (r11 ADVICE): a regenerated day file with
            # the same id multiset but DIFFERENT text must not pass as
            # a checkpoint replay — same aggregate, one more column.
            # Hashes the (id, text) PAIRING, not the text multiset: a
            # regenerated file that re-pairs the same texts to
            # different ids (positional id assignment over a reordered
            # producer run) must not pass either.
            F.expr(
                f"bit_xor(xxhash64(`{id_col}`, `{text_col}`))"
            ).alias("text_hash"),
        ).first()
        if enforce_ascending_ids:
            # merge_schema: a legacy (pre-r11, no text_hash) store
            # UPGRADED in place holds mixed-width files; plain
            # inference picks one footer nondeterministically and can
            # HIDE text_hash — silently disabling the content-digest
            # check. The store is rows-per-batch tiny, so per-file
            # footer reads are free.
            wm = _maybe(spark, _d(store_dir, "maxid"), merge_schema=True)
            if wm is not None:
                has_text_hash = "text_hash" in wm.columns
                has_scheme = "fp_scheme" in wm.columns
                last_fields = (
                    ["min_id", "n_rows", "id_hash"]
                    + (["text_hash"] if has_text_hash else [])
                    + (["fp_scheme"] if has_scheme else [])
                )
                # ties on max_id (a replay re-appends the same batch's
                # fingerprint, possibly under a NEWER digest scheme
                # after an in-place upgrade): the current-scheme row
                # wins deterministically — it carries the comparable
                # content digest
                scheme_rank = (
                    (F.col("fp_scheme") == FP_SCHEME).cast("int")
                    if has_scheme
                    else F.lit(0)
                )
                top = wm.agg(
                    F.max("max_id").alias("_mx"),
                    F.max_by(
                        F.struct(*last_fields),
                        F.struct(
                            F.col("max_id"),
                            F.coalesce(scheme_rank, F.lit(0)).alias("_r"),
                        ),
                    ).alias("_last"),
                ).first()
                stored_max, last = top["_mx"], top["_last"]
                if last is None:
                    # a store that holds only zero-row parts (external
                    # compaction/rewrite) — nothing recorded, nothing
                    # to enforce; same as an absent store
                    stored_max = None
                # A CHECKPOINT REPLAY of the most recent batch (crash
                # after the maxid append, before the checkpoint
                # commit) re-presents the last recorded fingerprint —
                # id range AND row count AND id multiset hash AND
                # (r11 ADVICE) content digest, so neither a NEW batch
                # sharing the endpoints nor a REGENERATED day file
                # with the same ids but different text can
                # impersonate one — and is let through: re-appending
                # is the module's documented at-least-once behavior,
                # and fencing a replay would wedge the stream in a
                # restart-crash loop. The content check applies ONLY
                # when the stored row was written under THIS digest
                # scheme (fp_scheme == FP_SCHEME); older vintages —
                # no text_hash column, or a pre-scheme text_hash from
                # a different formula — fall back to the id-keyed
                # check instead of hard-failing a compare across
                # formulas (which would wedge an upgraded-in-place
                # store in exactly the restart loop this exemption
                # prevents). Anything else at-or-below the high-water
                # mark is a genuine ordering violation.
                scheme_current = (
                    last is not None
                    and has_scheme
                    and last["fp_scheme"] == FP_SCHEME
                )
                is_replay_of_last = last is not None and (
                    fp["min_id"] == last["min_id"]
                    and fp["max_id"] == stored_max
                    and fp["n_rows"] == last["n_rows"]
                    and fp["id_hash"] == last["id_hash"]
                    and (
                        not scheme_current
                        or fp["text_hash"] == last["text_hash"]
                    )
                )
                if is_replay_of_last:
                    # loud, not silent: the admit is correct
                    # (at-least-once), but an operator watching the
                    # logs should know rows are being double-appended
                    warnings.warn(
                        "ingest_document_batch: checkpoint-replay "
                        f"exemption admitted batch [{fp['min_id']}, "
                        f"{stored_max}] again ({fp['n_rows']} rows) - "
                        "its rows will be re-appended (documented "
                        "at-least-once behavior)",
                        UserWarning,
                        stacklevel=2,
                    )
                if (
                    stored_max is not None
                    and fp["min_id"] is not None
                    and fp["min_id"] <= stored_max
                    and not is_replay_of_last
                ):
                    raise ValueError(
                        f"out-of-order ingest: batch min {id_col}="
                        f"{fp['min_id']} <= stored high-water mark "
                        f"{stored_max}; ascending-id ingest is the "
                        "span-parity precondition (pass "
                        "enforce_ascending_ids=False for documented "
                        "first-ingested-wins span semantics)"
                    )
        if admit_filter is not None:
            admitted_in = admit_filter(batch).persist()

        # Batch standing-asset parts, computed ONCE per ingest and
        # reused (late-r11 scale decomposition of the composed ingest):
        # the signatures feed the pair probe AND the band append; the
        # window-index part bounds the stored index's re-aggregation
        # (probe_hashes) AND is the winindex append. Persisted — each
        # is consumed twice and costs a full batch tokenize+hash pass.
        new_sigs = D.minhash_signatures(admitted_in, text_col, id_col)
        new_sigs = new_sigs.persist()
        batch_index = SD.window_index(
            admitted_in, text_col, id_col, k=span_k
        ).persist()

        old_docs = _maybe(spark, _d(store_dir, "docs"))
        old_banded = _maybe(spark, _d(store_dir, "bands"))
        if old_docs is None:
            # bootstrap batch (often backfill-sized): the full
            # within-batch pipeline, fed the SAME precomputed
            # signatures as every other consumer
            pairs = D.minhash_dedup_pairs(
                admitted_in, text_col, id_col, threshold=threshold,
                signatures=new_sigs,
            )
        else:
            pairs = D.minhash_incremental_pairs(
                admitted_in,
                old_docs.select(
                    F.col(id_col), F.col("text_orig").alias(text_col)
                ),
                text_col,
                id_col,
                threshold=threshold,
                old_banded=old_banded,
                new_signatures=new_sigs,
            )
        pairs.write.mode("append").parquet(_d(store_dir, "pairs"))

        # the stored index's monoid re-agg is bounded by the batch's
        # own hash set — exact for the strip (it consults only the
        # batch's hashes) and store-size-independent in shuffle volume
        idx = read_window_index_store(
            spark, store_dir, probe_hashes=batch_index,
            broadcast_probe=broadcast_index_probe,
        )
        if idx is None:
            stripped = SD.strip_duplicate_spans(
                admitted_in, text_col, id_col, k=span_k, keep_all=True
            )
        else:
            stripped = SD.strip_duplicate_spans_incremental(
                admitted_in, idx, text_col, id_col, k=span_k, keep_all=True
            )
        admitted = (
            stripped.withColumn("text_orig", F.col(text_col))
            .withColumn(text_col, F.col("text_clean"))
            .drop("text_clean", "n_removed")
        )
        admitted.write.mode("append").parquet(_d(store_dir, "docs"))

        D.minhash_band_table(new_sigs).write.mode("append").parquet(
            _d(store_dir, "bands")
        )
        batch_index.write.mode("append").parquet(_d(store_dir, "winindex"))
        # advance the high-water mark LAST (a failed ingest must not
        # fence out its own retry), from the RAW batch's fingerprint
        # computed up front: ids seen, admitted or not. No second
        # aggregation job — the 1-row frame is built from the
        # already-collected values.
        if fp["max_id"] is not None:
            id_type = batch.schema[id_col].dataType
            wm_schema = StructType(
                [
                    StructField("min_id", id_type),
                    StructField("max_id", id_type),
                    StructField("n_rows", LongType()),
                    StructField("id_hash", LongType()),
                    StructField("text_hash", LongType()),
                    StructField("fp_scheme", StringType()),
                ]
            )
            spark.createDataFrame(
                [
                    (
                        fp["min_id"],
                        fp["max_id"],
                        fp["n_rows"],
                        fp["id_hash"],
                        fp["text_hash"],
                        FP_SCHEME,
                    )
                ],
                wm_schema,
            ).write.mode("append").parquet(_d(store_dir, "maxid"))
    finally:
        for frame in (new_sigs, batch_index):
            if frame is not None:
                frame.unpersist()
        if admitted_in is not batch:
            admitted_in.unpersist()
        batch.unpersist()


def kept_view(
    spark: SparkSession, store_dir: str, id_col: str = "doc_id"
) -> DataFrame:
    """The curated corpus as of now: admitted (span-stripped) docs
    minus non-canonical near-dup cluster members — CC over the
    CUMULATIVE pair store (exactly the one-shot pair graph, see
    module docstring), keep = min id. A view, recomputed on read:
    append-only stores cannot retract a doc a later batch
    retroactively merged into an existing cluster, so keep decisions
    must never be baked into the store."""
    docs = _maybe(spark, _d(store_dir, "docs"))
    if docs is None:
        raise ValueError(f"empty curation store {store_dir!r}")
    pairs = _maybe(spark, _d(store_dir, "pairs"))
    if pairs is None or not pairs.head(1):
        return docs
    comps = connected_components(pairs, rebalance_edges=True)
    return keep_canonical(docs, comps=comps, id_col=id_col)


def compact_curation_store(
    spark: SparkSession,
    store_dir: str,
    target_rows_per_file: int = 5_000_000,
    subs: tuple | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Compact a curation store's append-accreted subdirs in place,
    for the FLAT stores this module appends to (one parquet part per
    micro-batch: a year of daily ingests is ~365 tiny files PER
    SUBDIR, and at 100 TB scan planning over them starts to rival
    the scan itself).

    Per present subdir:

    - ``docs`` / ``pairs`` / ``bands`` / ``sem_pairs`` / ``assigned``
      / ``centroids``: plain rewrite into
      ``ceil(rows / target_rows_per_file)`` right-sized files. Field
      metadata (the MinHash/span parameterization guards' substrate)
      survives — it rides the parquet footer schema through
      read → repartition → write.
    - ``winindex``: the monoid FOLD — the per-batch parts are
      re-aggregated once (``read_window_index_store``, no probe) and
      stored as the single merged index, so the store stops growing
      with batch count and every later read/re-agg is
      distinct-window-sized. Folding is safe precisely because the
      merged index is itself a valid part under the (cnt, canonical)
      monoid (associative + idempotent under re-fold).
    - ``maxid``: rewritten through a ``mergeSchema`` read (the
      documented mixed-vintage layout) into one file — ALL
      fingerprint rows are kept (the ordering guard consults only
      the top row, but history is tiny and an audit trail); legacy
      rows gain NULL ``text_hash``/``fp_scheme``, which the guard
      already treats as not-current-scheme.

    NOT concurrency-safe: run offline (no active ingest, no live
    DataFrames over the store) — the swap is two renames per subdir
    (write to ``<sub>__compact_tmp``, park the old dir at
    ``<sub>__compact_trash``, rename tmp into place), through the
    Hadoop FileSystem API so any supported store filesystem works. A
    crash between the renames leaves the old dir parked; the next
    call self-heals (restores a parked dir whose subdir is missing,
    clears leftover tmp/trash) before compacting.

    Returns {sub: {rows, files_before, files_after}} for the subdirs
    it rewrote."""
    import math

    jvm = spark._jvm

    def _hp(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    fs = _hp(store_dir).getFileSystem(spark._jsc.hadoopConfiguration())

    def _n_files(p: str) -> int:
        return sum(
            1
            for s in fs.listStatus(_hp(p))
            if s.isFile() and not s.getPath().getName().startswith(("_", "."))
        )

    def _n_bytes(p: str) -> int:
        return sum(
            s.getLen()
            for s in fs.listStatus(_hp(p))
            if s.isFile() and not s.getPath().getName().startswith(("_", "."))
        )

    known = (
        "docs", "pairs", "bands", "winindex", "maxid",
        "centroids", "assigned", "sem_pairs",
    )
    report: dict = {}
    for sub in subs if subs is not None else known:
        path = _d(store_dir, sub)
        tmp, trash = path + "__compact_tmp", path + "__compact_trash"
        # self-heal a crashed prior compaction: a parked dir whose
        # live subdir is missing is the ONLY copy of the data —
        # restore it, and refuse to continue if the restore rename
        # fails (falling through would let the leftover sweep below
        # destroy the store). Tmp/trash next to a LIVE subdir is
        # garbage from a completed or re-run swap.
        if fs.exists(_hp(trash)) and not fs.exists(_hp(path)):
            if not fs.rename(_hp(trash), _hp(path)):
                raise IOError(
                    f"could not restore parked store dir {trash!r} "
                    f"to {path!r} - refusing to continue (the parked "
                    "dir is the only copy)"
                )
        for leftover in (tmp, trash):
            if fs.exists(_hp(leftover)):
                fs.delete(_hp(leftover), True)
        df = _maybe(spark, path, merge_schema=(sub == "maxid"))
        if df is None:
            continue
        files_before = _n_files(path)
        bytes_before = _n_bytes(path)
        if sub == "winindex":
            df = read_window_index_store(spark, store_dir)
        # persist across the sizing count and the rewrite — without
        # it every subdir is scanned twice and the winindex monoid
        # shuffle runs twice (review finding, r12)
        df = df.persist()
        try:
            n = df.count()
            # Size output files by BYTES first, rows second (r13): the
            # original rows-only sizing rewrote a 5M-row docs subdir
            # into ONE ~0.5 GB file, and the sf100 compact day-curve
            # gate caught the consequence — subsequent ingests' corpus
            # text scans dropped to single-digit parallelism (tasks
            # split at row-group granularity within one writer's
            # output) and day-5 ingest ran 2.07x day-1. Input parquet
            # bytes approximate output bytes (same codec), so
            # ceil(bytes / target_file_bytes) keeps every file a
            # ~128 MB scan-parallel unit; the rows bound stays as a
            # secondary cap for very wide rows.
            nparts = max(
                1,
                math.ceil(bytes_before / target_file_bytes),
                math.ceil(n / target_rows_per_file),
            )
            df.repartition(nparts).write.mode("overwrite").parquet(tmp)
        finally:
            df.unpersist()
        if not fs.rename(_hp(path), _hp(trash)):
            raise IOError(f"compaction swap failed parking {path!r}")
        if not fs.rename(_hp(tmp), _hp(path)):
            # put the store back before failing — never leave the
            # subdir absent
            fs.rename(_hp(trash), _hp(path))
            raise IOError(f"compaction swap failed installing {path!r}")
        fs.delete(_hp(trash), True)
        # drop anything Spark still holds over the old files — cached
        # plans / persisted frames keyed on this path (e.g. the
        # ingest's scratch-persisted candidate tables) would otherwise
        # resolve to the deleted parts on their next action
        spark.catalog.refreshByPath(path)
        report[sub] = {
            "rows": n,
            "files_before": files_before,
            "files_after": _n_files(path),
        }
    return report


def maybe_compact_store(
    spark: SparkSession,
    store_dir: str,
    max_files_per_sub: int = 64,
    target_rows_per_file: int = 5_000_000,
    subs: tuple | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    oversize_factor: float = 2.0,
) -> dict | None:
    """Threshold policy over ``compact_curation_store`` (r12 VERDICT
    task 6 — compaction was probe-measured but MANUAL): inspect each
    present store subdir's file listing and compact exactly the
    subdirs that trip EITHER trigger, leaving the rest untouched.
    Zero jobs when nothing is oversized (one FS listing per subdir —
    the same listing scan planning already pays). Returns the
    compaction report, or None when no subdir crossed a threshold.

    Two triggers per subdir (r14 — file COUNT alone let 65 tiny
    files compact while 50 near-GB files never did):

    - **too many files**: ``n_files > max_files_per_sub``. Sized for
      the daily-drop shape: one appended part per micro-batch per
      subdir means 64 files ≈ two months of dailies — late enough
      that compaction is amortized, early enough that scan planning
      never sees the ~365-file year the operator's docstring warns
      about.
    - **files too big**: ``total_bytes > n_files · target_file_bytes
      · oversize_factor`` — the average file is over
      ``oversize_factor``× the target, so the layout is under-split
      for byte-parallel scanning (the r13 single-0.5 GB-file bug
      class, caught by the gated day-curve); compaction re-splits to
      ``ceil(bytes / target_file_bytes)`` right-sized units. The
      factor's slack keeps a subdir that is only marginally over
      target from churning through rewrite after rewrite.

    ``target_file_bytes`` is forwarded to
    ``compact_curation_store`` — the byte-based sizing knob the r13
    fix made the primary dimension (ADVICE r13: it was previously
    unreachable from the policy path). Call between batches (the
    stream runners' ``compact_max_files`` does) — never under a live
    ingest; ``compact_curation_store``'s crash-self-heal covers a
    kill mid-swap."""
    jvm = spark._jvm

    def _hp(p: str):
        return jvm.org.apache.hadoop.fs.Path(p)

    fs = _hp(store_dir).getFileSystem(spark._jsc.hadoopConfiguration())
    known = subs if subs is not None else (
        "docs", "pairs", "bands", "winindex", "maxid",
        "centroids", "assigned", "sem_pairs",
    )
    oversized = []
    for sub in known:
        p = _hp(_d(store_dir, sub))
        if not fs.exists(p):
            continue
        n = nbytes = 0
        for s in fs.listStatus(p):
            if s.isFile() and not s.getPath().getName().startswith(
                ("_", ".")
            ):
                n += 1
                nbytes += s.getLen()
        if n > max_files_per_sub or (
            n > 0 and nbytes > n * target_file_bytes * oversize_factor
        ):
            oversized.append(sub)
    if not oversized:
        return None
    return compact_curation_store(
        spark,
        store_dir,
        target_rows_per_file,
        subs=tuple(oversized),
        target_file_bytes=target_file_bytes,
    )


def run_curation_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    schema,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    span_k: int = 13,
    available_now: bool = True,
    admit_filter=None,
    enforce_ascending_ids: bool = True,
    broadcast_index_probe: bool = True,
    compact_max_files: int | None = None,
    compact_target_file_bytes: int = 128 * 1024 * 1024,
):
    """Wire ``ingest_document_batch`` to a file-source stream: one
    input file per daily drop, ``maxFilesPerTrigger=1`` so each day
    is its own micro-batch in file order (ascending-id ingest is the
    span-parity precondition, runtime-guarded in the ingest),
    AvailableNow for catch-up-then-stop (the
    streaming/status_stream.py trigger contract) or continuous
    with ``available_now=False``. Exactly-once here comes from the
    checkpoint (a replayed batch re-appends — run compaction or the
    merge sink for stores that must also survive MID-batch crashes;
    the parity tests run clean-checkpoint). ``admit_filter`` is the
    scored-stage hook, passed through to every ingest — build it
    ONCE from stored model assets (``make_ppl_band_filter``), never
    per batch. ``broadcast_index_probe`` passes through to every
    ingest — set False for a stream fed backfill-sized drops (see
    ``ingest_document_batch``).

    ``compact_max_files`` (r13) arms the auto-compaction policy:
    after each ingested batch, any store subdir that has accreted
    more than this many data files is compacted in place
    (``maybe_compact_store``) BETWEEN batches — the one point in a
    foreachBatch stream where no ingest is live over the store. The
    threshold check is one FS listing per subdir per batch; the
    rewrite runs only when crossed, and a crash mid-swap self-heals
    on the next call. Default None keeps the r12 manual-compaction
    behavior. ``compact_target_file_bytes`` (r14, ADVICE r13) tunes
    the policy's byte trigger AND the compacted output's file sizing
    — streaming callers on stores with non-default file-size targets
    previously could only reach the rows knob."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if batch.head(1):
            ingest_document_batch(
                batch, store_dir, text_col, id_col, threshold, span_k,
                enforce_ascending_ids=enforce_ascending_ids,
                admit_filter=admit_filter,
                broadcast_index_probe=broadcast_index_probe,
            )
            if compact_max_files is not None:
                maybe_compact_store(
                    batch.sparkSession, store_dir,
                    max_files_per_sub=compact_max_files,
                    target_file_bytes=compact_target_file_bytes,
                )

    writer = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# --- embedding side: the SemDeDup standing assets -------------------


def init_embedding_store(
    resident: DataFrame,
    store_dir: str,
    num_clusters: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fit the FIXED centroids on the resident corpus (or the first
    drop) and store centroids + assignments + the resident vectors.
    Centroids are fit exactly once: every later batch assigns against
    them (the SemDeDup contract — per-batch refits would re-cluster
    history and break the incremental==full equality)."""
    from wroclaw_bike_stats_spark.operators.semdedup import semdedup_assign

    cents, assigned = semdedup_assign(
        resident, num_clusters=num_clusters, id_col=id_col, vec_col=vec_col
    )
    # ``assigned/`` is written LAST and is the init's COMMIT MARKER:
    # the stream bootstrap probes it (not centroids/), so a crash
    # between the two writes leaves a store the next attempt simply
    # re-initializes (both writes are overwrite) instead of a
    # half-store that wedges every restart in the ingest path's
    # PATH_NOT_FOUND on assigned/.
    cents.write.mode("overwrite").parquet(_d(store_dir, "centroids"))
    assigned.write.mode("overwrite").parquet(_d(store_dir, "assigned"))


def ingest_embedding_batch(
    batch: DataFrame,
    store_dir: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    admit_filter=None,
) -> None:
    """Admit one embedding batch: semantic pairs involving the batch
    (``semdedup_incremental_pairs`` against the stored assignments +
    fixed centroids — cost ∝ |batch| × cluster size), appended to
    ``sem_pairs/``; the batch's assignments appended so the NEXT
    batch sees it as resident.

    ``admit_filter`` is the scored-stage hook (the doc ingest's
    contract, r12): a DataFrame→DataFrame admission rule applied to
    the batch BEFORE assignment, so rejected vectors never enter the
    pair graph or the assignment store — same stage composition as
    the one-shot pipeline (filter, then dedup)."""
    from wroclaw_bike_stats_spark.operators.semdedup import (
        assign_to_centroids,
        semdedup_incremental_pairs,
    )

    if admit_filter is not None:
        batch = admit_filter(batch)
    # empty/fully-rejected batch: nothing to assign, and appending
    # zero-row parquet parts to sem_pairs/ and assigned/ is exactly
    # the file accretion compact_curation_store exists to fight —
    # the stream runner guards, so direct callers must be guarded
    # here too (r12 ADVICE)
    if not batch.head(1):
        return
    spark = batch.sparkSession
    cents = spark.read.parquet(_d(store_dir, "centroids"))
    assigned = spark.read.parquet(_d(store_dir, "assigned"))
    # assign the batch ONCE (late r11 — the text ingest's asset-reuse
    # move applied here): the same frame feeds the incremental pair
    # block and the assignment-store append; persisted across its two
    # consumers (plus the pair path's own new_cids distinct).
    new_assigned = assign_to_centroids(batch, cents, id_col, vec_col)
    new_assigned = new_assigned.persist()
    try:
        pairs = semdedup_incremental_pairs(
            batch,
            assigned,
            cents,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            new_assigned=new_assigned,
        )
        pairs.write.mode("append").parquet(_d(store_dir, "sem_pairs"))
        new_assigned.write.mode("append").parquet(_d(store_dir, "assigned"))
    finally:
        new_assigned.unpersist()


def kept_view_embeddings(
    spark: SparkSession, store_dir: str, id_col: str = "vec_id"
) -> DataFrame:
    """SemDeDup keep over everything admitted so far: CC + min-id
    keep over the cumulative semantic pair store — equals the
    one-shot ``semdedup_keep`` under the stored centroids."""
    assigned = spark.read.parquet(_d(store_dir, "assigned"))
    pairs = _maybe(spark, _d(store_dir, "sem_pairs"))
    base = assigned.drop("centroid_id")
    if pairs is None or not pairs.head(1):
        return base
    comps = connected_components(
        pairs, src="id_a", dst="id_b", rebalance_edges=True
    )
    return keep_canonical(base, comps=comps, id_col=id_col)


def run_embedding_curation_stream(
    spark: SparkSession,
    input_dir: str,
    store_dir: str,
    schema,
    checkpoint_dir: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 8,
    available_now: bool = True,
    admit_filter=None,
    compact_max_files: int | None = None,
    compact_target_file_bytes: int = 128 * 1024 * 1024,
):
    """The embedding-side twin of ``run_curation_stream`` (round 11):
    wire ``ingest_embedding_batch`` to a file-source stream, one
    input file per daily drop (``maxFilesPerTrigger=1``), AvailableNow
    for catch-up-then-stop.

    Bootstrap makes the stream runner STRONGER than bare
    ``init_embedding_store``: when the store has no centroids yet,
    the first micro-batch fits them (the SemDeDup fixed-centroids
    contract — fit exactly once, on the first drop) AND appends its
    own WITHIN-batch semantic pairs under those fresh centroids, so
    the module's "resident corpus internally deduped" precondition
    disappears for streams started from scratch: every pair of the
    eventual union is delivered either by the first batch (its
    internal pairs) or by the batch of its later member
    (``semdedup_incremental_pairs``: new↔new and new↔old), and
    ``kept_view_embeddings`` equals the one-shot SemDeDup keep over
    the union under the stored centroids — pinned in
    tests/test_curate_stream.py. Exactly-once per batch comes from
    the checkpoint, same caveats as the document stream.

    ``admit_filter`` mirrors the doc runner's scored-stage hook: the
    admission rule runs BEFORE bootstrap and ingest alike, so the
    centroids are fit on the ADMITTED first drop (the resident corpus
    is by definition the admitted corpus) and rejected vectors never
    reach the pair graph. A first drop filtered down to nothing
    leaves the store uninitialized — bootstrap waits for the first
    drop with survivors (same as an empty file).

    ``compact_max_files`` (r13): the doc runner's auto-compaction
    policy, verbatim — between-batch threshold check over the
    embedding store's subdirs (``sem_pairs``/``assigned`` are the
    accreting ones here)."""
    from wroclaw_bike_stats_spark.operators.semdedup import semdedup_pairs

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    # bootstrap probe memo: once the store is initialized it stays
    # initialized (init is a once-per-stream event), so a long-running
    # stream must not pay a filesystem listing per trigger just to
    # re-learn that — probe until the first non-None, then remember.
    bootstrapped = []

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        if admit_filter is not None:
            batch = admit_filter(batch)
        if not batch.head(1):
            return
        # probe ``assigned/`` — init's LAST write (its commit marker),
        # so a crash mid-init re-runs init instead of wedging every
        # restart on a centroids-only half-store.
        if not bootstrapped and _maybe(
            spark, _d(store_dir, "assigned")
        ) is None:
            init_embedding_store(
                batch, store_dir, num_clusters=num_clusters,
                id_col=id_col, vec_col=vec_col,
            )
            assigned = spark.read.parquet(_d(store_dir, "assigned"))
            semdedup_pairs(
                batch, threshold=threshold, id_col=id_col,
                vec_col=vec_col, assigned=assigned,
            ).write.mode("append").parquet(_d(store_dir, "sem_pairs"))
        else:
            # filter already applied above — don't pass it down, the
            # ingest would run the admission rule twice
            ingest_embedding_batch(
                batch, store_dir, threshold, id_col, vec_col
            )
        if not bootstrapped:
            bootstrapped.append(True)
        if compact_max_files is not None:
            maybe_compact_store(
                spark, store_dir,
                max_files_per_sub=compact_max_files,
                target_file_bytes=compact_target_file_bytes,
            )

    writer = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
