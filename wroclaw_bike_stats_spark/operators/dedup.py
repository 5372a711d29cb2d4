"""Deduplication operators for training-data pipelines.

Five strategies, all Spark-native (no Python in the hot path):

- exact:      hash-groupBy on normalized content (one shuffle).
- MinHash+LSH: shingle → k minhashes → b bands → bucket join →
  candidate pairs → exact-Jaccard verify. The standard near-dup
  pipeline (Broder 1997); at 100 TB the band-bucket join replaces the
  quadratic all-pairs comparison with a shuffle on band keys.
- SimHash:    64-bit sign-of-weighted-sum fingerprint (Charikar 2002);
  near-dups share the fingerprint (or differ in few bits).
- n-gram Jaccard: exact similarity join via shared-shingle inverted
  index — the verify step of LSH usable standalone at moderate scale.
- embedding near-dup: cosine ≥ threshold pairs (see similarity.py).

All hashing uses xxhash64/crc32 (deterministic across runs/executors —
NEVER Python ``hash()``, which is salted per process).
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 - resolves pandas_udf type hints
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators.text import fingerprint_md5

# Persisted intermediates (shingle tables, LSH candidate sets) are
# scratch: needed while the query that built them executes, dead
# weight afterwards (see operators/scratch.py for the lifecycle).
from wroclaw_bike_stats_spark.operators.scratch import (  # noqa: E402
    persist as _scratch_persist,
)
from wroclaw_bike_stats_spark.operators.scratch import (  # noqa: E402
    release as release_scratch,
)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the smallest id per normalized-content fingerprint.

    One hash-aggregation; map-side partial aggregation makes the
    shuffle carry (fingerprint, min_id, count) not full rows.
    """
    return (
        df.select(
            F.col(id_col), fingerprint_md5(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _make_shingle_udf(n: int):
    """Arrow-batched distinct word-shingle arrays (``_py_shingles``
    per row). A native ``transform``/``slice`` form would pay the
    interpreted higher-order-function evaluator ~|shingles|
    expression evals per row (see _make_minhash_udf)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def shingles(texts: pd.Series) -> pd.Series:
        return pd.Series([sorted(_py_shingles(t, n)) for t in texts])

    return shingles


def _make_hashed_shingle_udf(n: int):
    """Arrow-batched distinct word shingles as 64-BIT HASHES. At
    corpus scale the (id, shingle) inverted index is the biggest
    intermediate of the exact-Jaccard join — hashing shrinks each
    entry from a ~40-byte string to 8 bytes (≈3× less shuffle/persist
    volume at the sf100 point, where the string index measured in the
    tens of GB) and makes every downstream comparison a long equality
    instead of a string one.

    Hash scheme = the MinHash v3 base (``_shingle_hash_batch``): one
    C token-hash pass per batch + a vectorized degree-(n-1)
    polynomial per shingle — no shingle STRING is ever built. That
    pass emits the shingle MULTISET, so per-doc distinctness (which
    Jaccard's set semantics need) is restored here with one lexsort +
    adjacent-dup drop over the flat hash array, all C-side. Measured
    (round 6, sf1 probe): the index pass was ~80% of the whole exact
    join's cost under the v2 string-building scheme; v3 removes the
    ``" ".join`` allocations and long-string hashes exactly as it did
    for MinHash signatures. Distinct-by-hash equals distinct-by-
    string up to 64-bit collisions, already the module's documented
    tolerance."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<long>")
    def shingles(texts: pd.Series) -> pd.Series:
        if texts.empty:
            return pd.Series([], dtype=object)
        h, counts = _shingle_hash_batch(texts, n, np)
        doc_of = np.repeat(np.arange(len(counts)), counts)
        order = np.lexsort((h, doc_of))
        hs, ds = h[order], doc_of[order]
        keep = np.ones(len(hs), dtype=bool)
        keep[1:] = (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])
        hs, ds = hs[keep].astype(np.int64), ds[keep]
        new_counts = np.bincount(ds, minlength=len(counts))
        out, pos = [], 0
        for c in new_counts:
            out.append(hs[pos : pos + c])
            pos += c
        return pd.Series(out)

    return shingles


def _shingle_table(
    df: DataFrame, text_col: str, id_col: str, n: int, hashed: bool = False
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc. ``hashed`` swaps the
    string shingle for its 64-bit hash (see _make_hashed_shingle_udf);
    set membership and counts — everything Jaccard consumes — are
    preserved up to 64-bit collisions (P[any collision] ≈ d²/2⁶⁵ for
    d distinct shingles: ~0.003 even at the 5M-doc sf100 point)."""
    make = _make_hashed_shingle_udf if hashed else _make_shingle_udf
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(make(n)(F.col(text_col))).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    df_cap: int | None = None,
    candidates: DataFrame | None = None,
    broadcast_candidates: bool = True,
    hash_shingles: bool = True,
    prefix_filter: bool = False,
) -> DataFrame:
    """Exact Jaccard similarity join via an inverted shingle index.

    ``hash_shingles`` (default on): the inverted index carries 64-bit
    shingle hashes instead of strings — ~3× less shuffle and persist
    volume for the index, which at the sf100 scaling point is the
    dominant intermediate of the full self-join. Jaccard from hashed
    shingles equals string Jaccard up to 64-bit collisions
    (P ≈ d²/2⁶⁵ over the whole corpus — see _shingle_table); pass
    False to force exact string comparison.

    Docs sharing ≥1 shingle become candidates (equi-join on shingle —
    a shuffle keyed by shingle, NOT an all-pairs cross join); Jaccard
    = |∩| / (|A|+|B|-|∩|) computed from intersection counts + per-doc
    shingle counts. Returns (id_a < id_b, jaccard) pairs ≥ threshold.

    ``df_cap`` — stop-shingle guard: a shingle appearing in more than
    ``df_cap`` docs is dropped from the index AND the size counts (so
    the Jaccard denominator stays consistent). Without it, one
    ubiquitous shingle re-quadratizes the join at scale; ubiquitous
    shingles carry no near-dup signal, so dropping them is standard
    practice. The stop set is tiny by construction → broadcast
    anti-join, no extra shuffle of the index.

    ``candidates`` — optional (id_a, id_b) pair set: when given (the
    LSH verify path), intersection counts are computed ONLY for those
    pairs — the shingle table is first semi-joined down to candidate
    docs, then each pair is expanded by doc-a's shingles and matched
    against doc-b's on (id_b, shingle). Cost is O(|candidates| × doc
    shingles), never corpus-quadratic.

    ``prefix_filter`` — full-self-join path only (ignored when
    ``candidates`` is given): AllPairs/PPJoin-style prefix filtering
    (Bayardo et al. WWW'07; Xiao et al. WWW'08). Shingles get a
    global total order (ascending document frequency, rarest first —
    ties broken by shingle value); only each doc's first
    ``n - ceil(t·n) + 1`` shingles under that order are indexed for
    candidate generation. EXACT: Jaccard(A,B) ≥ t implies
    |A∩B| ≥ ceil(t·|A|), so the intersection cannot live entirely in
    the ``ceil(t·|A|) - 1``-element suffix — any qualifying pair
    shares a prefix shingle (no false negatives; same argument per
    side). Candidate pairs then pass the length filter
    (t·|A| ≤ |B| ≤ |A|/t) and are verified with full intersection
    counts over the complete shingle table. The candidate join then
    touches only the RAREST ~(1-t) fraction of each doc's shingles,
    so the per-shingle pair blowup Σ C(df,2) runs over small dfs.

    MEASURED ADJUDICATION (round 6, sf0.1/sf1/sf10, capped AND
    capless): on this corpus family the plain self-join WINS at every
    point (sf1: 3.4 s vs 21 s; sf10: 26 s vs 171 s) — its pre-agg
    pair volume is only ~5 rows per index entry (12.7M pairs at sf1),
    while frequency-ordered prefixes still emit a 3.1M-pair candidate
    set whose expansion-verify (|cand| × ~|doc shingles| rows) costs
    more than the aggregation it avoids. Default therefore stays
    False. The option earns its keep where the blowup genuinely
    dominates: heavy mid-frequency shingle mass (boilerplate-laden
    web corpora), low thresholds, or no df_cap guard — regimes where
    Σ C(df,2) is orders of magnitude above |index|.
    """
    if candidates is not None:
        # Reduce the corpus to candidate docs BEFORE shingling — the
        # (usually tiny) candidate set means the shingle generation,
        # not just the join, skips non-candidates. Per-doc shingle
        # sizes stay exact: the reduction is at doc granularity.
        # The id set is BROADCAST by default: without the hint the
        # semi-join has no size estimate for cand_ids and plans a
        # sort-merge join that shuffles the whole corpus — a corpus-
        # proportional cost the candidates path exists to avoid.
        # ``broadcast_candidates=False`` is the escape hatch for
        # callers whose candidate set can be corpus-proportional
        # (heavy-duplication full dedup, backfill-size increments) —
        # a forced broadcast there bypasses
        # autoBroadcastJoinThreshold and can OOM the driver; without
        # the hint AQE sizes the join from the persisted candidates'
        # actual statistics.
        cand_ids = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        if broadcast_candidates:
            cand_ids = F.broadcast(cand_ids)
        df = df.join(cand_ids, id_col, "left_semi")

    sh = _shingle_table(df, text_col, id_col, n, hashed=hash_shingles)
    if candidates is None:
        # The RAW (pre-cap) shingle pass is the parameter-aligned unit
        # of sharing across full-corpus callers: the capped near-dup
        # gate and the capless exact sides of the recall/incremental
        # gates all contain this exact subplan, so persisting it HERE
        # (above the df_cap anti-join) lets Spark's plan-keyed cache
        # substitute it into every such caller regardless of
        # df_cap/threshold or execution order. Persisting only the
        # post-cap table (pre-r05) made the first-runner pay the whole
        # pass and cache a plan no differently-capped sibling could
        # reuse — the r03↔r04 ngram_jaccard cost swing. The candidates
        # path is excluded on purpose: it reduces the corpus BEFORE
        # shingling (its production cost must stay ∝ candidates, never
        # the full corpus).
        sh = _scratch_persist(sh)
    # One document-frequency aggregation serves BOTH the stop-shingle
    # guard and the prefix-filter ordering: the two consumers are
    # complementary filters over the same agg, so its shuffle is
    # planned once (ReusedExchange) instead of re-aggregating the
    # index per consumer. Per-shingle df is invariant under the
    # stop-shingle anti-join (it removes whole shingle groups), so
    # the pre-cap agg filtered to ``<= df_cap`` IS the post-cap df.
    dffull = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    if df_cap is not None:
        stop = dffull.filter(F.col("_df") > df_cap).select("shingle")
        sh = sh.join(F.broadcast(stop), "shingle", "left_anti")

    # The (post-cap / candidate-reduced) shingle table feeds sizes +
    # both join sides (3 consumers); persist so the explode (or the
    # stop-shingle anti-join) runs once, not 3×. Registered as
    # scratch — kept for plan-keyed reuse by repeat runs, dropped at
    # release_scratch()/release_shared(), not leaked for the session
    # lifetime.
    if df_cap is not None or candidates is not None:
        sh = _scratch_persist(sh)

    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_sh"))

    if candidates is None and prefix_filter:
        # Candidate generation from document-frequency-ordered
        # prefixes (see docstring); ``dffull`` above supplies the
        # ordering key (filtered to surviving shingles when the cap is
        # on — same agg, shared shuffle). The rank window shuffles the
        # (entry, df) rows by _id once. The 1e-9 slack on ceil()/the
        # length filter only ever LENGTHENS the prefix / widens the
        # bound — FP error can admit a spurious candidate (verified
        # away), never drop a true pair.
        from pyspark.sql import Window

        dfreq = (
            dffull.filter(F.col("_df") <= df_cap)
            if df_cap is not None
            else dffull
        )
        by_doc = Window.partitionBy("_id")
        ranked = (
            sh.join(dfreq, "shingle")
            .withColumn(
                "_rnk",
                F.row_number().over(by_doc.orderBy("_df", "shingle")),
            )
            .withColumn("_n", F.count(F.lit(1)).over(by_doc))
        )
        prefix = ranked.filter(
            F.col("_rnk")
            <= F.col("_n")
            - F.ceil(F.lit(threshold) * F.col("_n") - 1e-9)
            + 1
        )
        pa = prefix.select(
            F.col("_id").alias("id_a"), "shingle", F.col("_n").alias("_na")
        )
        pb = prefix.select(
            F.col("_id").alias("id_b"), "shingle", F.col("_n").alias("_nb")
        )
        candidates = (
            pa.join(pb, "shingle")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("_na") * threshold <= F.col("_nb") + 1e-9)
                & (F.col("_nb") * threshold <= F.col("_na") + 1e-9)
            )
            .select("id_a", "id_b")
            .distinct()
        )

    a = sh.select(F.col("_id").alias("id_a"), "shingle")
    b = sh.select(F.col("_id").alias("id_b"), "shingle")
    if candidates is not None:
        inter = (
            candidates.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    else:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
    sz_a = sizes.select(F.col("_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _py_shingles(text: str | None, n: int) -> set[str]:
    """Word n-gram shingles of one document: lowercase, whitespace
    tokens, n-grams joined by space, distinct, short docs → one
    whole-doc shingle.

    re.ASCII keeps ``\\s`` ASCII-only, matching Java regex and
    DuckDB/RE2 — Python's default unicode ``\\s`` also matches NBSP
    and friends, which would silently shift shingle boundaries vs the
    oracle on non-ASCII whitespace."""
    import re as _re

    # strip(" ") not strip(): JVM/DuckDB trim() removes spaces only
    toks = _re.split(r"\s+", (text or "").strip(" ").lower(), flags=_re.ASCII)
    n_sh = max(len(toks) - (n - 1), 1)
    return {" ".join(toks[i : i + n]) for i in range(n_sh)}


#: Base-hash + permutation scheme tag. Rides on stored signature /
#: band tables as schema metadata so an incompatible stored table
#: fails LOUD instead of silently missing every cross-batch dup.
#: v3 = token-level whole-batch pandas siphash (pd.util.hash_array,
#: fixed key — deterministic across processes/executors, verified in
#: tests) + polynomial combination of the n token hashes per shingle
#: (vectorized over the flat token array) + the odd-multiplier affine
#: permutation family. History: v1 hashed every shingle STRING with
#: blake2b in a per-doc Python loop — measured as the dominant cost
#: of every full MinHash pass at the sf100 scaling point; v2 hashed
#: shingle strings batch-at-once (2×); v3 stops building shingle
#: strings at all — ~100 short token hashes per doc and a few numpy
#: ops replace ~100 ``" ".join`` allocations + long-string hashes
#: (another 2.5× on the UDF, measured in-round). Shingle MULTISET
#: (not set) feeds the min — identical under min, so v3 signatures
#: keep the v1/v2 contract semantics.
MINHASH_SCHEME = "tokenhash64-affine-v3"


def _pandas_hash_probe() -> str:
    """Identity probe of the pandas hash v3 signatures are built on:
    the 64-bit ``pd.util.hash_array`` hash of a fixed sentinel,
    stamped into stored-table metadata next to ``MINHASH_SCHEME``.
    The scheme TAG names the algorithm; the probe pins the
    IMPLEMENTATION — a pandas upgrade that changed hash_array's
    output would leave the tag matching while every cross-batch
    band join silently found nothing. Stored as a string (the value
    is uint64 — it can exceed a Java long). Tables written before
    round 7 lack the key and are tolerated (probe checks fire only
    on present-but-mismatched)."""
    import numpy as np
    import pandas as pd

    return str(
        int(
            pd.util.hash_array(
                np.asarray(["minhash-hash-identity-probe"], dtype=object),
                categorize=False,
            )[0]
        )
    )


def _check_hash_probe(meta: dict) -> None:
    """Fail LOUD when a stored table's recorded pandas hash identity
    differs from this process's (see ``_pandas_hash_probe``); absent
    key = pre-round-7 table, tolerated."""
    stored = meta.get("minhash_hash_probe")
    if stored is not None and stored != _pandas_hash_probe():
        raise ValueError(
            "stored table was hashed by a pandas whose hash_array "
            f"output differs from this environment's (stored probe "
            f"{stored!r} != current {_pandas_hash_probe()!r}) — "
            "cross-batch duplicates would be silently missed; "
            "recompute the stored signatures/bands under the current "
            "pandas"
        )

#: odd 64-bit mixing constant for the shingle polynomial (golden-ratio
#: constant, same one splitmix64 uses — public domain folklore)
_POLY = 0x9E3779B97F4A7C15


def _flat_shingles(texts, n: int):
    """Shingle a batch of docs into ONE flat list + per-doc counts —
    the layout the vectorized hash/segment passes consume. Set order
    within a doc is irrelevant: every consumer reduces with an
    order-free min/sum. (String form — used by the hashed inverted
    index, where per-doc DISTINCT counts feed exact Jaccard.)"""
    all_sh: list[str] = []
    counts: list[int] = []
    for t in texts:
        s = _py_shingles(t, n)
        all_sh.extend(s)
        counts.append(len(s))
    return all_sh, counts


def _base_hash64_batch(shingles: list, np) -> "object":
    """Deterministic 64-bit base hash for a FLAT string batch in one
    C pass (pandas' fixed-key siphash over an object array — NEVER
    Python ``hash()``, which is salted per process; categorize=False
    because near-dup shingles are mostly unique, where the factorize
    pre-pass costs ~1.6× for nothing). Returns uint64 (len,)."""
    import pandas as pd

    if not shingles:
        return np.empty(0, dtype=np.uint64)
    return pd.util.hash_array(
        np.asarray(shingles, dtype=object), categorize=False
    )


def _shingle_hash_batch(texts, n: int, np):
    """v3 shingle hashing for a batch: tokenize each doc (the only
    per-doc Python work), hash ALL tokens in one C pass, then build
    each shingle's hash as a degree-(n-1) polynomial in ``_POLY`` over
    its n token hashes — one numpy multiply-add per position in the
    shingle, vectorized over the whole flat token array. Docs shorter
    than n tokens get one whole-doc shingle (the polynomial over all
    their tokens), mirroring ``_py_shingles``. Returns
    (uint64 shingle hashes grouped by doc, int64 per-doc counts)."""
    import re as _re

    import pandas as pd

    splitter = _re.compile(r"\s+", _re.ASCII)
    toks_flat: list[str] = []
    tcounts: list[int] = []
    for t in texts:
        tk = splitter.split((t or "").strip(" ").lower())
        toks_flat.extend(tk)
        tcounts.append(len(tk))
    th = pd.util.hash_array(
        np.asarray(toks_flat, dtype=object), categorize=False
    )
    tc = np.asarray(tcounts, dtype=np.int64)
    ends = np.cumsum(tc)
    out_counts = np.maximum(tc - (n - 1), 1)
    P = np.uint64(_POLY)
    with np.errstate(over="ignore"):
        # poly[i] over token positions i..i+n-1; tail positions whose
        # window crosses a doc boundary are masked out below
        poly = th.copy()
        for k in range(1, n):
            poly = poly * P
            # k >= len(th): th[k:] is empty but the negative slice end
            # would wrap to a NON-empty window — a whole Arrow batch
            # with fewer than n flat tokens (tiny probe batches, short
            # eval sets) hit exactly this misalignment
            if k < len(th):
                poly[: len(th) - k] += th[k:]
        poly = poly[: max(len(th) - (n - 1), 0)]
    idx = np.arange(len(poly))
    doc_of = np.repeat(np.arange(len(tc)), tc)[: len(poly)]
    valid = idx <= ends[doc_of] - n  # window stays inside the doc
    out = np.empty(int(out_counts.sum()), dtype=np.uint64)
    long_slots = np.repeat(tc >= n, out_counts)
    out[long_slots] = poly[valid]
    # short docs (< n tokens): polynomial over all their tokens —
    # a Python loop over just those docs (rare in real corpora)
    short_idx = np.nonzero(tc < n)[0]
    if short_idx.size:
        starts = ends - tc
        shorts = np.empty(short_idx.size, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for j, d in enumerate(short_idx):
                h = np.uint64(0)
                first = True
                for p in range(int(starts[d]), int(ends[d])):
                    h = th[p] if first else h * P + th[p]
                    first = False
                shorts[j] = h
        out[~long_slots] = shorts
    return out, out_counts


def _make_minhash_udf(
    num_hashes: int, shingle_n: int, seed: int = 42,
    base_hash: str = "fast",
):
    """Arrow-batched MinHash signatures, vectorized ACROSS the batch.

    One token-hash pass + polynomial shingle combination
    (``_shingle_hash_batch``) → per permutation h_i = a_i·h + b_i
    (mod 2⁶⁴, a_i odd → bijective) a segment-min back per doc
    (``np.minimum.reduceat`` over the doc offsets). Per-shingle cost
    is a few C ops; the only per-doc Python work is tokenization.
    A native-expression version (transform + array_min over xxhash64)
    is semantically similar but runs in Spark's INTERPRETED
    higher-order-function evaluator: num_hashes × |shingles|
    expression evals per row. Narrow map either way — no shuffle.

    ``base_hash="md5"`` is the SQL-reproducible AUDIT arm (the simhash
    precedent): the shingle base hash becomes the first 8 bytes of
    md5(shingle string) over the DISTINCT lowercased shingles
    (``_flat_shingles``; min over a multiset equals min over its set,
    so set-vs-multiset is immaterial here) — DuckDB reproduces the
    whole signature with the same permutation constants (the seeded
    a/b stream, embedded as scheme literals in the oracle). The fast
    v3 token-polynomial arm stays the engine default.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if base_hash not in ("fast", "md5"):
        raise ValueError(f"unknown base_hash {base_hash!r}")

    @pandas_udf("array<long>")
    def signatures(texts: pd.Series) -> pd.Series:
        import numpy as np

        if texts.empty:
            return pd.Series([], dtype=object)
        rng = np.random.default_rng(seed)
        a = rng.integers(1, 2**63, size=num_hashes, dtype=np.uint64) | np.uint64(1)
        b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
        if base_hash == "md5":
            all_sh, counts = _flat_shingles(texts, shingle_n)
            base = _md5_hash64_batch(all_sh, np)
            counts = np.asarray(counts, dtype=np.int64)
        else:
            base, counts = _shingle_hash_batch(texts, shingle_n, np)
        # every doc yields >= 1 shingle, so offsets are strictly
        # within bounds and reduceat segments are non-empty
        offsets = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(counts[:-1], out=offsets[1:])
        mins = np.empty((num_hashes, len(counts)), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i in range(num_hashes):
                mins[i] = np.minimum.reduceat(a[i] * base + b[i], offsets)
        sig = mins.T.astype(np.int64)  # (docs, num_hashes)
        return pd.Series(list(sig))

    return signatures


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_n: int = 3,
    base_hash: str = "fast",
) -> DataFrame:
    """k-permutation MinHash signature per doc as one array column
    (see ``_make_minhash_udf`` for the vectorization rationale).

    The FULL parameterization (num_hashes, shingle_n, seed, hash
    scheme) rides on the ``signature`` column as schema metadata —
    Spark serializes field metadata into the parquet footer, so a
    stored signature table carries its own provenance and
    ``minhash_incremental_pairs`` can validate compatibility with a
    zero-job schema check instead of inferring from data shape."""
    sig = _make_minhash_udf(num_hashes, shingle_n, base_hash=base_hash)(
        F.col(text_col)
    )
    # the md5 audit arm stamps its own scheme so a stored table from
    # one arm can never silently feed the other's incremental probe
    scheme = (
        MINHASH_SCHEME if base_hash == "fast" else "shingle-md5-affine-audit"
    )
    return df.select(
        F.col(id_col).alias("_id"),
        sig.alias(
            "signature",
            metadata={
                "minhash_num_hashes": num_hashes,
                "minhash_shingle_n": shingle_n,
                "minhash_seed": 42,
                "minhash_scheme": scheme,
                "minhash_hash_probe": _pandas_hash_probe(),
            },
        ),
    )


def _band_table(signatures: DataFrame, bands: int) -> DataFrame:
    """(_id, band_idx, band_hash) rows: the signature split into
    ``bands`` contiguous slices, each hashed. Narrow explode."""
    return signatures.select(
        "_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.xxhash64(
                    F.slice(
                        F.col("signature"),
                        b * (F.size("signature") / bands).cast("int") + 1,
                        (F.size("signature") / bands).cast("int"),
                    ).cast("string")
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def minhash_band_table(signatures: DataFrame, bands: int = 8) -> DataFrame:
    """The storable banded form of a signature table — (_id, band_idx,
    band_hash) with the FULL provenance (MinHash parameterization from
    the signature column plus the band count) riding on ``band_hash``
    as schema metadata, so a parquet round-trip keeps it and
    ``minhash_incremental_pairs(old_banded=...)`` can validate
    compatibility with a zero-job schema check.

    This is the resident corpus's standing dedup asset at scale: the
    per-ingest run then neither re-shingles, re-hashes, NOR re-bands
    the corpus — the old side is one narrow scan of this table."""
    sig_meta = (
        signatures.schema["signature"].metadata
        if "signature" in signatures.columns
        else {}
    )
    banded = _band_table(signatures, bands)
    return banded.select(
        "_id",
        "band_idx",
        F.col("band_hash").alias(
            "band_hash", metadata={**sig_meta, "minhash_bands": bands}
        ),
    )


def minhash_lsh_candidates(
    signatures: DataFrame, bands: int = 8, max_bucket_size: int | None = None
) -> DataFrame:
    """Band the signatures and bucket-join: docs agreeing on ALL rows
    of any band become candidate pairs.

    The classic LSH S-curve: P(candidate) = 1-(1-j^r)^b. Banding is an
    explode (narrow); the only shuffle is the groupBy on
    (band_idx, band_hash) — linear in corpus size, never quadratic.
    Self-join within buckets is quadratic only in bucket size, which
    the hash bounds for non-duplicate content.

    ``max_bucket_size``: opt-in percolation guard
    (``density_guard.check_bucket_sizes``) — one eager agg that
    refuses BEFORE the self-join if any (band_idx, band_hash) bucket
    exceeds the bound (a B-row bucket is B(B-1)/2 candidate pairs).
    Default ``None`` = off: zero plan change for gated paths.
    """
    banded = _band_table(signatures, bands)
    if max_bucket_size is not None:
        from wroclaw_bike_stats_spark.operators.density_guard import (
            check_bucket_sizes,
        )

        check_bucket_sizes(
            banded,
            ["band_idx", "band_hash"],
            max_bucket_size,
            "minhash_lsh_candidates",
        )
    left = banded.select(
        F.col("band_idx"), F.col("band_hash"), F.col("_id").alias("id_a")
    )
    right = banded.select(
        F.col("band_idx"), F.col("band_hash"), F.col("_id").alias("id_b")
    )
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    broadcast_candidates: bool = True,
    signatures: DataFrame | None = None,
    base_hash: str = "fast",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → banded
    candidates → exact-Jaccard verification of CANDIDATES ONLY.

    The exact-Jaccard pass receives the LSH candidate pairs and
    touches nothing else (``ngram_jaccard_pairs(candidates=...)``) —
    the corpus-wide shingle self-join never runs. Candidates that fail
    the exact check drop out; pairs LSH missed stay missed — that's
    the approximation contract.

    ``broadcast_candidates=False``: drop the broadcast hint on the
    candidate id set in the verify prune — use when duplication is so
    heavy that candidates approach corpus size (a forced broadcast
    there can OOM; AQE then sizes the join from the persisted
    candidates' statistics).

    ``signatures``: precomputed ``minhash_signatures(df)`` — pass it
    when the caller also needs the signatures elsewhere (the streaming
    ingest's bootstrap batch feeds its band-table append from the same
    frame), so the corpus is shingled and hashed once. Validated
    against this run's parameterization.
    """
    if signatures is not None:
        _validate_signature_table(
            signatures, num_hashes, shingle_n, what="signatures"
        )
        sigs = signatures
    else:
        # r15: the signature frame feeds BOTH sides of the band-bucket
        # self-join (two distinct exchanges — no ReusedExchange), so
        # without persistence the shingle+hash UDF pass runs twice per
        # execution (measured as two ~0.5 s single-task jobs at the
        # bench sf). Scratch-persist it: one pass, plan-keyed reuse.
        sigs = _scratch_persist(
            minhash_signatures(
                df, text_col, id_col, num_hashes, shingle_n, base_hash
            )
        )
    # The candidate set feeds three downstream consumers (the two id
    # projections and the pair join); without persistence the whole
    # signature+banding pipeline would re-execute for each. Candidate
    # pairs are tiny relative to the corpus (that's the point of LSH),
    # so caching them is bounded and saves two full recomputations.
    cands = _scratch_persist(minhash_lsh_candidates(sigs, bands))
    return ngram_jaccard_pairs(
        df,
        text_col,
        id_col,
        shingle_n,
        threshold,
        candidates=cands,
        broadcast_candidates=broadcast_candidates,
    )


def _validate_signature_table(
    signatures: DataFrame,
    num_hashes: int,
    shingle_n: int,
    what: str = "signatures",
) -> None:
    """Fail LOUD on a signature table from an incompatible
    parameterization (fewer hashes, another shingle_n, a reseeded
    permutation family): band hashes would never collide and
    cross-batch duplicates would be silently missed — exactly the
    production path the incremental operator exists for. Tables
    written by ``minhash_signatures`` carry their parameterization as
    schema metadata (survives the parquet footer), so the check is
    zero-job; untagged legacy tables fall back to the weaker
    signature-length probe (one ``first()`` job). A frame with no
    ``signature`` column at all is not a signature table — name the
    argument here instead of letting the length probe die on an
    opaque unresolved-column AnalysisException."""
    if "signature" not in signatures.columns:
        raise ValueError(
            f"{what} is not a signature table — no 'signature' "
            f"column (has: {signatures.columns}); pass the output of "
            "minhash_signatures (a BAND table from minhash_band_table "
            "goes to the old_banded parameter instead)"
        )
    meta = signatures.schema["signature"].metadata
    if meta.get("minhash_num_hashes") is not None:
        expected = {
            "minhash_num_hashes": num_hashes,
            "minhash_shingle_n": shingle_n,
            "minhash_seed": 42,
            "minhash_scheme": MINHASH_SCHEME,
        }
        bad = {
            k: (meta.get(k), v)
            for k, v in expected.items()
            if meta.get(k) != v
        }
        if bad:
            raise ValueError(
                f"{what} were built with an incompatible "
                "parameterization — cross-batch duplicates would be "
                "silently missed: "
                + ", ".join(
                    f"{k}: stored={s!r} run={r!r}"
                    for k, (s, r) in sorted(bad.items())
                )
            )
        _check_hash_probe(meta)
    else:
        probe = signatures.select(F.size("signature")).first()
        if probe is not None and probe[0] != num_hashes:
            raise ValueError(
                f"{what} have {probe[0]} hashes but this "
                f"run uses num_hashes={num_hashes} — band hashes "
                "would never collide and cross-batch duplicates would "
                "be missed"
            )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    old_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.5,
    old_signatures: DataFrame | None = None,
    old_banded: DataFrame | None = None,
    broadcast_new: bool = True,
    new_signatures: DataFrame | None = None,
) -> DataFrame:
    """Day-N incremental near-dup: verified pairs INVOLVING at least
    one new document (new↔new and new↔old; old↔old pairs were resolved
    when the old corpus was deduped — re-finding them is wasted work).

    The production shape this models: the resident corpus stores its
    banded signature table next to the documents (``old_banded``, from
    ``minhash_band_table``; or ``old_signatures``, re-banded on the fly
    — a narrow map, but still a per-run pass over the corpus's
    signatures), so the incremental run shingles and hashes ONLY the
    new batch — at 100 TB corpus / 100 GB daily increment, per-ingest
    cost is proportional to the increment plus ONE narrow scan of the
    stored band table:

    - banding: the new-batch band table is BROADCAST
      (``broadcast_new``, default on — the daily increment is small by
      contract) into the equi-join, so the corpus-size band table
      never shuffles: it streams through the scan-side hash join and
      only the candidate pairs move;
    - verification (exact Jaccard) touches only candidate documents,
      via the candidates-only path of ``ngram_jaccard_pairs``.

    Pass ``broadcast_new=False`` for a backfill-size "increment" that
    would not fit in executor memory as a broadcast hash table; the
    join then shuffles both sides on (band_idx, band_hash), AND the
    verify stage's candidate-id prune drops its broadcast hint too
    (candidates are increment-proportional — the same reason the band
    probe can't be broadcast makes the id set unsafe to force).

    Without ``old_signatures``/``old_banded`` the old side is signed on
    the fly (correct, just not incremental). Pairs are normalized
    id_a < id_b. Equivalence to the full-corpus run filtered to
    new-involving pairs is pinned in tests/test_dedup_similarity.py.

    ``new_signatures``: precomputed ``minhash_signatures(new_docs)``
    — pass it when the caller also needs the batch's signatures for
    the band-table append (the streaming ingest does), so the batch
    is shingled and hashed ONCE per ingest, not once per consumer.
    Validated like ``old_signatures`` (same silent-miss risk if a
    stored table from another parameterization sneaks in).
    """
    if new_signatures is not None:
        _validate_signature_table(
            new_signatures, num_hashes, shingle_n, what="new_signatures"
        )
        new_sigs = new_signatures
    else:
        new_sigs = minhash_signatures(
            new_docs, text_col, id_col, num_hashes, shingle_n
        )
    if old_banded is not None:
        # Stored band tables are always written by minhash_band_table,
        # which tags band_hash with the full parameterization; an
        # untagged table is not trusted (a bands/hashes mismatch would
        # silently miss every cross-batch duplicate).
        meta = (
            old_banded.schema["band_hash"].metadata
            if "band_hash" in old_banded.columns
            else {}
        )
        expected = {
            "minhash_num_hashes": num_hashes,
            "minhash_shingle_n": shingle_n,
            "minhash_seed": 42,
            "minhash_scheme": MINHASH_SCHEME,
            "minhash_bands": bands,
        }
        bad = {
            k: (meta.get(k), v) for k, v in expected.items() if meta.get(k) != v
        }
        if bad:
            raise ValueError(
                "stored old_banded is untagged or was built with an "
                "incompatible parameterization — cross-batch duplicates "
                "would be silently missed (write it with "
                "minhash_band_table): "
                + ", ".join(
                    f"{k}: stored={s!r} run={r!r}"
                    for k, (s, r) in sorted(bad.items())
                )
            )
        _check_hash_probe(meta)
        old_bands = old_banded.select("_id", "band_idx", "band_hash")
    elif old_signatures is not None:
        _validate_signature_table(
            old_signatures, num_hashes, shingle_n, what="stored old_signatures"
        )
        old_bands = _band_table(old_signatures, bands)
    else:
        old_bands = _band_table(
            minhash_signatures(old_docs, text_col, id_col, num_hashes, shingle_n),
            bands,
        )
    new_bands = _band_table(new_sigs, bands)
    all_bands = old_bands.unionByName(new_bands)
    probe = new_bands.select("band_idx", "band_hash", F.col("_id").alias("_new"))
    if broadcast_new:
        probe = F.broadcast(probe)
    cands = _scratch_persist(
        all_bands.select("band_idx", "band_hash", F.col("_id").alias("_any"))
        .join(probe, ["band_idx", "band_hash"])
        .filter(F.col("_new") != F.col("_any"))
        .select(
            F.least("_new", "_any").alias("id_a"),
            F.greatest("_new", "_any").alias("id_b"),
        )
        .distinct()
    )
    corpus = new_docs.select(id_col, text_col).unionByName(
        old_docs.select(id_col, text_col)
    )
    return ngram_jaccard_pairs(
        corpus,
        text_col,
        id_col,
        shingle_n,
        threshold,
        candidates=cands,
        broadcast_candidates=broadcast_new,
    )


#: "auto" candidate-route crossover (docs). Measured (SCALING.md r09,
#: min-of-2 cold runs, 32 cores): exact wins at 5k docs (4.1 s vs
#: banded 5.9 s — LSH's fixed signature/banding cost dominates tiny
#: corpora), banded wins from 50k docs on (7.1 s vs 12.1 s) and the
#: gap explodes with the shingle-df² term (sf100/5M docs: 62 s vs
#: 414 s = 6.7×). The bound sits between the measured points.
NEARDUP_EXACT_MAX_DOCS = 20_000


def pick_neardup_route(
    df: DataFrame,
    max_exact_docs: int = NEARDUP_EXACT_MAX_DOCS,
    n_docs: int | None = None,
) -> str:
    """Route selection for ``neardup_components(candidate_route=
    "auto")`` — the dedup analog of span_dedup's ``pick_span_method``.
    Unlike Gopher's zero-job ``pick_gopher_impl`` the decision is a
    property of the CORPUS (the exact route's pair join is
    Σ df² over shingles; the banded route is ~n·num_hashes), so the
    probe is one ``count()`` job — metadata-cheap on a parquet scan,
    but a REAL recompute of any un-persisted upstream lineage. Pass
    ``n_docs`` when the caller already knows the corpus size (a
    catalog rowcount, a prior action) to make the probe zero-job.
    Exact under the bound (every pair found, the DuckDB-checkable
    route); banded above it (recall ≥ 0.9 per the ``minhash_recall``
    contract, components REFINE exact — gated by
    ``banded_components_refinement``)."""
    n = df.count() if n_docs is None else n_docs
    return "exact" if n <= max_exact_docs else "banded"


def neardup_components(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidate_route: str = "auto",
    num_hashes: int = 32,
    bands: int = 8,
    df_cap: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Near-dup cluster assignment (``node``, ``component_id``) from
    exact-Jaccard-verified pairs, with a selectable CANDIDATE
    GENERATOR:

    - ``candidate_route="exact"`` — the inverted-index shingle
      self-join (``ngram_jaccard_pairs``): every qualifying pair is
      found; this is the oracle route (DuckDB recursive-CTE
      checkable) and the sf100 cost driver — pair GENERATION is ~99%
      of the measured 414 s ``neardup_components`` band (SCALING.md).
    - ``candidate_route="banded"`` — MinHash-LSH banding feeds the
      SAME exact-Jaccard verification (``minhash_dedup_pairs``), so
      every emitted edge is a true pair (banded edges ⊆ exact edges ⇒
      banded components REFINE exact components, never merge across
      them); pairs LSH misses stay missed — recall ≥ 0.9 is the
      standing ``minhash_recall`` contract, and the component-level
      consequence is gated by ``banded_components_refinement``. This
      is the 100 TB route: candidate cost is banded-bucket-sized, not
      shingle-df² (cf. Lee et al. 2022 §4 run dedup clustering off
      MinHash candidates at corpus scale for the same reason) —
      measured 62 s vs 414 s at 5M docs (SCALING.md r09).
    - ``candidate_route="auto"`` — probe the corpus size (ONE count
      job, ``pick_neardup_route``) and take exact under
      ``NEARDUP_EXACT_MAX_DOCS``, banded above it.

    .. versionchanged:: round 9
       The default moved ``"exact"`` → ``"auto"`` once the banded
       route's sf100 win was measured. Callers that need the
       every-pair-found guarantee regardless of corpus size (oracle
       mirrors, recall baselines) must pin ``candidate_route="exact"``
       — the contract gates do.

    .. versionchanged:: round 10
       Two loud-contract reliefs for the auto default's hidden costs:
       ``n_docs`` lets a caller who already knows the corpus size skip
       the probe's eager ``count()`` job (which otherwise recomputes
       any un-persisted upstream lineage at plan-construction time),
       and an auto→banded flip emits a ``UserWarning`` — results
       change discontinuously at the 20k crossover (edge recall drops
       from 1.0 to ≥0.9), which a default-arg caller should hear
       about, not discover.

    Components run with ``rebalance_edges=True`` — either route's
    pairs arrive off a skew-prone shuffle."""
    from wroclaw_bike_stats_spark.operators.components import (
        connected_components,
    )

    if candidate_route == "auto":
        candidate_route = pick_neardup_route(df, n_docs=n_docs)
        if candidate_route == "banded":
            import warnings

            warnings.warn(
                "neardup_components(candidate_route='auto'): corpus "
                f"exceeds {NEARDUP_EXACT_MAX_DOCS} docs - routing to "
                "banded LSH candidates (edge recall >= 0.9, components "
                "refine exact; pin candidate_route='exact' for the "
                "every-pair-found guarantee)",
                stacklevel=2,
            )
    if candidate_route == "exact":
        pairs = ngram_jaccard_pairs(
            df, text_col, id_col, shingle_n, threshold, df_cap=df_cap
        )
    elif candidate_route == "banded":
        pairs = minhash_dedup_pairs(
            df, text_col, id_col, num_hashes, bands, shingle_n, threshold
        )
    else:
        raise ValueError(f"unknown candidate_route {candidate_route!r}")
    return connected_components(pairs, rebalance_edges=True)


def _md5_hash64_batch(shingles: list, np) -> "object":
    """First 8 bytes (big-endian) of md5 per shingle, as uint64.

    The CROSS-ENGINE base hash: md5 is the one byte-level hash both
    Spark and DuckDB expose, so a SimHash built on it is reproducible
    by the SQL oracle bit-for-bit (``'0x' || substr(md5(s),1,16)`` →
    UBIGINT on the DuckDB side). Per-shingle hashlib loop — md5 has no
    vectorized batch API here — so this is the AUDIT arm; the engine
    default stays the whole-batch pandas siphash
    (``_base_hash64_batch``)."""
    import hashlib

    if not shingles:
        return np.empty(0, dtype=np.uint64)
    return np.fromiter(
        (
            int.from_bytes(
                hashlib.md5(s.encode("utf-8")).digest()[:8], "big"
            )
            for s in shingles
        ),
        dtype=np.uint64,
        count=len(shingles),
    )


def _make_simhash_udf(shingle_n: int, base_hash: str = "fast"):
    """Arrow-batched 64-bit SimHash (Charikar 2002): bit b of the
    fingerprint is the sign of the sum of ±1 votes from bit b of each
    shingle's base hash. Vectorized ACROSS the batch like
    ``_make_minhash_udf``: one flat base-hash pass, then per bit
    position a segment-sum of that bit over each doc's shingles
    (``np.add.reduceat``), thresholded at strict majority
    (votes > 0 ⟺ 2·ones > n). The per-bit loop keeps peak memory at
    O(|batch shingles|) instead of the (shingles × 64) bit matrix.

    ``base_hash``: ``"fast"`` (default) = whole-batch pandas siphash;
    ``"md5"`` = the SQL-reproducible audit arm (``_md5_hash64_batch``)
    — same fingerprint pipeline, different base hash."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if base_hash not in ("fast", "md5"):
        raise ValueError(f"unknown base_hash {base_hash!r}")

    @pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        import numpy as np

        if texts.empty:
            return pd.Series([], dtype="int64")
        all_sh, counts = _flat_shingles(texts, shingle_n)
        if base_hash == "md5":
            base = _md5_hash64_batch(all_sh, np)
        else:
            base = _base_hash64_batch(all_sh, np)
        cnt = np.asarray(counts, dtype=np.int64)
        offsets = np.zeros(len(counts), dtype=np.int64)
        np.cumsum(cnt[:-1], out=offsets[1:])
        fp = np.zeros(len(counts), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for b in range(64):
                bit = ((base >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
                ones = np.add.reduceat(bit, offsets)
                fp |= (2 * ones > cnt).astype(np.uint64) << np.uint64(b)
        return pd.Series(fp.astype(np.int64))

    return simhash


def simhash64(col, shingle_n: int = 2, base_hash: str = "fast"):
    """64-bit SimHash fingerprint column (see ``_make_simhash_udf``)."""
    return _make_simhash_udf(shingle_n, base_hash)(col)


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    max_hamming: int = 3,
    bands: int = 4,
    sims: DataFrame | None = None,
    base_hash: str = "fast",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Hamming-ball SimHash near-dup: (a<b) pairs whose fingerprints
    differ in ≤ ``max_hamming`` bits. ``max_bucket_size``: opt-in
    percolation guard — refuses before the chunk self-join if any
    (band_idx, chunk) bucket exceeds the bound (see
    ``density_guard.check_bucket_sizes``); ``None`` = off.

    Pigeonhole banding: split the 64-bit fingerprint into ``bands``
    chunks; two fingerprints within hamming distance ≤ bands-1 MUST
    agree on at least one whole chunk — so with the defaults
    (4 bands, max_hamming 3) the candidate join has EXACT recall, not
    probabilistic (asserted against brute force in tests). Candidates
    come from an equi-join on (band_idx, chunk value); verification is
    ``bit_count(a XOR b)`` — one narrow expression. ``base_hash`` (only
    read when ``sims`` is None) selects the fingerprint's base hash —
    ``"md5"`` is the SQL-reproducible audit arm, and because recall is
    pigeonhole-EXACT the banded result under it equals the O(n²)
    hamming join a SQL oracle runs (the simhash_neardup gate).
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"exact recall needs max_hamming <= bands-1 "
            f"(got {max_hamming} vs {bands} bands)"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    if sims is None:
        # Callers that already fingerprinted the corpus (e.g. a
        # verification query comparing banded vs brute-force) pass
        # ``sims`` — (_id, simhash) — so the UDF pass runs once.
        # r15: ``sims`` feeds THREE consumers below (the banded
        # explode and both verify projections) and each plans its own
        # subtree — without persistence the fingerprint UDF pass ran
        # 3× per execution (measured as three 0.6–1.1 s single-task
        # jobs at the bench sf). Scratch-persist: one pass.
        sims = _scratch_persist(
            df.select(
                F.col(id_col).alias("_id"),
                simhash64(F.col(text_col), shingle_n, base_hash).alias(
                    "simhash"
                ),
            )
        )
    chunks = F.array(
        *[
            F.shiftrightunsigned("simhash", b * width).bitwiseAND(F.lit(mask))
            for b in range(bands)
        ]
    )
    banded = sims.select(
        "_id", F.posexplode(chunks).alias("band_idx", "chunk")
    )
    if max_bucket_size is not None:
        from wroclaw_bike_stats_spark.operators.density_guard import (
            check_bucket_sizes,
        )

        check_bucket_sizes(
            banded,
            ["band_idx", "chunk"],
            max_bucket_size,
            "simhash_neardup_pairs",
        )
    cands = (
        banded.alias("l")
        .join(banded.alias("r"), ["band_idx", "chunk"])
        .filter(F.col("l._id") < F.col("r._id"))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    sa = sims.select(F.col("_id").alias("id_a"), F.col("simhash").alias("sim_a"))
    sb = sims.select(F.col("_id").alias("id_b"), F.col("simhash").alias("sim_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_dedup_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 2,
    sims: DataFrame | None = None,
    base_hash: str = "fast",
) -> DataFrame:
    """Group docs by identical SimHash fingerprint (strictest form;
    ``simhash_neardup_pairs`` is the hamming-ball relaxation). Pass
    precomputed ``sims`` — (_id, simhash) — to skip the UDF pass.
    ``base_hash="md5"`` selects the SQL-reproducible audit hash
    (see ``_make_simhash_udf``)."""
    if sims is None:
        sims = df.select(
            F.col(id_col).alias("_id"),
            simhash64(F.col(text_col), shingle_n, base_hash).alias(
                "simhash"
            ),
        )
    return sims.groupBy("simhash").agg(
        F.sort_array(F.collect_list("_id")).alias("ids"),
        F.count(F.lit(1)).alias("n_docs"),
    )
