"""Dedup + similarity operator contracts that the DuckDB oracle can't
express (xxhash64 / probe-order dependent): MinHash-LSH vs exact
Jaccard, SimHash grouping, IVF and hyperplane-LSH recall."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wroclaw_bike_stats_spark.operators import dedup as D
from wroclaw_bike_stats_spark.operators import similarity as SIM

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _pairs(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_subset_of_exact_jaccard(docs):
    """LSH-verified pairs must be a subset of the exact Jaccard join
    (verification is exact, so no false positives), with high recall
    (32 hashes / 8 bands keeps P(miss) tiny at jaccard ≥ 0.5)."""
    exact = _pairs(D.ngram_jaccard_pairs(docs, n=3, threshold=0.5))
    lsh = _pairs(D.minhash_dedup_pairs(docs, shingle_n=3, threshold=0.5))
    assert exact, "fixture corpus should contain near-dup pairs"
    assert lsh <= exact
    assert len(lsh) / len(exact) >= 0.9


def test_minhash_jaccard_values_match_exact(docs):
    """Where LSH and exact agree on a pair, the verified jaccard value
    must be identical — the verify step IS the exact computation,
    restricted to candidates."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    for r in D.minhash_dedup_pairs(docs, shingle_n=3, threshold=0.5).collect():
        assert exact[(r["id_a"], r["id_b"])] == r["jaccard"]


def test_df_cap_drops_stop_shingles(spark):
    """A shingle present in every doc must not connect otherwise-
    dissimilar docs when df_cap is on."""
    rows = [(i, f"common filler prefix unique{i} word{i} tail{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = D.ngram_jaccard_pairs(df, n=3, threshold=0.01)
    capped = D.ngram_jaccard_pairs(df, n=3, threshold=0.01, df_cap=10)
    # 'common filler prefix' appears in all 20 docs → links every pair
    assert uncapped.count() == 20 * 19 / 2
    # with the guard, the ubiquitous shingle is dropped and no pair
    # shares any remaining shingle
    assert capped.count() == 0


def test_prefix_filter_equals_plain_self_join(docs):
    """prefix_filter=True is an EXACT optimization: identical
    (id_a, id_b, jaccard) rows as the plain self-join, at several
    thresholds and with/without the df_cap guard."""
    for threshold in (0.3, 0.5, 0.8):
        for cap in (None, 100):
            plain = {
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in D.ngram_jaccard_pairs(
                    docs, n=3, threshold=threshold, df_cap=cap
                ).collect()
            }
            pref = {
                (r["id_a"], r["id_b"], r["jaccard"])
                for r in D.ngram_jaccard_pairs(
                    docs,
                    n=3,
                    threshold=threshold,
                    df_cap=cap,
                    prefix_filter=True,
                ).collect()
            }
            assert pref == plain, (threshold, cap)
            # non-vacuity per combination: the loosest threshold must
            # have pairs, or the comparison proves nothing
            if threshold == 0.3:
                assert plain, (threshold, cap)


def test_prefix_filter_skewed_frequencies(spark):
    """Adversarial shape for prefix filtering: a stop-like shingle in
    every doc plus planted high-jaccard pairs. The frequent shingle
    must not cost candidates (it never lands in a prefix) and the
    planted pairs must all survive (no false negatives)."""
    rows = []
    for i in range(30):
        base = f"alpha beta gamma u{i} v{i} w{i} x{i} y{i} z{i}"
        rows.append((2 * i, base))
        # near-dup: one trailing token changed
        rows.append((2 * i + 1, base.rsplit(" ", 1)[0] + f" q{i}"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plain = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    }
    pref = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(
            df, n=3, threshold=0.5, prefix_filter=True
        ).collect()
    }
    assert pref == plain
    # every planted (2i, 2i+1) pair found
    assert {(2 * i, 2 * i + 1) for i in range(30)} <= {
        (a, b) for a, b, _ in pref
    }


def test_simhash_neardup_exact_recall_vs_bruteforce(spark, docs):
    """Pigeonhole guarantee: with 4 bands and max_hamming 3, banded
    candidates + verify must equal the brute-force hamming join."""
    from pyspark.sql import functions as SF

    sims = docs.select(
        "doc_id", D.simhash64(SF.col("text"), 2).alias("simhash")
    ).cache()
    a = sims.select(SF.col("doc_id").alias("id_a"), SF.col("simhash").alias("sa"))
    b = sims.select(SF.col("doc_id").alias("id_b"), SF.col("simhash").alias("sb"))
    brute = {
        (r["id_a"], r["id_b"], r["h"])
        for r in a.crossJoin(b)
        .filter(SF.col("id_a") < SF.col("id_b"))
        .withColumn("h", SF.bit_count(SF.col("sa").bitwiseXOR(SF.col("sb"))))
        .filter(SF.col("h") <= 3)
        .collect()
    }
    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_neardup_pairs(docs, max_hamming=3, bands=4).collect()
    }
    assert banded == brute
    assert brute, "fixture corpus should contain simhash near-dups"


def test_simhash_neardup_rejects_bad_params(docs):
    with pytest.raises(ValueError):
        D.simhash_neardup_pairs(docs, max_hamming=4, bands=4)


def test_simhash_identical_docs_share_fingerprint(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "a completely different document about spark execution"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    groups = {
        tuple(r["ids"]): r["simhash"]
        for r in D.simhash_dedup_groups(df).collect()
    }
    assert (1, 2) in groups
    assert (3,) in groups
    assert groups[(1, 2)] != groups[(3,)]


def test_simhash_md5_audit_arm_matches_pure_python(spark):
    """base_hash='md5' (the SQL-reproducible audit arm behind the
    simhash_groups oracle) must equal a from-scratch Python SimHash:
    distinct 2-token shingles, first-8-bytes-of-md5 base hash,
    per-bit strict majority — and group exact dups exactly like the
    default fast arm."""
    import hashlib
    import re

    def ref_simhash(text: str) -> int:
        toks = re.split(
            r"\s+", (text or "").strip(" ").lower(), flags=re.ASCII
        )
        shs = {
            " ".join(toks[i : i + 2])
            for i in range(max(len(toks) - 1, 1))
        }
        hs = [
            int.from_bytes(
                hashlib.md5(s.encode("utf-8")).digest()[:8], "big"
            )
            for s in shs
        ]
        fp = 0
        for b in range(64):
            if 2 * sum((h >> b) & 1 for h in hs) > len(hs):
                fp |= 1 << b
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "a completely different document about spark execution"),
        (4, "one"),
        (5, "  padded   whitespace  run  "),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["h"]
        for r in df.select(
            "doc_id",
            D.simhash64(F.col("text"), 2, base_hash="md5").alias("h"),
        ).collect()
    }
    assert got == {i: ref_simhash(t) for i, t in rows}
    md5_groups = {
        tuple(r["ids"])
        for r in D.simhash_dedup_groups(df, base_hash="md5").collect()
    }
    assert (1, 2) in md5_groups and (3,) in md5_groups


def test_ivf_recall_vs_bruteforce(emb):
    """IVF with nprobe=4 of 16 centroids on the synthetic corpus:
    measured recall ~0.83; assert a margin below to keep the test
    stable while still catching probe-path regressions."""
    q = emb.filter(F.col("vec_id") < 20)
    bf = SIM.cosine_topk_bruteforce(emb, q, k=10)
    ivf = SIM.cosine_topk_ivf(emb, q, k=10, num_centroids=16, nprobe=4)
    bfp = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ivfp = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}
    assert len(bfp & ivfp) / len(bfp) >= 0.6


def test_ivf_pca_composed_recall(emb):
    """The r14 `ivf_pca_composed` gate's recall rows: top-k through
    IVF over whitened k=8 PCA projections, measured against (a) the
    PCA-space brute force — isolates the probe path's loss, measured
    0.945 — and (b) the RAW-space brute force, the end-to-end number
    a 100 TB reduced-vector ANN service actually delivers. On this
    synthetic near-isotropic corpus an 8-of-64-dim projection keeps
    little neighbor structure (measured 0.15 — a property of the
    DATA, not the operator; real embedding spectra are far more
    concentrated), so the floor only pins against regressions. Both
    floors sit under the measured values by a stability margin."""
    from wroclaw_bike_stats_spark.operators.embedding_stats import (
        fit_pca,
        pca_project,
    )

    model = fit_pca(emb, k=8)
    proj = pca_project(emb, model, whiten=True, out_col="pvec").select(
        "vec_id", "pvec"
    )
    pq = proj.filter(F.col("vec_id") < 20)
    ivf = SIM.cosine_topk_ivf(
        proj, pq, k=10, num_centroids=16, nprobe=4, vec_col="pvec"
    )
    ivfp = {(r["query_id"], r["neighbor_id"]) for r in ivf.collect()}

    bf_pca = SIM.cosine_topk_bruteforce(proj, pq, k=10, vec_col="pvec")
    pcap = {(r["query_id"], r["neighbor_id"]) for r in bf_pca.collect()}
    assert len(pcap & ivfp) / len(pcap) >= 0.8  # probe-path recall

    q_raw = emb.filter(F.col("vec_id") < 20)
    bf_raw = SIM.cosine_topk_bruteforce(emb, q_raw, k=10)
    rawp = {(r["query_id"], r["neighbor_id"]) for r in bf_raw.collect()}
    assert len(rawp & ivfp) / len(rawp) >= 0.08  # end-to-end floor
    # r15 EVR->recall tie: the weak end-to-end number is PREDICTED by
    # the fit's explained-variance ratio, not discovered post hoc
    assert model["evr"] < 0.5


def test_evr_predicts_end_to_end_recall(emb):
    """r15 (r14 VERDICT task 2): the EVR contract is a real recall
    predictor — refitting under min_evr=0.5 (auto_k raises k until
    half the variance is captured) must materially beat the k=8
    projection's end-to-end brute-force recall vs raw space."""
    from wroclaw_bike_stats_spark.operators.embedding_stats import (
        fit_pca,
        pca_project,
    )

    q_raw = emb.filter(F.col("vec_id") < 20)
    bf_raw = SIM.cosine_topk_bruteforce(emb, q_raw, k=10)
    rawp = {(r["query_id"], r["neighbor_id"]) for r in bf_raw.collect()}

    def e2e_recall(model):
        proj = pca_project(emb, model, whiten=True, out_col="pvec").select(
            "vec_id", "pvec"
        )
        pq = proj.filter(F.col("vec_id") < 20)
        bf = SIM.cosine_topk_bruteforce(proj, pq, k=10, vec_col="pvec")
        got = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
        return len(rawp & got) / len(rawp)

    low = fit_pca(emb, k=8)
    high = fit_pca(emb, k=8, min_evr=0.5, auto_k=True)
    assert low["evr"] < 0.5 <= high["evr"]
    r_low, r_high = e2e_recall(low), e2e_recall(high)
    # measured 0.17 -> 0.315 at sf0.001 (whitened cosine still differs
    # from raw-space cosine, so capture-half is better, not perfect)
    assert r_high >= r_low + 0.1 and r_high > 1.5 * r_low, (r_low, r_high)


def _within_cluster_objective(emb, centroids):
    assigned = SIM.assign_to_centroids(emb, centroids)
    return (
        assigned.join(centroids, "centroid_id")
        .select(
            SIM.cosine(F.col("embedding"), F.col("centroid_vec")).alias("s")
        )
        .agg(F.avg("s"))
        .collect()[0][0]
    )


def test_kmeans_refine_improves_objective(emb):
    """Lloyd iterations must not regress the mean within-cluster
    cosine vs the sampled IVF centroids, must preserve dimensionality,
    and must keep at most k clusters."""
    cent0, _ = SIM.ivf_assign(emb, num_centroids=8)
    o0 = _within_cluster_objective(emb, cent0)
    cent1 = SIM.kmeans_refine(emb, cent0, iters=3)
    o1 = _within_cluster_objective(emb, cent1)
    assert o1 >= o0 - 1e-9, (o0, o1)
    rows = cent1.collect()
    assert 0 < len(rows) <= 8
    assert all(len(r.centroid_vec) == 64 for r in rows)


def test_ivf_indexed_prunes_partitions_and_matches_inline(spark, emb, tmp_path):
    """The materialized IVF index must (a) return the same results as
    the inline IVF path and (b) prove probe pruning at the scan:
    PartitionFilters on centroid_id, reading only nprobe partitions."""
    centroids, assigned = SIM.ivf_assign(emb, num_centroids=16)
    path = str(tmp_path / "ivf_index")
    SIM.ivf_write_index(assigned, path)

    q = emb.filter(F.col("vec_id") < 5)
    inline = SIM.cosine_topk_ivf(emb, q, k=10, num_centroids=16, nprobe=4)
    indexed = SIM.cosine_topk_ivf_indexed(
        spark, path, centroids, q, k=10, nprobe=4
    )
    assert sorted(map(tuple, inline.collect())) == sorted(
        map(tuple, indexed.collect())
    )
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "centroid_id" in plan.split("PartitionFilters", 1)[1][:300]


def test_ivf_index_cache_invalidated_by_corpus_rewrite(spark, tmp_path):
    """The gate's materialized index is a shared asset keyed on a corpus
    fingerprint (size + mtime): rewriting embeddings.parquet at the same
    path must build a NEW index under the store's root and delete the
    stale one, never serve old postings."""
    import os
    import shutil
    import time

    import __spark_entry__ as entry_mod
    from wroclaw_bike_stats_spark.operators import scratch

    sf_dir = tmp_path / "sfivf"
    sf_dir.mkdir()
    src = "/root/testdata/sf0.001/embeddings.parquet"
    dst = str(sf_dir / "embeddings.parquet")
    shutil.copy(src, dst)
    gate = entry_mod.queries()["embedding_topk_ivf_indexed"]

    def _index_dirs():
        return {d for d in os.listdir(scratch._ROOT) if d.startswith("ivf_index-")}

    before = sorted(map(tuple, gate(spark, str(sf_dir)).collect()))
    first = _index_dirs()
    assert len(first) == 1

    # Rewrite the corpus (content identical, mtime differs) — the old
    # fingerprint must be replaced, not reused.
    time.sleep(0.01)
    shutil.copy(src, dst)
    os.utime(dst)
    after = sorted(map(tuple, gate(spark, str(sf_dir)).collect()))
    second = _index_dirs()
    assert len(second) == 1
    assert first != second, "stale index served after corpus rewrite"
    assert after == before

    root = scratch._ROOT
    entry_mod.release_shared()
    assert not os.path.exists(root)


def test_hyperplane_lsh_finds_near_identical_vectors(spark, emb):
    """The dedup contract: near-identical vectors (the actual near-dup
    use case) must survive banded hyperplane LSH + exact verify."""
    base = emb.limit(20).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # plant exact duplicates with shifted ids
    dupes = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = base.unionByName(dupes)
    found = SIM.embedding_neardup_pairs(corpus, threshold=0.99, method="lsh")
    got = _pairs(found)
    expected = {(r["vec_id"], r["vec_id"] + 100000) for r in base.collect()}
    assert expected <= got


def test_lsh_neardup_subset_of_bruteforce(emb):
    """LSH path verifies exactly, so it can only miss pairs, never
    invent them."""
    lsh = _pairs(SIM.embedding_neardup_pairs(emb, threshold=0.4, method="lsh"))
    bf = _pairs(SIM.embedding_neardup_pairs(emb, threshold=0.4, method="bruteforce"))
    assert lsh <= bf


def test_minhash_recall_at_bench_scale(spark):
    """VERDICT r2 #5: candidate-pair recall vs the oracle-backed exact
    path at the BENCH scale (sf0.1, ~5000 docs), not just the sf0.001
    fixture — banding probabilities only bite with a real corpus.
    Override the corpus with $SPARK_GRAFT_TEST_SF."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.1")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = _pairs(D.ngram_jaccard_pairs(docs, n=3, threshold=0.5))
    lsh = _pairs(D.minhash_dedup_pairs(docs, shingle_n=3, threshold=0.5))
    assert exact, "bench corpus should contain near-dup pairs"
    assert lsh <= exact
    assert len(lsh) / len(exact) >= 0.9


def test_quantized_topk_recall(spark, emb):
    """int8-quantized vectors (4x less IO) must keep high top-10
    overlap with exact float search, and the quantized column must
    actually be tinyint (the storage win is the point)."""
    from pyspark.sql.types import ArrayType, ByteType

    q = SIM.quantize_embeddings(emb)
    assert q.schema["embedding_q"].dataType == ArrayType(ByteType())
    quantized = emb.select("vec_id").join(q, "vec_id").withColumnRenamed(
        "embedding_q", "embedding"
    )
    queries_f = emb.filter(F.col("vec_id") < 5)
    queries_q = quantized.filter(F.col("vec_id") < 5)
    exact = SIM.cosine_topk_bruteforce(emb, queries_f, k=10)
    approx = SIM.cosine_topk_bruteforce(quantized, queries_q, k=10)
    ex = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(ex & ap) / len(ex) >= 0.8


def test_minhash_dedup_pairs_signatures_passthrough(spark):
    """minhash_dedup_pairs(signatures=...) — the bootstrap-ingest
    reuse hook — must equal the self-computing form, and reject a
    frame from another parameterization loudly (the same silent-miss
    contract as the incremental twin's new_signatures)."""
    import wroclaw_bike_stats_spark.operators.dedup as D

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    want = sorted(
        map(tuple, D.minhash_dedup_pairs(docs, threshold=0.5).collect())
    )
    assert want, "fixture must produce pairs"
    sigs = D.minhash_signatures(docs)
    got = sorted(
        map(
            tuple,
            D.minhash_dedup_pairs(
                docs, threshold=0.5, signatures=sigs
            ).collect(),
        )
    )
    assert got == want
    with pytest.raises(ValueError, match="incompatible parameterization"):
        D.minhash_dedup_pairs(
            docs, threshold=0.5,
            signatures=D.minhash_signatures(docs, num_hashes=16),
        )


def test_minhash_incremental_matches_full_run(spark):
    """Incremental near-dup (new batch vs resident corpus) must equal
    the full-corpus LSH run filtered to pairs involving a new doc —
    with and without precomputed old-side signatures."""
    import wroclaw_bike_stats_spark.operators.dedup as D
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)

    full = D.minhash_dedup_pairs(docs, threshold=0.5)
    expected = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in full.collect()
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0
    )
    assert expected, "fixture must produce at least one new-involving pair"

    got = sorted(
        map(tuple, D.minhash_incremental_pairs(new, old, threshold=0.5).collect())
    )
    assert got == expected

    # production path: stored old signatures, old docs never re-hashed
    old_sigs = D.minhash_signatures(old)
    got2 = sorted(
        map(
            tuple,
            D.minhash_incremental_pairs(
                new, old, threshold=0.5, old_signatures=old_sigs
            ).collect(),
        )
    )
    assert got2 == expected

    # scale path: stored PRE-BANDED table (minhash_band_table) — the
    # corpus is neither re-hashed nor re-banded, and the new-batch
    # probe is broadcast so the stored table never shuffles
    banded = D.minhash_band_table(old_sigs)
    inc = D.minhash_incremental_pairs(new, old, threshold=0.5, old_banded=banded)
    got3 = sorted(map(tuple, inc.collect()))
    assert got3 == expected
    assert "strategy=broadcast" in inc._jdf.queryExecution().analyzed().toString()

    # the shuffle route for a backfill-size increment: same answer
    got4 = sorted(
        map(
            tuple,
            D.minhash_incremental_pairs(
                new, old, threshold=0.5, old_banded=banded, broadcast_new=False
            ).collect(),
        )
    )
    assert got4 == expected

    # precomputed NEW-batch signatures (late r11 — the streaming
    # ingest hashes the batch once and reuses it for the band-table
    # append): same answer, and a mismatched parameterization is
    # rejected loudly instead of silently missing every pair
    new_sigs = D.minhash_signatures(new)
    got5 = sorted(
        map(
            tuple,
            D.minhash_incremental_pairs(
                new, old, threshold=0.5, old_banded=banded,
                new_signatures=new_sigs,
            ).collect(),
        )
    )
    assert got5 == expected
    with pytest.raises(ValueError, match="incompatible parameterization"):
        D.minhash_incremental_pairs(
            new, old, threshold=0.5, old_banded=banded,
            new_signatures=D.minhash_signatures(new, num_hashes=16),
        )

    # an untagged banded table must be rejected loudly
    with pytest.raises(ValueError, match="untagged or.*incompatible"):
        D.minhash_incremental_pairs(
            new,
            old,
            threshold=0.5,
            old_banded=banded.select(
                "_id", "band_idx", F.col("band_hash").cast("long").alias("band_hash")
            ),
        )


def test_minhash_band_table_metadata_survives_parquet(spark, tmp_path):
    """The parquet round-trip must preserve the band table's provenance
    so a later incremental run can validate it schema-only."""
    import wroclaw_bike_stats_spark.operators.dedup as D
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "banded.parquet")
    D.minhash_band_table(D.minhash_signatures(docs)).write.parquet(path)
    stored = spark.read.parquet(path)
    meta = stored.schema["band_hash"].metadata
    assert meta["minhash_num_hashes"] == 32
    assert meta["minhash_bands"] == 8
    # wrong-bands table fails loud even after the round-trip
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    with pytest.raises(ValueError, match="minhash_bands"):
        D.minhash_incremental_pairs(
            new, old, threshold=0.5, bands=4, old_banded=stored
        )


def test_embedding_incremental_matches_full_run(spark, emb):
    """Embedding-modality incremental near-dup must equal the
    full-corpus hyperplane-LSH run filtered to new-involving pairs —
    with and without the stored old-side band table."""
    new = emb.filter(F.col("vec_id") % 5 == 0)
    old = emb.filter(F.col("vec_id") % 5 != 0)

    full = SIM.embedding_neardup_pairs(emb, threshold=0.4, method="lsh")
    expected = sorted(
        (r["id_a"], r["id_b"], r["cosine_sim"])
        for r in full.collect()
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0
    )
    assert expected, "fixture must produce at least one new-involving pair"

    got = sorted(
        map(
            tuple,
            SIM.embedding_incremental_neardup(new, old, threshold=0.4).collect(),
        )
    )
    assert got == expected

    # production path: stored band table, old vectors never re-hashed
    bh = SIM._make_band_hash_udf(64, 8)
    old_banded = old.select(
        F.col("vec_id").alias("_id"),
        F.posexplode(bh(F.col("embedding"))).alias("band_idx", "band_hash"),
    )
    inc = SIM.embedding_incremental_neardup(
        new, old, threshold=0.4, old_banded=old_banded
    )
    got2 = sorted(map(tuple, inc.collect()))
    assert got2 == expected
    # the new-batch probe must be broadcast so the stored band table
    # never shuffles (the scale contract of the incremental path)
    assert "strategy=broadcast" in inc._jdf.queryExecution().analyzed().toString()

    # backfill route (broadcast_new=False): same answer via shuffles
    got3 = sorted(
        map(
            tuple,
            SIM.embedding_incremental_neardup(
                new, old, threshold=0.4, old_banded=old_banded, broadcast_new=False
            ).collect(),
        )
    )
    assert got3 == expected


def test_vec_matrix_unboxing_parity():
    """_vec_matrix (np.stack over Arrow-delivered cells) must be
    bit-identical to the tolist path it replaced, and fall back for
    ragged input instead of crashing differently."""
    import numpy as np
    import pandas as pd

    from wroclaw_bike_stats_spark.operators.similarity import _vec_matrix

    # typical Arrow shape: Series of float32 numpy arrays
    cells = [np.array([0.1, 0.2, 0.3], dtype=np.float32) for _ in range(5)]
    s = pd.Series(cells)
    fast = _vec_matrix(s, np)
    slow = np.asarray(s.tolist(), dtype=np.float64)
    assert fast.dtype == np.float64
    assert np.array_equal(fast, slow)

    # plain-list cells (non-Arrow callers) work too
    s2 = pd.Series([[1.0, 2.0], [3.0, 4.0]])
    assert np.array_equal(_vec_matrix(s2, np), np.array([[1.0, 2.0], [3.0, 4.0]]))

    # ragged input falls back to the tolist path -> same numpy error
    # class as before the optimization
    s3 = pd.Series([np.array([1.0, 2.0]), np.array([1.0])], dtype=object)
    try:
        _vec_matrix(s3, np)
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_incremental_guard_validates_full_parameterization(spark, docs, emb):
    """ADVICE r04: a num_hashes-only shape probe passes stored
    signatures built with a different shingle_n (silent recall loss).
    Signature/band tables now carry their FULL parameterization as
    column metadata; any mismatch must fail loud, and the check must
    be schema-only (zero jobs) for tagged tables."""
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)

    # same num_hashes, different shingle_n: the old probe passed this
    old_sigs_5gram = D.minhash_signatures(old, shingle_n=5)
    with pytest.raises(ValueError, match="shingle_n"):
        D.minhash_incremental_pairs(
            new, old, shingle_n=3, old_signatures=old_sigs_5gram
        )

    # same bands, different num_planes: max(band_idx) passed this
    new_e = emb.filter(F.col("vec_id") % 5 == 0)
    old_e = emb.filter(F.col("vec_id") % 5 != 0)
    old_banded_32 = SIM.hyperplane_band_table(old_e, num_planes=32, bands=8)
    with pytest.raises(ValueError, match="num_planes"):
        SIM.embedding_incremental_neardup(
            new_e, old_e, num_planes=64, bands=8, old_banded=old_banded_32
        )


def test_incremental_guard_metadata_survives_parquet(spark, docs, tmp_path):
    """The production contract: signatures written to parquet keep
    their parameterization in the footer, so a later incremental run
    validates a STORED table without scanning it."""
    old = docs.filter(F.col("doc_id") % 5 != 0)
    path = str(tmp_path / "sigs")
    D.minhash_signatures(old, shingle_n=5).write.parquet(path)
    stored = spark.read.parquet(path)
    assert stored.schema["signature"].metadata["minhash_shingle_n"] == 5
    with pytest.raises(ValueError, match="shingle_n"):
        D.minhash_incremental_pairs(
            docs.filter(F.col("doc_id") % 5 == 0),
            old,
            shingle_n=3,
            old_signatures=stored,
        )


def test_incremental_guard_pins_pandas_hash_identity(spark, docs):
    """ADVICE r06: the scheme tag names the ALGORITHM but v3 ties
    stored tables to pd.util.hash_array's exact output — a pandas
    upgrade changing it would miss every cross-batch dup while the
    tag still matched. Signatures now also stamp a sentinel probe
    hash; present-but-mismatched fails loud, absent (pre-r07 table)
    is tolerated."""
    from pyspark.sql.types import StructField, StructType

    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    sigs = D.minhash_signatures(old)
    meta = dict(sigs.schema["signature"].metadata)
    assert meta["minhash_hash_probe"] == D._pandas_hash_probe()

    # simulate a table written under a different pandas hash impl
    tampered_field = StructField(
        "signature",
        sigs.schema["signature"].dataType,
        metadata={**meta, "minhash_hash_probe": "1234567890"},
    )
    tampered = sigs.select(
        "_id", F.col("signature").alias("signature", metadata=tampered_field.metadata)
    )
    with pytest.raises(ValueError, match="hash_array"):
        D.minhash_incremental_pairs(new, old, old_signatures=tampered)

    # pre-r07 table: full parameterization but no probe key → accepted
    legacy_meta = {k: v for k, v in meta.items() if k != "minhash_hash_probe"}
    legacy = sigs.select(
        "_id", F.col("signature").alias("signature", metadata=legacy_meta)
    )
    D.minhash_incremental_pairs(new, old, old_signatures=legacy).collect()


def test_incremental_guard_legacy_untagged_tables_still_probed(spark, docs):
    """Tables built outside minhash_signatures (no metadata) keep the
    weaker shape probe: a num_hashes mismatch still fails loud."""
    old = docs.filter(F.col("doc_id") % 5 != 0)
    # rebuild from collected rows with a plain DDL schema → no metadata
    legacy = old.sparkSession.createDataFrame(
        D.minhash_signatures(old, num_hashes=16).collect(),
        "_id long, signature array<long>",
    )
    assert legacy.schema["signature"].metadata == {}
    with pytest.raises(ValueError, match="16 hashes"):
        D.minhash_incremental_pairs(
            new_docs=docs.filter(F.col("doc_id") % 5 == 0),
            old_docs=old,
            num_hashes=32,
            old_signatures=legacy,
        )


def test_incremental_guard_names_non_signature_frame(spark, docs):
    """A frame with no 'signature' column at all is not a signature
    table (r11 ADVICE): the guard must raise a ValueError naming the
    argument, not fall through to the length probe and die on an
    opaque unresolved-column AnalysisException."""
    old = docs.filter(F.col("doc_id") % 5 != 0)
    not_sigs = old.select("doc_id", "text")
    with pytest.raises(ValueError, match="not a signature table"):
        D.minhash_incremental_pairs(
            new_docs=docs.filter(F.col("doc_id") % 5 == 0),
            old_docs=old,
            old_signatures=not_sigs,
        )


def test_raw_shingle_pass_shared_across_cap_variants(spark, docs):
    """r04 verdict item: ngram_jaccard's cost swung 8× between rounds
    because the persisted shingle table sat BELOW the df_cap anti-join
    — a capless sibling (minhash_recall's exact side) could never hit
    it. The raw pre-cap pass is now persisted first, so whichever
    full-corpus variant runs first, the other's plan substitutes the
    cached raw table (InMemoryTableScan) — order-independent sharing
    by mechanism, not by lucky gate ordering."""
    def _physical(df):
        return df._jdf.queryExecution().executedPlan().toString()

    D.release_scratch()
    try:
        # order A: capless first (the recall gates' exact side)
        D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).count()
        assert "InMemoryTableScan" in _physical(
            D.ngram_jaccard_pairs(docs, n=3, threshold=0.5, df_cap=100)
        ), "capped variant did not reuse the cached raw shingle pass"
        D.release_scratch()
        # order B: capped first (the ngram_jaccard gate itself)
        D.ngram_jaccard_pairs(docs, n=3, threshold=0.5, df_cap=100).count()
        assert "InMemoryTableScan" in _physical(
            D.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
        ), "capless variant did not reuse the cached raw shingle pass"
    finally:
        D.release_scratch()


def test_shingle_hash_batch_flat_tokens_shorter_than_n():
    """Regression (r07): a batch whose WHOLE flat token array is
    shorter than n (tiny probe batches, short eval sets) used to
    misalign the polynomial tail add (negative slice end wraps to a
    non-empty window) and raise. Short docs must come out via the
    whole-doc-shingle path, identical to a batch that also contains
    long docs."""
    import numpy as np

    h1, c1 = D._shingle_hash_batch(["tiny doc"], 13, np)
    assert list(c1) == [1] and len(h1) == 1
    # same doc inside a batch with enough flat tokens -> same hash
    long_doc = " ".join(f"w{i}" for i in range(30))
    h2, c2 = D._shingle_hash_batch(["tiny doc", long_doc], 13, np)
    assert list(c2) == [1, 30 - 12]
    assert h2[0] == h1[0]


def test_minhash_md5_audit_arm_contract(docs):
    """base_hash='md5' (the SQL-reproducible audit arm behind the r13
    minhash_neardup oracle) must satisfy the same LSH contract as the
    fast v3 arm: verified pairs are a subset of exact Jaccard pairs
    with identical jaccard values, at >= 0.9 recall."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    md5 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.minhash_dedup_pairs(
            docs, shingle_n=3, threshold=0.5, base_hash="md5"
        ).collect()
    }
    assert set(md5) <= set(exact)
    assert len(md5) / len(exact) >= 0.9
    for k, v in md5.items():
        assert exact[k] == v
    with pytest.raises(ValueError):
        D.minhash_dedup_pairs(docs, base_hash="bogus")
