"""Semantics tests for the hash-sketch and ANN operators that have no SQL
oracle (minhash/simhash: xxhash64; IVF: centroid argmax) — verified against
brute-force ground truth instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pgstosrt_spark.functions import dedup as dd
from pgstosrt_spark.functions import similarity as sim
from pgstosrt_spark.multimodal import media_stats, media_table, probe_media

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    # add exact and near duplicates so the dedup ops have positives
    dup = base.limit(5).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), F.col("text")
    )
    near = base.limit(5).select(
        (F.col("doc_id") + 20_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail suffix token")).alias("text"),
    )
    return base.unionByName(dup).unionByName(near).cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


def test_exact_dedup_finds_planted_dups(spark, docs):
    res = dd.exact_dedup(docs)
    groups = {r["n_docs"] for r in res.collect()}
    assert 2 in groups  # the 5 planted exact dups
    assert res.filter(F.col("n_docs") == 2).count() == 5


def test_minhash_lsh_vs_exact_jaccard(spark, docs):
    """LSH candidates verified by exact jaccard must be a subset of the
    all-pairs jaccard result, and catch the planted near-dups."""
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert exact[k] == v
    # planted near-dups (same text + small suffix) must be found
    planted = {(a, a + 20_000) for a in range(5)}
    assert planted <= set(lsh), f"missed {planted - set(lsh)}"
    # planted exact dups have jaccard 1.0
    assert all(lsh[(a, a + 10_000)] == 1.0 for a in range(5))


def test_embed_text_featurizer(spark, docs):
    """embed_text (VERDICT r4 item 5): identical texts embed identically
    (the planted dups), vectors are unit-norm, short docs keep a zero
    vector, and the chain into embedding_near_dup finds the planted pairs
    with cosine 1.0."""
    import math

    from pgstosrt_spark.functions import embed as embd

    emb = embd.embed_text(docs, dim=32, n=3)
    rows = {r["doc_id"]: r["embedding"] for r in emb.collect()}
    assert set(rows) == {r["doc_id"] for r in docs.select("doc_id").collect()}
    for a in range(5):  # planted exact dups share text -> identical vectors
        assert rows[a] == rows[a + 10_000]
    norms = {d: math.sqrt(sum(x * x for x in v)) for d, v in rows.items()}
    for d, nv in norms.items():
        assert nv == 0.0 or abs(nv - 1.0) < 1e-12, (d, nv)
    short = spark.createDataFrame([(1, "just two")], "doc_id long, text string")
    [z] = embd.embed_text(short, dim=8, n=3).collect()
    assert z["embedding"] == [0.0] * 8
    # chain: embed -> embedding_near_dup picks up the planted dups at 1.0
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in sim.embedding_near_dup(
            emb, threshold=0.999, id_col="doc_id", exact_scores=True
        ).collect()
    }
    assert all(pairs.get((a, a + 10_000)) == 1.0 for a in range(5))


def test_simhash_verified_mode_hash_free(spark, docs):
    """verify_threshold mode (VERDICT r4 item 3): candidates come from the
    banding, but the OUTPUT is exact n-gram Jaccard pairs — a subset of the
    all-pairs exact result with identical scores, catching planted dups."""
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.simhash_pairs(docs, max_hamming=3, verify_threshold=0.5).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert set(got) <= set(exact)
    assert all(exact[k] == v for k, v in got.items())
    assert all(got[(a, a + 10_000)] == 1.0 for a in range(5))  # planted exact dups


def test_simhash_cross_engine_token_hash(spark, docs):
    """token_hash swap (driver twin): md5-60bit banding finds the same
    hamming-0 planted dups and bands provably cover hamming <= max_hamming."""
    from pyspark.sql import functions as F

    def md5_60(tok):
        return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dd.simhash_pairs(docs, max_hamming=3, bits=60, token_hash=md5_60).collect()
    }
    assert all(pairs.get((a, a + 10_000)) == 0 for a in range(5))
    # banding equals an all-pairs hamming scan (pigeonhole):
    sig = {r["doc_id"]: r["simhash"]
           for r in dd.simhash(docs, bits=60, token_hash=md5_60).collect()}
    ids = sorted(sig)
    brute = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    assert pairs == brute


def test_simhash_near_dups(spark, docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in dd.simhash_pairs(docs, max_hamming=3).collect()}
    # exact dups have identical fingerprints (hamming 0)
    assert {(a, a + 10_000) for a in range(5)} <= pairs
    sig = dd.simhash(docs)
    vals = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert all(vals[a] == vals[a + 10_000] for a in range(5))
    # fingerprints must DISCRIMINATE: a constant-output bug would still
    # pass the dup assertions above while matching every pair
    assert len(set(vals.values())) > len(vals) * 0.5
    n_docs = docs.count()
    assert len(pairs) < n_docs * 5  # nowhere near all-pairs


def test_near_dup_clusters_transitive(spark):
    """Components, not pairs: A~B and B~C must land in one cluster even
    when A~C alone is below threshold; singletons keep their own id."""
    base = ["w%d" % i for i in range(12)]
    rows = [
        (1, " ".join(base)),                                   # A
        (2, " ".join(base[:8] + ["x1", "x2", "x3", "x4"])),    # B ~ A
        (3, " ".join(["x1", "x2", "x3", "x4"] + ["y%d" % i for i in range(8)])),  # C ~ B only
        (9, "totally unrelated text about nothing shared here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.1)
    got_pairs = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (2, 3) in got_pairs
    assert (1, 3) not in got_pairs  # NOT directly similar -> needs CC
    clusters = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.near_dup_clusters(docs, pairs).collect()
    }
    assert clusters == {1: 1, 2: 1, 3: 1, 9: 9}


def test_near_dup_clusters_nonconvergence_is_loud(spark):
    """A component whose diameter exceeds max_iter must not silently
    return labels violating the smallest-id contract (ADVICE r2): the
    default raises; on_nonconverged='warn' returns partial labels with a
    RuntimeWarning; enough rounds converge cleanly."""
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, 7)], "doc_id long, text string")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.near_dup_clusters(docs, chain, max_iter=2)
    with pytest.warns(RuntimeWarning, match="did not converge"):
        partial = dd.near_dup_clusters(docs, chain, max_iter=2, on_nonconverged="warn")
        assert partial.count() == 6
    full = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.near_dup_clusters(docs, chain, max_iter=8).collect()
    }
    assert full == {i: 1 for i in range(1, 7)}


def test_near_dup_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir (ADVICE r4): the reliable-checkpoint mode must
    produce identical clusters and actually write round checkpoints into
    the given directory (recoverable on executor loss, unlike
    localCheckpoint blocks)."""
    import os

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dd.near_dup_clusters(
            docs, chain, max_iter=8, checkpoint_dir=ckpt
        ).collect()
    }
    assert got == {i: 1 for i in range(1, 7)}
    written = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(ckpt)
        for f in fn
    ]
    assert written, "reliable mode must write checkpoint files"


def test_simhash_empty_and_unrelated_docs(spark):
    rows = [(1, ""), (2, "   "), (3, "alpha beta gamma delta"), (4, "zeta eta theta iota")]
    sig = {r["doc_id"]: r["simhash"] for r in dd.simhash(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert sig[1] == 0 and sig[2] == 0  # zero-token docs -> fingerprint 0
    assert sig[3] != sig[4] and sig[3] != 0


def test_ivf_recall_vs_bruteforce(spark, emb):
    queries = emb.filter(F.col("vec_id") < 10)
    bf = sim.cosine_topk_bruteforce(emb, queries, k=10)
    ivf = sim.ivf_topk(emb, queries, k=10, n_centroids=16, nprobe=8)
    bf_sets = {}
    for r in bf.collect():
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf_sets = {}
    for r in ivf.collect():
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & ivf_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    # nprobe=8/16 cells; the Lloyd-refined centroids must beat the 0.6 the
    # raw lowest-id seeds scored (recall must not depend on data order)
    assert sum(recalls) / len(recalls) >= 0.8, recalls


def test_ivf_sqrt_n_centroids_recall_on_synthetic(spark):
    """n_centroids=None -> ~sqrt(N) cells (VERDICT r2 item 6): on a 50k
    clustered synthetic corpus the auto-sized index must keep recall vs
    brute force >= 0.8 (nprobe=8)."""
    import numpy as np

    rng = np.random.default_rng(7)
    n, dim, n_clusters = 50_000, 8, 100
    centers = rng.normal(size=(n_clusters, dim))
    ids = np.arange(n)
    vecs = centers[ids % n_clusters] + 0.05 * rng.normal(size=(n, dim))
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(16)
    queries = emb.filter(F.col("vec_id") < 8)
    bf = sim.cosine_topk_bruteforce(emb, queries, k=10)
    ivf = sim.ivf_topk(emb, queries, k=10, n_centroids=None, nprobe=8)
    bf_sets, ivf_sets = {}, {}
    for r in bf.collect():
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in ivf.collect():
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & ivf_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.8, recalls
    sim.unpersist_ivf_caches()


def test_lsh_topk_recall_on_clustered_synthetic(spark):
    """Hyperplane-LSH top-k (the centroid-free ANN scale path) must keep
    recall vs brute force >= 0.9 on a clustered corpus whose neighbors sit
    at intra-cluster cosine ~0.99 — the high-similarity regime the default
    (16 bands x 8 rows) banding is sized for."""
    import numpy as np

    rng = np.random.default_rng(11)
    n, dim, n_clusters = 5_000, 8, 50
    centers = rng.normal(size=(n_clusters, dim))
    ids = np.arange(n)
    vecs = centers[ids % n_clusters] + 0.05 * rng.normal(size=(n, dim))
    rows = [(int(i), [float(x) for x in v]) for i, v in zip(ids, vecs)]
    emb5k = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)
    queries = emb5k.filter(F.col("vec_id") < 8)
    bf_sets, lsh_sets = {}, {}
    for r in sim.cosine_topk_bruteforce(emb5k, queries, k=10).collect():
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in sim.lsh_topk(emb5k, queries, k=10).collect():
        lsh_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(bf_sets[q] & lsh_sets.get(q, set())) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_lsh_topk_exact_duplicate_always_found(spark, emb):
    """An exact duplicate has identical sign bits in every band, so it is
    a candidate with probability 1 and must rank first at score 1.0."""
    dup = emb.filter(F.col("vec_id") == 3).withColumn(
        "vec_id", F.col("vec_id") + 100_000
    )
    res = sim.lsh_topk(emb.unionByName(dup), emb.filter(F.col("vec_id") == 3), k=3)
    top = [r for r in res.collect() if r["rnk"] == 1]
    assert len(top) == 1
    assert top[0]["neighbor_id"] == 100_003 and top[0]["score"] == 1.0


def test_ivf_cache_registry_bounded(spark, emb):
    """Repeated ivf_assign calls must not accumulate persisted tables for
    the session lifetime (ADVICE r2): each call evicts the previous
    call's, and unpersist_ivf_caches() empties the registry."""
    from pgstosrt_spark.functions.similarity import _IVF_CACHES

    sim.ivf_assign(emb, n_centroids=4)[0].count()
    sim.ivf_assign(emb, n_centroids=4, persist_assignment=True)[0].count()
    assert len(_IVF_CACHES) == 2  # centroids + assignment of the LAST call only
    sim.unpersist_ivf_caches()
    assert not _IVF_CACHES


def test_lsh_banding_derivation():
    """Derived (bands, rows) must catch >= 0.95 of true pairs at
    j=threshold and be the most selective divisor banding that does."""
    for k, t in [(16, 0.2), (16, 0.5), (16, 0.7), (16, 0.9), (32, 0.8)]:
        b, r = dd.lsh_banding(k, t)
        assert b * r == k
        catch = 1 - (1 - t**r) ** b
        assert catch >= 0.95, (k, t, b, r, catch)
        # no larger divisor r' also meets the bound (selectivity-optimal)
        for r2 in range(r + 1, k + 1):
            if k % r2 == 0:
                assert 1 - (1 - t**r2) ** (k // r2) < 0.95
    # impossible target falls back to max-recall single-row bands — and
    # warns, because r=1 band keys degrade toward all-pairs at scale
    with pytest.warns(RuntimeWarning, match="single-row"):
        assert dd.lsh_banding(16, 0.01) == (16, 1)


def test_derive_lsh_params_rows_ge_2():
    """k=None path (ADVICE r2): signature width sized FROM the threshold,
    rows >= 2 so band keys stay selective, catch >= target at
    j=threshold, and k minimal for that target."""
    for t in (0.2, 0.3, 0.5, 0.7, 0.9):
        k, b, r = dd.derive_lsh_params(t)
        assert r >= 2 and b * r == k
        assert 1 - (1 - t**r) ** b >= 0.95
        # minimality: one band fewer at the same r misses the target
        assert 1 - (1 - t**r) ** (b - 1) < 0.95
    assert dd.derive_lsh_params(0.5) == (22, 11, 2)
    assert dd.derive_lsh_params(0.2) == (148, 74, 2)
    with pytest.raises(ValueError):  # sub-cap impossible -> loud
        dd.derive_lsh_params(0.05)


def test_lsh_recall_mid_jaccard(spark):
    """Planted mid-jaccard (0.3-0.6) pairs at threshold 0.3: with banding
    derived from the threshold, LSH recall vs exact Jaccard must be high —
    the round-1 fixed 4x4 banding caught <1% here."""
    words = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(20):
        base = [words[(d * 7 + i) % 40] for i in range(30)]
        # variant shares a prefix: jaccard lands in ~0.2-0.6 by overlap len
        keep = 10 + (d % 3) * 5
        variant = base[:keep] + [f"u{d}x{i}" for i in range(30 - keep)]
        rows.append((d, " ".join(base)))
        rows.append((d + 1000, " ".join(variant)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dd.ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_lsh_pairs(docs, threshold=0.3).collect()
    }
    assert lsh <= exact  # verify stage keeps LSH sound
    assert exact, "corpus must contain mid-jaccard pairs"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, (recall, exact - lsh)


def test_embedding_near_dup_planted(spark, emb):
    # plant an exact duplicate vector
    dup = emb.limit(1).select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding", "label")
    res = sim.embedding_near_dup(emb.unionByName(dup), threshold=0.999)
    pairs = {(r["vec_a"], r["vec_b"]) for r in res.collect()}
    assert (0, 10_000) in pairs


def test_embedding_near_dup_hot_cell_cap(spark, emb):
    """With max_cell far below the corpus size every cell is 'hot' and the
    RP sub-bucketing path runs; exact duplicates have identical
    projections so they MUST still be found (catch probability 1)."""
    dups = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    res = sim.embedding_near_dup(
        emb.unionByName(dups), threshold=0.999, max_cell=10
    )
    pairs = {(r["vec_a"], r["vec_b"]) for r in res.collect()}
    assert {(i, i + 10_000) for i in range(5)} <= pairs


def test_track_fanout_numbering(spark):
    """MkvUtilities.cs:20-55 contract: exact PGS-codec filter (as in the
    demux, ebml.mkv_pgs_packets), case-insensitive language match, output
    names numbered "", 2, 3 on collision (the reference's retry loop
    starts at 2), .forced suffix kept distinct."""
    from pgstosrt_spark.operators.tracks import tracks_by_language

    rows = [
        ("movie", 1, "S_HDMV/PGS", "eng", False),
        ("movie", 2, "S_HDMV/PGS", "ENG", False),   # case-insensitive match
        ("movie", 3, "S_HDMV/PGS", "eng", False),
        ("movie", 4, "S_HDMV/PGS", "eng", True),    # forced: no collision
        ("movie", 5, "S_TEXT/UTF8", "eng", False),  # wrong codec: dropped
        ("movie", 6, "S_HDMV/PGS", "fre", False),   # wrong language: dropped
        ("other", 7, "S_HDMV/PGS", "eng", False),   # different source file
        ("movie", 8, "s_hdmv/pgs", "eng", False),   # not decoded: dropped
    ]
    tracks = spark.createDataFrame(
        rows, "source string, track_number long, codec_id string, language string, is_forced boolean"
    )
    got = {
        r["track_number"]: r["output_name"]
        for r in tracks_by_language(tracks, "eng").collect()
    }
    assert got == {
        1: "movie.eng.srt",
        2: "movie.ENG2.srt",
        3: "movie.eng3.srt",
        4: "movie.eng.forced.srt",
        7: "other.eng.srt",
    }


def test_track_fanout_cross_key_alias_parity():
    """Round-2 descope closed: a name whose *language string* aliases
    another track's numbered name must bump through the reference's
    sequential loop (MkvUtilities.cs:24-46), not get its own independent
    window rank.  'en2' after two 'en' tracks: the second 'en' takes
    movie.en2.srt, so the literal-'en2' track collides and lands on
    movie.en22.srt (number=2 inserted before .srt) — and a non-forced
    'en.forced' language aliases a forced 'en' name the same way."""
    import pandas as pd

    from pgstosrt_spark.operators.tracks import _fanout_group

    pdf = pd.DataFrame(
        {
            "source": ["movie"] * 5,
            "track_number": [1, 2, 3, 4, 5],
            "language": ["en", "en", "en2", "en", "en.forced"],
            "is_forced": [False, False, False, True, False],
        }
    )
    got = dict(zip(_fanout_group(pdf)["track_number"], _fanout_group(pdf)["output_name"]))
    assert got == {
        1: "movie.en.srt",
        2: "movie.en2.srt",      # rank-2 'en' takes the en2 name
        3: "movie.en22.srt",     # literal 'en2' aliases it -> bumped to 2
        4: "movie.en.forced.srt",
        5: "movie.en.forced2.srt",  # 'en.forced' aliases the forced name
    }


def test_mkv_tracks_feed_language_fanout(spark):
    """S2 -> S4 interop: track metadata demuxed from a real EBML container
    drives the language fan-out, reproducing the reference's
    GetTracksByLanguage-over-MatroskaFile flow end-to-end."""
    from pgstosrt_spark.fixtures.encoder import build_display_set, build_mkv
    from pgstosrt_spark.operators.tracks import TRACKS_SCHEMA, tracks_by_language
    from pgstosrt_spark.pgs.ebml import mkv_tracks

    ds = build_display_set("X", 0, 0, mkv=True, state=0x80)
    mkv = build_mkv(
        tracks=[
            (1, "V_MPEG4/ISO/AVC", "und", False),
            (2, "S_HDMV/PGS", "eng", False),
            (3, "S_HDMV/PGS", "eng", False),
            (4, "S_HDMV/PGS", "fre", False),
        ],
        packets_by_track={2: [(10, 20, ds)]},
    )
    rows = [
        ("movie", t.number, t.codec_id, t.language, t.forced) for t in mkv_tracks(mkv)
    ]
    got = {
        r["track_number"]: r["output_name"]
        for r in tracks_by_language(
            spark.createDataFrame(rows, TRACKS_SCHEMA), "eng"
        ).collect()
    }
    assert got == {2: "movie.eng.srt", 3: "movie.eng2.srt"}


def test_multimodal_probe(spark):
    from pgstosrt_spark.fixtures.corpus import synthesize_documents

    docs = synthesize_documents(spark, SF_DIR)
    media = media_table(docs.limit(20))
    stats = media_stats(media).collect()
    assert all(r["media_type"] in ("pgs", "pgs-mkv", "mkv") for r in stats)
    probed = probe_media(media).collect()
    pgs_rows = [r for r in probed if r["media_type"] == "pgs"]
    assert pgs_rows and all(r["width"] == 1920 and r["n_units"] >= 1 for r in pgs_rows)
    assert all(r["n_bytes"] > 0 for r in probed)


def test_image_decode_stub_raises():
    from pgstosrt_spark.multimodal import image_decode_kernel

    with pytest.raises(NotImplementedError):
        next(image_decode_kernel(iter([])))


def test_rp_planes_cached_per_worker():
    """VERDICT r3 item 5: the hyperplane matrix is built once per
    (dim, bands, rows) per Python worker and reused across Arrow batches —
    repeated calls return the SAME array object, deterministically equal to
    a fresh derivation, and distinct keys get distinct planes."""
    import numpy as np

    from pgstosrt_spark.functions.similarity import _RP_W_CACHE, _rp_planes

    _RP_W_CACHE.clear()
    a = _rp_planes(64, 16, 8)
    assert _rp_planes(64, 16, 8) is a  # cache hit, not a rebuild
    want = np.stack(
        [np.random.default_rng(1_000_003 + p).uniform(-1.0, 1.0, 64) for p in range(128)]
    )
    assert np.array_equal(a, want)  # deterministic: both join sides agree
    assert _rp_planes(32, 16, 8) is not a and len(_RP_W_CACHE) == 2


def test_lsh_hot_bucket_cap_chains_without_quadratic_blowup(spark):
    """max_bucket: 60 near-identical docs normally produce C(60,2)=1770
    verified pairs; with the cap their buckets chain to O(60) candidates
    while cluster recovery (transitive closure over the verified skeleton)
    still yields the SAME single 60-doc cluster — the hot-bucket analog of
    embedding_near_dup's max_cell."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base + f" tail{i % 2}") for i in range(60)]
    # two distractor docs that must not join the cluster
    rows += [(100, "completely different text about spark shuffles and parquet files"),
             (101, "another unrelated document mentioning catalyst and tungsten plans")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    exhaustive = dd.minhash_lsh_pairs(docs, threshold=0.5)
    capped = dd.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10)
    n_ex = exhaustive.count()
    n_cap = capped.count()
    assert n_ex >= 1770  # all-pairs within the near-identical block
    # chain candidates: <= (bands x 59) distinct edges, far below all-pairs
    assert n_cap < 300, n_cap

    def clusters(pairs):
        got = dd.near_dup_clusters(docs, pairs)
        return {
            r["cluster_id"]
            for r in got.filter(F.col("doc_id") < 100).collect()
        }

    # both pair sets collapse the block into ONE cluster rooted at doc 0
    assert clusters(exhaustive) == {0}
    assert clusters(capped) == {0}
    # distractors stay singletons under the cap
    caps = dd.near_dup_clusters(docs, capped)
    assert {r["cluster_id"] for r in caps.filter(F.col("doc_id") >= 100).collect()} == {100, 101}


def test_recommended_max_bucket_is_noop_below_its_size(spark):
    """VERDICT r4 item 6: the production default RECOMMENDED_MAX_BUCKET
    must be exact (identical pair set) on any corpus whose buckets stay
    under it — the cap only changes behavior where the quadratic term
    bites.  Pinned alongside the capped-path counts in the module
    docstring's table."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base + f" tail{i % 2}") for i in range(60)]
    rows += [(100, "completely different text about spark shuffles and parquet files")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    exact = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    rec = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.minhash_lsh_pairs(
            docs, threshold=0.5, max_bucket=dd.RECOMMENDED_MAX_BUCKET
        ).collect()
    }
    assert rec == exact and len(exact) == 60 * 59 // 2
    # and the tight cap degrades to the documented O(B) chain counts
    n_cap = dd.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=10).count()
    assert n_cap < 300, n_cap


def test_simhash_hot_bucket_cap_chains(spark):
    """max_bucket on simhash_pairs: 40 identical docs produce C(40,2)=780
    hamming-0 pairs exhaustively; capped buckets chain to O(40) while
    cluster recovery still collapses the block into one cluster."""
    rows = [(i, "identical boilerplate page content repeated across mirrors") for i in range(40)]
    rows += [(100, "an entirely different document about watermarked streaming joins")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")

    exhaustive = dd.simhash_pairs(docs, max_hamming=3)
    capped = dd.simhash_pairs(docs, max_hamming=3, max_bucket=8)
    assert exhaustive.count() == 780
    n_cap = capped.count()
    assert n_cap < 160, n_cap  # <= 4 bands x 39 chain edges, deduped
    clusters = dd.near_dup_clusters(docs, capped)
    labels = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert all(labels[i] == 0 for i in range(40))
    assert labels[100] == 100


def test_contamination_check_planted_leak(spark):
    """A doc copying a benchmark doc's text verbatim scores 1.0; an
    unrelated doc scores 0.0; benchmark docs themselves are excluded."""
    from pgstosrt_spark.functions.text import contamination_check

    rows = [
        # doc_id 0 -> benchmark slice (0 % 97 == 0)
        (0, "alpha beta gamma delta epsilon zeta"),
        # verbatim copy of the benchmark doc -> every shingle hits
        (1, "alpha beta gamma delta epsilon zeta"),
        # unrelated -> zero hits
        (2, "one two three four five six seven"),
        # half-overlap: shares the 4-token prefix -> 2 of its shingles hit
        (3, "alpha beta gamma delta mango papaya"),
        # too short for a 3-gram -> excluded entirely
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in contamination_check(df).collect()
    }
    assert set(got) == {1, 2, 3}  # 0 is benchmark, 4 too short
    assert got[1]["contamination"] == 1.0
    assert got[2]["contamination"] == 0.0
    assert got[3]["n_shingles"] == 4 and got[3]["n_hits"] == 2
    assert got[3]["contamination"] == 0.5


def test_pack_sequences_budget_semantics(spark):
    """Greedy concat-and-cut: a pack closes once the running total
    crosses the budget; the crossing doc stays; oversized docs get a
    pack alone; shards (sources) pack independently."""
    from pgstosrt_spark.functions.text import pack_sequences

    mk = lambda n: " ".join(f"w{i}" for i in range(n))
    rows = [
        ("a", 1, mk(100)),
        ("a", 2, mk(100)),
        ("a", 3, mk(100)),   # prefix 200 < 256 -> still pack 0 (crosses)
        ("a", 4, mk(10)),    # prefix 300 -> pack 1
        ("a", 5, mk(900)),   # oversized -> its own pack (prefix 310 -> 1?)
        ("b", 6, mk(50)),    # new shard -> pack 0
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {r["doc_id"]: r["pack_id"] for r in pack_sequences(df, budget=256).collect()}
    assert got[1] == 0 and got[2] == 0 and got[3] == 0
    assert got[4] == 1
    # doc 5: exclusive prefix 310 -> floor(310/256) = 1; it shares pack 1's
    # id but the NEXT doc would land at floor(1210/256)=4 -- oversized docs
    # push the counter forward, never merge into a later pack
    assert got[5] == 1
    assert got[6] == 0  # shard b restarts


def test_pii_scrub_masks_planted_pii(spark):
    """Planted emails/phones are masked and counted; clean docs pass
    through with zero counts and an unchanged-text fingerprint."""
    import hashlib

    from pgstosrt_spark.functions.text import pii_scrub

    rows = [
        (1, "contact bob.smith+x@example.co.uk or 555-123-4567 today"),
        (2, "no pii here at all"),
        (3, "two mails a@b.io c@d.org and 800-555-0199 911-2222-0000"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert got[1]["n_emails"] == 1 and got[1]["n_phones"] == 1
    assert got[2]["n_emails"] == 0 and got[2]["n_phones"] == 0
    expect_clean = hashlib.md5(b"no pii here at all").hexdigest()
    assert got[2]["masked_fp"] == expect_clean
    assert got[3]["n_emails"] == 2 and got[3]["n_phones"] == 2
    expect_masked = hashlib.md5(
        b"contact <EMAIL> or <PHONE> today"
    ).hexdigest()
    assert got[1]["masked_fp"] == expect_masked


def test_dataset_manifest_exact_partials(spark):
    """Manifest totals are exact sums; the mean quality is the decimal
    sum divided once (order-independent)."""
    from pgstosrt_spark.functions.text import dataset_manifest

    rows = [
        ("a", 1, "the quick brown fox. " * 5),   # 105 chars, quality 1.0
        ("a", 2, "x" * 6000),                     # too long, no stopwords
        ("b", 3, "short"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    got = {r["source"]: r for r in dataset_manifest(df).collect()}
    assert got["a"]["n_docs"] == 2 and got["b"]["n_docs"] == 1
    assert got["a"]["total_chars"] == 105 + 6000
    assert got["a"]["total_tokens"] == 20 + 1
    assert 0.0 <= got["a"]["avg_quality"] <= 1.0


def test_pack_sequences_property_matches_python_fold(spark):
    """Property: for random token counts, pack assignment equals the
    reference Python concat-and-cut fold, per shard, for several
    budgets (the window formulation must BE the sequential semantics)."""
    import random

    rng = random.Random(20260818)
    rows = []
    did = 0
    for src in ("a", "b", "c"):
        for _ in range(rng.randint(5, 40)):
            did += 1
            rows.append((src, did, " ".join(f"t{j}" for j in range(rng.randint(0, 300)))))
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")

    from pgstosrt_spark.functions.text import pack_sequences

    for budget in (64, 256, 1024):
        got = {
            r["doc_id"]: (r["pack_id"], r["n_tokens"])
            for r in pack_sequences(df, budget=budget).collect()
        }
        # reference fold: exclusive prefix sum per source in doc_id order
        by_src = {}
        for src, d, text in sorted(rows, key=lambda x: (x[0], x[1])):
            n = len([t for t in text.split() if t])
            prefix = by_src.get(src, 0)
            assert got[d] == (prefix // budget, n), (budget, d)
            by_src[src] = prefix + n
        # pack ids are nondecreasing within each shard's doc order
        last = {}
        for src, d, _ in sorted(rows, key=lambda x: (x[0], x[1])):
            assert got[d][0] >= last.get(src, 0)
            last[src] = got[d][0]


def test_contamination_check_matches_python_reference(spark):
    """Property: contamination ratios equal a direct Python set-overlap
    computation on random word soup (including docs that straddle the
    benchmark modulus)."""
    import random
    import re

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40))))
        for i in range(0, 300)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    from pgstosrt_spark.functions.text import contamination_check

    got = {r["doc_id"]: r for r in contamination_check(df, modulus=7).collect()}

    def shingles(text):
        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    bench = set()
    for i, t in rows:
        if i % 7 == 0:
            bench |= shingles(t)
    for i, t in rows:
        sh = shingles(t)
        if i % 7 == 0 or not sh:
            assert i not in got
            continue
        hits = len(sh & bench)
        assert got[i]["n_shingles"] == len(sh)
        assert got[i]["n_hits"] == hits
        assert abs(got[i]["contamination"] - round(hits / len(sh), 6)) < 1e-12


def test_funnel_conversion_order_strictness(spark):
    """A click BEFORE the first view must not count; a purchase before
    the qualifying click must not count; the earliest-qualifying rule
    picks the first valid chain."""
    from datetime import datetime as dt

    from pgstosrt_spark.operators.relational import funnel_conversion

    t = lambda s: dt(2024, 1, 1, 0, 0, s)  # noqa: E731
    rows = [
        # u1: full ordered chain
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2: click precedes view -> stalls at view
        (2, t(2), "view"), (2, t(1), "click"),
        # u3: purchase precedes click -> stalls at click
        (3, t(1), "view"), (3, t(2), "click"), (3, t(1), "purchase"),
        # u4: no view at all -> reaches nothing
        (4, t(1), "click"), (4, t(2), "purchase"),
    ]
    import pandas as pd
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_type"])
    pdf["value"] = 0.0; pdf["event_id"] = range(len(pdf)); pdf["props"] = "{}"
    df = spark.createDataFrame(pdf)
    import tempfile
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = funnel_conversion(spark, d).collect()[0]
    assert got["n_users"] == 4
    assert got["reached_view"] == 3       # u1, u2, u3
    assert got["reached_click"] == 2      # u1, u3 (u2's click too early)
    assert got["reached_purchase"] == 1   # u1 only
