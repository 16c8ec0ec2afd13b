"""LLM-pipeline operators: sketch recall vs exact baselines, multimodal
plumbing batch shape."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from doin_fine_ance__spark.llm.ann import ann_topk_lsh, hyperplane_buckets
from doin_fine_ance__spark.llm.dedup import (
    minhash_near_dups,
    minhash_signatures,
    simhash64,
    simhash_near_dups,
)
from doin_fine_ance__spark.llm.multimodal import MEDIA_SCHEMA, extract_media_features
from doin_fine_ance__spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


def _docs_with_dups(spark):
    """Testdata documents + engineered near-duplicates."""
    base = load_table(spark, SF, "documents", ["doc_id", "text"]).limit(50)
    dups = base.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        # near-identical: append two tokens
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    exact = base.limit(5).select((F.col("doc_id") + 200000).alias("doc_id"), "text")
    return base.unionByName(dups).unionByName(exact)


def test_minhash_signature_deterministic(spark):
    d = load_table(spark, SF, "documents", ["doc_id", "text"]).limit(10)
    s1 = {r.doc_id: r.signature for r in minhash_signatures(d).collect()}
    s2 = {r.doc_id: r.signature for r in minhash_signatures(d).collect()}
    assert s1 == s2
    assert all(len(sig) == 64 for sig in s1.values())


@pytest.mark.parametrize("k,bands", [(64, 16), (32, 5)])
def test_fused_band_keys_equal_stored_signature_banding(spark, k, bands):
    """minhash_band_keys (the fused banding _verified_pairs and
    verified_forest_edges use) must emit exactly the bytes of
    band_keys over stored minhash_signatures (incremental dedup's
    path), including a shape where k % bands != 0. Both run the same
    band-hash kernel, so both are also checked against a reference
    computed here with hashlib over the collected signature rows."""
    import hashlib

    from doin_fine_ance__spark.llm.dedup import band_keys, minhash_band_keys

    extra = spark.createDataFrame(
        [(900001, ""), (900002, "   "), (900003, None), (900004, "abc"),
         (900005, "Ünïcode  TEXT\twith\nbreaks")],
        "doc_id long, text string",
    )
    base = load_table(spark, SF, "documents", ["doc_id", "text"]).orderBy("doc_id").limit(40)
    docs = base.unionByName(extra)
    fused = {tuple(r) for r in minhash_band_keys(docs, k=k, bands=bands).collect()}
    stored = {
        tuple(r)
        for r in band_keys(minhash_signatures(docs, k=k), bands=bands).collect()
    }
    assert fused == stored
    assert len(fused) == 45 * bands
    r = k // bands
    reference = {
        (row.doc_id, bi, hashlib.md5(band.encode()).hexdigest())
        for row in minhash_signatures(docs, k=k).collect()
        for bi in range(bands)
        for band in ["|".join(row.signature[bi * r : (bi + 1) * r])]
    }
    assert fused == reference


def test_band_keys_plan_runs_no_job(spark):
    """Building band_keys over a stored signature table schedules no
    Spark job: r comes from each row inside the banding stage, not
    from a probe of the first signature at plan-construction time."""
    from doin_fine_ance__spark.llm.dedup import band_keys

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("band_keys_plan", "build band_keys", False)
    try:
        band_keys(minhash_signatures(docs))
        jobs = len(sc.statusTracker().getJobIdsForGroup("band_keys_plan"))
    finally:
        sc.setJobGroup(None, None, False)
    assert jobs == 0


def test_simhash_near_dups_refuses_unrecallable_max_hamming(spark):
    """Four 16-bit chunks guarantee recall only for Hamming <= 3; a
    wider max_hamming raises instead of silently dropping pairs."""
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="max_hamming <= 3"):
        simhash_near_dups(docs, max_hamming=4)


def test_minhash_lsh_finds_planted_dups(spark):
    docs = _docs_with_dups(spark)
    pairs = minhash_near_dups(docs, threshold=0.7).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # exact copies must always collide (identical signatures)
    for i in [r.doc_id for r in docs.filter("doc_id >= 200000").collect()]:
        assert (i - 200000, i) in found, f"exact dup {i} missed"
    # near-identical docs should mostly be found
    near_found = sum(1 for (a, b) in found if b >= 100000 and b < 200000 and a == b - 100000)
    assert near_found >= 8  # ≥80% recall on Jaccard≈0.9+ pairs
    # verification stage: every reported pair really has Jaccard ≥ 0.7
    assert all(r.jaccard >= 0.7 for r in pairs)


def test_minhash_no_false_positives_vs_exact(spark):
    docs = _docs_with_dups(spark)
    pairs = minhash_near_dups(docs, threshold=0.7)
    # recompute exact jaccard independently for each reported pair
    toks = docs.select(
        "doc_id",
        F.array_distinct(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
        ).alias("t"),
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("t").alias("ta"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("ta", "tb"))
    union = F.size("ta") + F.size("tb") - inter
    bad = joined.filter((inter.cast("double") / union) < 0.7).count()
    assert bad == 0


@pytest.mark.parametrize(
    "n_base",
    [pytest.param(12, id="reduced"), pytest.param(40, id="full", marks=pytest.mark.slow)],
)
def test_star_edges_components_equal_full_pair_graph(spark, n_base):
    """The star-edge output mode's connected components (and min
    labels) must equal clustering the FULL verified pair graph — the
    invariance exact_collapse is built on. The reduced corpus keeps
    the guard in the default profile."""
    from doin_fine_ance__spark.llm.dedup import minhash_near_dup_star_edges
    from doin_fine_ance__spark.operators.graph import dedup_keepers

    base = load_table(spark, SF, "documents", ["doc_id", "text"]).limit(n_base)
    # replica clique: 6 exact copies of one doc (quadratic in full mode)
    first = base.orderBy("doc_id").first()
    clique = spark.createDataFrame(
        [(300001 + i, first.text) for i in range(6)], "doc_id long, text string"
    )
    near = base.limit(8).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    docs = base.unionByName(clique).unionByName(near)
    full = {
        (r.doc_id, r.keeper_id)
        for r in dedup_keepers(
            minhash_near_dups(docs, threshold=0.5).select("id_a", "id_b")
        ).collect()
    }
    star_edges = minhash_near_dup_star_edges(docs, threshold=0.5)
    star = {
        (r.doc_id, r.keeper_id)
        for r in dedup_keepers(star_edges.select("id_a", "id_b")).collect()
    }
    assert star == full and len(full) > 0
    # linearity: the 7-member exact group (original + 6 copies) emits
    # exactly 6 rep→member star edges, never the 21 pairwise edges of
    # full mode
    clique_ids = {300001 + i for i in range(6)} | {first.doc_id}
    rep = min(clique_ids)
    star_rows = {
        (r.id_a, r.id_b)
        for r in star_edges.collect()
        if r.id_a in clique_ids and r.id_b in clique_ids
    }
    assert star_rows == {(rep, m) for m in clique_ids if m != rep}


def test_verified_forest_components_equal_full_graph(spark):
    """Per-bucket verified spanning forests must yield the SAME
    connected components as the full verified pair graph, with fewer
    emitted edges on near-dup cliques (the sf10 scale contract).

    The clique here is NEAR-duplicates with distinct texts (one token
    appended per copy) — the case exact_collapse cannot collapse, i.e.
    the exact shape that made the r11 sf10 pair graph quadratic."""
    from doin_fine_ance__spark.llm.dedup import verified_forest_edges
    from doin_fine_ance__spark.operators.graph import dedup_keepers

    base = load_table(spark, SF, "documents", ["doc_id", "text"]).limit(30)
    first = base.orderBy("doc_id").first()
    clique = spark.createDataFrame(
        [(400001 + i, f"{first.text} v{i}") for i in range(9)],
        "doc_id long, text string",
    )
    docs = base.unionByName(clique)
    full_pairs = minhash_near_dups(docs, threshold=0.5).select("id_a", "id_b")
    full = {
        (r.doc_id, r.keeper_id) for r in dedup_keepers(full_pairs).collect()
    }
    forest = verified_forest_edges(docs, threshold=0.5)
    got = {
        (r.doc_id, r.keeper_id)
        for r in dedup_keepers(forest.select("id_a", "id_b")).collect()
    }
    assert got == full and len(full) > 0
    # linearity on the clique: the 10-member near-dup clique (original
    # + 9 variants) appears in full mode as ~45 pairwise edges; each
    # bucket's forest emits ≤ bucket_size - 1, so the distinct union
    # is bounded by bands × (members - 1) but in practice lands far
    # below the quadratic pair count (measured 15 vs 45 here)
    clique_ids = {400001 + i for i in range(9)} | {first.doc_id}
    full_clique_edges = {
        (r.id_a, r.id_b)
        for r in full_pairs.collect()
        if r.id_a in clique_ids and r.id_b in clique_ids
    }
    forest_clique_edges = {
        (r.id_a, r.id_b)
        for r in forest.collect()
        if r.id_a in clique_ids and r.id_b in clique_ids
    }
    assert len(full_clique_edges) > 2 * (len(clique_ids) - 1)
    assert len(forest_clique_edges) < len(full_clique_edges)


def test_exact_collapse_order_sensitive_and_empty_docs(spark):
    """Collapse keys by NORMALIZED TEXT, not token set: same tokens in
    a different order have different shingles (different LSH behavior)
    and must not be merged. Empty/whitespace-only docs group together
    but emit NO star edges (their pairwise Jaccard is 0/0 = NULL in
    the full graph)."""
    from doin_fine_ance__spark.llm.dedup import (
        exact_collapse,
        minhash_near_dup_star_edges,
    )

    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha  beta gamma\tdelta"),  # same normalized text as 1
        (3, "delta gamma beta alpha"),  # same token SET, different order
        (10, ""),
        (11, "   "),
        (12, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    membership, reps = exact_collapse(docs)
    m = {r.doc_id: (r.rep_id, r.grp_size) for r in membership.collect()}
    assert m[1] == (1, 2) and m[2] == (1, 2)  # whitespace-normalized merge
    assert m[3] == (3, 1)  # order-different doc stays its own group
    rep_ids = {r.doc_id for r in reps.collect()}
    assert 1 in rep_ids and 2 not in rep_ids and 3 in rep_ids
    edges = minhash_near_dup_star_edges(docs, threshold=0.5).collect()
    ids_in_edges = {r.id_a for r in edges} | {r.id_b for r in edges}
    # empty-ish docs never appear (full pair graph has NULL jaccard)
    assert ids_in_edges.isdisjoint({10, 11, 12})
    # the exact pair (1,2) appears as a star edge at jaccard 1.0
    assert any(r.id_a == 1 and r.id_b == 2 and r.jaccard == 1.0 for r in edges)


def test_simhash_hamming_properties(spark):
    docs = _docs_with_dups(spark)
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_near_dups(docs, max_hamming=3).collect()}
    # the planted exact copies (orig, orig+200000) have identical simhash
    exact_origs = [r.doc_id for r in docs.filter("doc_id >= 200000").collect()]
    for copy_id in exact_origs:
        assert pairs.get((copy_id - 200000, copy_id)) == 0, f"exact pair {copy_id} missed"
    sigs = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    # deterministic
    sigs2 = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    assert sigs == sigs2


def test_ann_lsh_recall_on_near_neighbors(spark):
    """LSH's contract: HIGH-similarity neighbors collide w.h.p.

    Random testdata embeddings are weakly similar (cosine ≈ 0.3), where
    hyperplane LSH legitimately has low recall — so plant near-duplicate
    vectors (cosine ≈ 0.999) and require those to be found.
    """
    e = load_table(spark, SF, "embeddings")
    qvec = [float(x) for x in e.filter("vec_id = 0").select("embedding").first()[0]]
    dim = len(qvec)
    planted = spark.createDataFrame(
        [
            (900000 + i, [v * (1.0 + 0.001 * ((i + j) % 3)) for j, v in enumerate(qvec)], 99)
            for i in range(5)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = e.filter("vec_id != 0").unionByName(planted)
    approx = [
        r.vec_id
        for r in ann_topk_lsh(corpus, qvec, k=10, n_planes=6, multiprobe=3).collect()
    ]
    found_planted = sum(1 for v in approx if v >= 900000)
    assert found_planted >= 4  # ≥80% of true near-neighbors retrieved
    # and the index actually partitions the corpus (no degenerate bucket)
    buckets = hyperplane_buckets(corpus, dim=dim, n_planes=6)
    biggest = buckets.groupBy("bucket").count().agg(F.max("count")).first()[0]
    assert biggest < corpus.count() / 2


def test_ann_ivf_recall_on_near_neighbors(spark):
    """IVF's contract: near-identical vectors land in the query's probed
    cells (they're near the query, so they share its nearest centroid).
    """
    from doin_fine_ance__spark.llm.ann import ann_topk_ivf, ivf_assign

    e = load_table(spark, SF, "embeddings")
    qvec = [float(x) for x in e.filter("vec_id = 0").select("embedding").first()[0]]
    planted = spark.createDataFrame(
        [
            (900000 + i, [v * (1.0 + 0.001 * ((i + j) % 3)) for j, v in enumerate(qvec)], 99)
            for i in range(5)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = e.filter("vec_id != 0").unionByName(planted)
    approx = [
        r.vec_id
        for r in ann_topk_ivf(corpus, qvec, k=10, n_centroids=8, nprobe=3).collect()
    ]
    found_planted = sum(1 for v in approx if v >= 900000)
    assert found_planted >= 4
    # the inverted lists actually partition the corpus
    centroids = [
        [float(x) for x in r.embedding]
        for r in corpus.orderBy("vec_id").limit(8).collect()
    ]
    assigned = ivf_assign(corpus, centroids)
    biggest = assigned.groupBy("list_id").count().agg(F.max("count")).first()[0]
    assert biggest < corpus.count()  # more than one non-empty cell
    # assignment is deterministic
    a1 = {r.vec_id: r.list_id for r in assigned.collect()}
    a2 = {r.vec_id: r.list_id for r in ivf_assign(corpus, centroids).collect()}
    assert a1 == a2


def test_multimodal_plumbing_batch_shape(spark):
    import numpy as np

    from doin_fine_ance__spark.llm.jpeg import encode_jpeg

    jpg1 = encode_jpeg(np.full((64, 64, 3), 40, np.uint8))
    jpg2 = encode_jpeg(np.full((32, 32, 3), 90, np.uint8))
    rows = [
        (1, "image", "image/jpeg", 64, 64, None, jpg1),
        (2, "image", "image/jpeg", 32, 32, None, jpg2),
        (3, "audio", "audio/wav", None, None, 4000, b"RIFF fake audio"),
        (4, "video", "video/mp4", 640, 480, 120000, b"\x00\x00ftyp fake video"),
        (5, "image", "image/jpeg", 8, 8, None, None),  # NULL payload
    ]
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = extract_media_features(media)
    out = {r.media_id: r for r in feats.collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].content_sha != out[2].content_sha
    assert out[5].n_bytes == 0  # NULL payload handled
    # deterministic features (pure function of content)
    again = {r.media_id: r for r in extract_media_features(media).collect()}
    assert all(out[i].feat_0 == again[i].feat_0 for i in out)
    # unregistered mimes declare themselves loudly at execution
    from doin_fine_ance__spark.llm.multimodal import resize_images

    # bmp/png/jpeg all HAVE real stdlib codecs now; video/mp4 is the
    # registry's designed genuinely-absent-format contract
    contract = spark.createDataFrame([rows[0], rows[3]], schema=MEDIA_SCHEMA)
    with pytest.raises(Exception, match="no decoder registered.*video/mp4"):
        resize_images(contract, 32, 32).collect()


def test_bmp_codec_round_trip():
    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import decode_bmp, encode_bmp

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 3, 3), dtype=np.uint8)  # odd width → row padding
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_resize_images_end_to_end_bmp(spark):
    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import (
        decode_bmp,
        encode_bmp,
        resize_images,
    )

    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, size=(16, 12, 3), dtype=np.uint8) for i in (1, 2)}
    media = spark.createDataFrame(
        [(i, "image", "image/bmp", 12, 16, None, encode_bmp(a)) for i, a in imgs.items()],
        schema=MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in resize_images(media, 6, 4).collect()}
    assert set(out) == {1, 2}
    for i, r in out.items():
        assert (r.width, r.height) == (6, 4)
        arr = decode_bmp(bytes(r.content))
        assert arr.shape == (4, 6, 3)
        # nearest-neighbor: every output pixel exists in the source
        src = imgs[i].reshape(-1, 3)
        assert all(any((src == px).all(axis=1)) for px in arr.reshape(-1, 3))


def test_sample_video_frames_end_to_end(spark):
    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import (
        decode_bmp,
        encode_raw_bmp_video,
        sample_video_frames,
    )

    # 6 solid-color 4x4 frames at 100ms each; sample every 200ms → 0,2,4
    frames = [np.full((4, 4, 3), 40 * i, dtype=np.uint8) for i in range(6)]
    video = encode_raw_bmp_video(frames, frame_ms=100)
    media = spark.createDataFrame(
        [(9, "video", "video/x-raw-bmp", 4, 4, 600, video)], schema=MEDIA_SCHEMA
    )
    out = sorted(sample_video_frames(media, every_ms=200).collect(), key=lambda r: r.media_id)
    assert [r.media_id for r in out] == [9_000_000, 9_000_002, 9_000_004]
    assert all(r.media_type == "image" and r.mime == "image/bmp" for r in out)
    sampled = [decode_bmp(bytes(r.content)) for r in out]
    assert [int(a[0, 0, 0]) for a in sampled] == [0, 80, 160]


def test_mjpeg_avi_round_trip_exact():
    """AVI mux → demux returns the per-frame JPEG payloads verbatim
    (byte-identical to direct encode_jpeg output), the exact integral
    frame duration, and the image/jpeg frame mime; uniform frames
    survive the lossy codec bit-exactly (DC-only analysis,
    test_uniform_images_decode_exactly)."""
    import numpy as np

    from doin_fine_ance__spark.llm.jpeg import decode_jpeg, encode_jpeg
    from doin_fine_ance__spark.llm.multimodal import (
        decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    values = [17, 130, 255, 64, 3]
    frames = [np.full((16, 16, 3), v, dtype=np.uint8) for v in values]
    avi = encode_mjpeg_avi(frames, frame_ms=40)
    frame_ms, payloads, mime = decode_mjpeg_avi(avi)
    assert (frame_ms, mime, len(payloads)) == (40, "image/jpeg", 5)
    for p, f, v in zip(payloads, frames, values):
        assert p == encode_jpeg(f, quality=85, subsampling="420")
        assert int(decode_jpeg(p)[8, 8, 0]) == v


def test_mjpeg_avi_bit_stable_and_odd_alignment():
    """Same frames + params → identical container bytes (encode is a
    pure function — engine-reproducible payload columns), and odd-length
    JPEG chunks are word-padded per the RIFF spec without corrupting
    the following chunk."""
    import numpy as np

    from doin_fine_ance__spark.llm.jpeg import decode_jpeg
    from doin_fine_ance__spark.llm.multimodal import (
        decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    rng = np.random.default_rng(7)
    frames = [
        rng.integers(0, 256, (24, 24, 3)).astype(np.uint8) for _ in range(6)
    ]
    avi = encode_mjpeg_avi(frames, frame_ms=33)
    assert avi == encode_mjpeg_avi(frames, frame_ms=33)
    _, payloads, _ = decode_mjpeg_avi(avi)
    assert len(payloads) == 6
    # the alignment path is only exercised if some payload IS odd-length
    assert any(len(p) % 2 for p in payloads)
    for p in payloads:
        decode_jpeg(p)  # every demuxed frame parses


def test_mjpeg_avi_rejects_foreign_payloads():
    import re

    import numpy as np
    import pytest

    from doin_fine_ance__spark.llm.multimodal import (
        decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    with pytest.raises(ValueError, match="not a RIFF/AVI"):
        decode_mjpeg_avi(b"\x89PNG\r\n\x1a\n junk")
    frames = [np.full((16, 16, 3), 9, dtype=np.uint8)]
    avi = encode_mjpeg_avi(frames, frame_ms=40)
    # uncompressed-DIB AVI must reject loudly, not mis-decode as JPEG:
    # patch BOTH 'MJPG' sites (strh fccHandler + strf biCompression)
    patched = avi.replace(b"MJPG", b"DIB ")
    with pytest.raises(ValueError, match=re.escape("not MJPG")):
        decode_mjpeg_avi(patched)
    # audio-only AVI (no 'vids' stream header)
    with pytest.raises(ValueError, match="no video"):
        decode_mjpeg_avi(avi.replace(b"vids", b"auds"))
    # mixed frame shapes must reject loudly, not mux a container whose
    # avih/strf dimensions disagree with the embedded frames (r11 ADVICE)
    mixed = [
        np.full((16, 16, 3), 9, dtype=np.uint8),
        np.full((16, 24, 3), 9, dtype=np.uint8),
    ]
    with pytest.raises(ValueError, match="share one shape"):
        encode_mjpeg_avi(mixed, frame_ms=40)


def test_mjpeg_avi_tolerates_junk_chunks():
    """Real muxers emit JUNK padding chunks; the demuxer walks the RIFF
    tree rather than assuming fixed header offsets."""
    import struct

    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import (
        decode_mjpeg_avi,
        encode_mjpeg_avi,
    )

    frames = [np.full((16, 16, 3), v, dtype=np.uint8) for v in (5, 250)]
    avi = encode_mjpeg_avi(frames, frame_ms=40)
    junk = b"JUNK" + struct.pack("<I", 6) + b"\x00" * 6
    payload = b"AVI " + junk + avi[12:]
    jittered = b"RIFF" + struct.pack("<I", len(payload)) + payload
    frame_ms, payloads, mime = decode_mjpeg_avi(jittered)
    assert (frame_ms, len(payloads), mime) == (40, 2, "image/jpeg")
    assert payloads == decode_mjpeg_avi(avi)[1]


def test_sample_video_frames_mjpeg_end_to_end(spark):
    """The compressed-video twin of the raw-BMP sampling test: MJPEG
    media rows → frame sampling → image/jpeg frame rows whose decoded
    pixels match the synthesized values exactly."""
    import numpy as np

    from doin_fine_ance__spark.llm.jpeg import decode_jpeg
    from doin_fine_ance__spark.llm.multimodal import (
        encode_mjpeg_avi,
        sample_video_frames,
    )

    # 6 uniform 16x16 frames at 100ms each; sample every 200ms → 0,2,4
    frames = [np.full((16, 16, 3), 40 * i, dtype=np.uint8) for i in range(6)]
    video = encode_mjpeg_avi(frames, frame_ms=100)
    media = spark.createDataFrame(
        [(9, "video", "video/x-msvideo", 16, 16, 600, video)],
        schema=MEDIA_SCHEMA,
    )
    out = sorted(
        sample_video_frames(media, every_ms=200).collect(),
        key=lambda r: r.media_id,
    )
    assert [r.media_id for r in out] == [9_000_000, 9_000_002, 9_000_004]
    assert all(r.media_type == "image" and r.mime == "image/jpeg" for r in out)
    sampled = [decode_jpeg(bytes(r.content)) for r in out]
    assert [int(a[8, 8, 0]) for a in sampled] == [0, 80, 160]


@pytest.mark.slow
def test_dup_cluster_path_skew_safe_on_shared_prefix(spark):
    """1k docs sharing a 16-char prefix must NOT collapse into one
    quadratic block: the clustering edge set comes from MinHash bands
    (global similarity), not text-prefix blocking. Candidate pairs stay
    ~linear and only the planted near-dup pair survives verification."""
    import hashlib

    from doin_fine_ance__spark.llm.dedup import (
        lsh_candidate_pairs,
        minhash_near_dups,
        minhash_signatures,
    )

    prefix = "BOILERPLATE HDR "  # exactly 16 chars, shared by every doc
    def body(i):
        return " ".join(hashlib.md5(f"{i}:{j}".encode()).hexdigest() for j in range(25))

    rows = [(i, prefix + body(i)) for i in range(1000)]
    rows.append((5000, prefix + body(7) + " x"))  # planted near-dup of doc 7
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    cands = lsh_candidate_pairs(minhash_signatures(docs))
    n_cands = cands.count()
    # a prefix-blocked scheme would generate 1001*1000/2 ≈ 500k pairs
    assert n_cands < 5000, f"candidate explosion: {n_cands} pairs"

    pairs = {(r.id_a, r.id_b) for r in minhash_near_dups(docs, threshold=0.5).collect()}
    assert pairs == {(7, 5000)}


def test_incremental_near_dups_matches_only_new(spark, tmp_path):
    """Signature store: batch2 reports new-vs-old and new-vs-new pairs,
    never re-reports old-vs-old; store accumulates signatures."""
    from doin_fine_ance__spark.llm.dedup import incremental_near_dups

    store = str(tmp_path / "sigstore")
    base = "the quick brown fox jumps over the lazy dog " * 8

    batch1 = spark.createDataFrame(
        [(1, base), (2, base + "tail one"), (50, "completely different words here " * 6)],
        "doc_id long, text string",
    )
    p1 = incremental_near_dups(spark, batch1, store).collect()
    pairs1 = {(r.id_a, r.id_b) for r in p1}
    assert (1, 2) in pairs1  # near-dups within the first batch

    batch2 = spark.createDataFrame(
        [(100, base + "tail two"), (101, "other unrelated content " * 6)],
        "doc_id long, text string",
    )
    p2 = incremental_near_dups(spark, batch2, store).collect()
    pairs2 = {(r.id_a, r.id_b) for r in p2}
    # new doc matches the stored near-identical docs...
    assert (1, 100) in pairs2 and (2, 100) in pairs2
    # ...but the old-vs-old pair is NOT re-reported
    assert (1, 2) not in pairs2
    # store now holds all five signatures
    assert spark.read.parquet(store).count() == 5


def test_incremental_near_dups_nonmonotone_ids(spark, tmp_path):
    """A new doc with a LOWER id than its stored near-dup must still
    pair (regression: the old left_semi-on-id_b filter silently dropped
    (new_low, old_high) pairs when batch ids weren't monotone)."""
    from doin_fine_ance__spark.llm.dedup import incremental_near_dups

    store = str(tmp_path / "sigstore")
    base = "pack my box with five dozen liquor jugs again and again " * 8

    batch1 = spark.createDataFrame([(10, base)], "doc_id long, text string")
    assert incremental_near_dups(spark, batch1, store).collect() == []

    batch2 = spark.createDataFrame([(3, base + "tiny tail")], "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in incremental_near_dups(spark, batch2, store).collect()}
    assert (3, 10) in pairs


def test_incremental_candidates_never_self_join_store(spark, tmp_path):
    """Scale contract: the candidate plan scans the signature store
    exactly once (banded-new × banded-all with broadcast bucket
    pruning) — a store×store self-join would scan it twice and make
    per-batch cost grow with the corpus instead of the batch."""
    from doin_fine_ance__spark.llm.dedup import (
        incremental_candidate_pairs,
        minhash_signatures,
    )

    import hashlib

    def words(i):
        return " ".join(
            hashlib.md5(f"{i}:{j}".encode()).hexdigest() for j in range(30)
        )

    store = str(tmp_path / "sigstore")
    docs = spark.createDataFrame(
        [(i, words(i)) for i in range(20)], "doc_id long, text string"
    )
    minhash_signatures(docs).write.parquet(store)
    old_sigs = spark.read.parquet(store)

    new_docs = spark.createDataFrame(
        [(1000, words(7))], "doc_id long, text string"
    )
    new_sigs = minhash_signatures(new_docs)
    cands = incremental_candidate_pairs(new_sigs, old_sigs.unionByName(new_sigs))

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cands.explain(mode="simple")  # one line per physical node
    plan = buf.getvalue()
    assert plan.count("Scan parquet") == 1, plan
    assert "LeftSemi" in plan, plan
    # and the candidates themselves are correct
    assert {(r.id_a, r.id_b) for r in cands.collect()} == {(7, 1000)}


def test_kmeans_fit_improves_and_is_deterministic(spark):
    """Distributed Lloyd's: inertia (sum of 1-cosine to own centroid)
    must not increase with iterations, the fit must be identical across
    runs, and refined centroids must still back a working IVF probe."""
    import numpy as np

    from doin_fine_ance__spark.llm.ann import ann_topk_ivf, ivf_assign, kmeans_fit

    e = load_table(spark, SF, "embeddings")
    # quantize so partial sums are exact integers (deterministic fit)
    q = e.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1000)
        ).alias("embedding"),
    )

    def inertia(centroids):
        C = np.asarray(centroids)
        Cn = C / np.maximum(np.sqrt((C * C).sum(axis=1))[:, None], 1e-12)
        rows = ivf_assign(q, centroids).collect()
        total = 0.0
        for r in rows:
            v = np.asarray(r["embedding"], dtype=np.float64)
            vn = v / max(np.sqrt((v * v).sum()), 1e-12)
            total += 1.0 - float(vn @ Cn[r["list_id"]])
        return total

    c1 = kmeans_fit(q, k=8, iters=1)
    c3 = kmeans_fit(q, k=8, iters=3)
    assert inertia(c3) <= inertia(c1) + 1e-9
    assert c3 == kmeans_fit(q, k=8, iters=3)  # deterministic
    qvec = [float(x) for x in q.filter("vec_id = 0").first()["embedding"]]
    got = ann_topk_ivf(
        q.filter("vec_id != 0"), qvec, k=5, n_centroids=8, nprobe=3, kmeans_iters=2
    ).collect()
    assert len(got) == 5


def test_wav_codec_roundtrip_and_chunk_walk():
    """PCM16 round-trip is bit-exact; decoder walks unknown chunks."""
    import struct

    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import decode_wav, encode_wav

    t = np.arange(1600)
    sine = (10_000 * np.sin(2 * np.pi * 440 * t / 16_000)).astype(np.int16)
    rate, back = decode_wav(encode_wav(sine, 16_000))
    assert rate == 16_000
    assert np.array_equal(back, sine)

    # inject a LIST chunk between fmt and data (real encoders do this)
    raw = encode_wav(sine, 16_000)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    padded = raw[:fmt_end] + extra + raw[fmt_end:]
    rate2, back2 = decode_wav(padded)
    assert rate2 == 16_000 and np.array_equal(back2, sine)


def test_wav_decoder_rejects_unsupported_variants():
    import struct

    import numpy as np
    import pytest

    from doin_fine_ance__spark.llm.multimodal import decode_wav, encode_wav

    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"not audio at all")
    # stereo: flip the channel count in the fmt chunk
    raw = bytearray(encode_wav(np.zeros(4, dtype=np.int16), 8000))
    struct.pack_into("<H", raw, 12 + 8 + 2, 2)
    with pytest.raises(ValueError, match="ch=2"):
        decode_wav(bytes(raw))


def test_extract_audio_features_known_signal(spark):
    """Features of a hand-checkable square wave: rms == amplitude,
    peak == amplitude, one crossing per half-period."""
    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import (
        encode_wav,
        extract_audio_features,
    )

    amp, n = 1000, 800
    square = np.where(np.arange(n) // 100 % 2 == 0, amp, -amp).astype(np.int16)
    media = spark.createDataFrame(
        [(1, "audio/wav", bytearray(encode_wav(square, 8000)))],
        "media_id long, mime string, content binary",
    )
    r = extract_audio_features(media).collect()[0]
    assert r.sample_rate == 8000
    assert r.n_samples == n
    assert r.duration_ms == n * 1000 // 8000
    assert r.rms == float(amp)
    assert r.peak == amp
    assert r.zero_crossings == n // 100 - 1


def test_extract_audio_features_unknown_mime_raises(spark):
    import pytest

    from doin_fine_ance__spark.llm.multimodal import extract_audio_features

    media = spark.createDataFrame(
        [(1, "audio/mp3", bytearray(b"\xff\xfb junk"))],
        "media_id long, mime string, content binary",
    )
    with pytest.raises(Exception, match="audio/mp3"):
        extract_audio_features(media).collect()


def test_quality_classifier_separates_planted_vocab(spark):
    """Linear scorer trained on weak labels generalizes to held-out docs."""
    import random

    from doin_fine_ance__spark.llm.quality import (
        score_quality,
        train_quality_classifier,
        weak_labels_from_stopwords,
    )

    rng = random.Random(11)
    good_vocab = ["the", "of", "and", "to", "is", "science", "history", "learn"]
    bad_vocab = ["zzz", "qqq", "xxx", "spam", "click", "winner", "jackpot"]

    def doc(vocab):
        return " ".join(rng.choice(vocab) for _ in range(30))

    train = [(i, doc(good_vocab)) for i in range(100)] + [
        (100 + i, doc(bad_vocab)) for i in range(100)
    ]
    train_df = spark.createDataFrame(train, "doc_id long, text string")
    model = train_quality_classifier(weak_labels_from_stopwords(train_df))

    held = [(0, doc(good_vocab)), (1, doc(bad_vocab))]
    held_df = spark.createDataFrame(held, "doc_id long, text string")
    probs = {r.doc_id: r.quality_prob for r in score_quality(model, held_df).collect()}
    assert probs[0] > 0.9, probs
    assert probs[1] < 0.1, probs
    # scoring must not leak pipeline-internal columns
    cols = score_quality(model, held_df).columns
    assert set(cols) == {"doc_id", "text", "quality_prob"}


def test_quality_filter_threshold(spark):
    from doin_fine_ance__spark.llm.quality import (
        quality_filter,
        train_quality_classifier,
    )

    rows = [(i, "the of and to is", 1.0) for i in range(20)] + [
        (20 + i, "zzz qqq spam", 0.0) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    model = train_quality_classifier(df)
    kept = quality_filter(model, df.select("doc_id", "text"), min_prob=0.5)
    assert sorted(r.doc_id for r in kept.collect()) == list(range(20))


def test_containment_catches_inclusion_jaccard_misses(spark):
    """A short doc nested inside a long doc scores containment 1.0; the
    symmetric near-identical pair scores high under both measures; and
    every emitted containment is >= the pair's Jaccard by construction."""
    from doin_fine_ance__spark.llm.dedup import minhash_containment_pairs, minhash_near_dups

    short = " ".join(f"w{j}" for j in range(30))
    long_ = short + " " + " ".join(f"extra{j}" for j in range(10))
    near = short + " w999"  # near-identical to `short`
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, near)], "doc_id long, text string"
    )
    cont = {(r.id_a, r.id_b): r.containment
            for r in minhash_containment_pairs(df, threshold=0.8).collect()}
    jacc = {(r.id_a, r.id_b): r.jaccard
            for r in minhash_near_dups(df, threshold=0.8).collect()}

    assert cont[(1, 2)] == 1.0           # strict token-set inclusion
    assert (1, 2) not in jacc            # Jaccard 30/40 = 0.75 < 0.8
    assert cont[(1, 3)] == 1.0 and jacc[(1, 3)] >= 0.8
    for pair, c in cont.items():
        if pair in jacc:
            assert c >= jacc[pair]


def test_pq_recall_floor_on_real_embeddings(spark):
    """VERDICT r5 #6: recall@10 of ADC and ADC+rerank measured against
    the exact cosine top-10 (the s_cosine_topk_bruteforce ranking) on
    the driver-generated embeddings table. The committed sf0.1 numbers
    live in PQ_RECALL_r06.json (tools/pq_recall.py): 16 centroids
    (the pq_train default, 4-bit codes) reranks to 0.67 at sf0.1 —
    too coarse as the corpus grows past the fixed 10× candidate set —
    while 256 centroids (8-bit codes, the faiss-standard setting)
    sustains 0.955 there and 1.0 at sf0.01. The floor asserted on
    every suite run: 8-bit codebooks + exact rerank over a 10× ADC
    candidate set must recover ≥ 0.9 of the true top-10."""
    from tools.pq_recall import pq_recall_report

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rep = pq_recall_report(emb, n_queries=10, n_centroids=256, rerank_factor=10)
    assert rep["recall_rerank"] >= 0.9, rep
    # ADC alone is the coarse tier: real signal, strictly weaker
    assert 0.3 <= rep["recall_adc"] <= rep["recall_rerank"], rep


def test_pq_recall_and_compression(spark):
    """PQ end-to-end on clustered unit vectors: 64 floats encode to 8
    codes; ADC top-10 stays inside the query's cluster (coarse
    retrieval is the PQ contract); ADC + exact re-rank recovers the
    true top-10 almost exactly, with a planted near-duplicate first;
    everything deterministic across re-runs."""
    import math
    import random

    from doin_fine_ance__spark.llm.ann import pq_encode, pq_topk, pq_train

    rng = random.Random(99)
    dim, n_clusters = 64, 5
    protos = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]

    def unit(v):
        nv = math.sqrt(sum(x * x for x in v))
        return [x / nv for x in v]

    rows = []
    for i in range(400):
        p = protos[i % n_clusters]
        rows.append((i, unit([x + rng.gauss(0, 0.15) for x in p])))
    query = unit([x + rng.gauss(0, 0.1) for x in protos[0]])
    rows.append((400, unit([x + rng.gauss(0, 0.01) for x in query])))  # planted
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    books = pq_train(df, m=8, k=16, sample_size=401)
    assert books.shape == (8, 16, 8)
    codes = pq_encode(df, books)
    first = codes.orderBy("vec_id").first()
    assert len(first.codes) == 8  # 64 float32 -> 8 small ints

    # stage 1, ADC only: coarse retrieval — every hit is from the
    # query's cluster (or the planted twin), never another mode
    adc = [r.vec_id for r in pq_topk(codes, books, query, k=10).collect()]
    assert all(i == 400 or i % n_clusters == 0 for i in adc)

    # stage 2, ADC + exact re-rank: fine order restored
    rr = [r.vec_id for r in
          pq_topk(codes, books, query, k=10, rerank_with=df).collect()]
    exact = sorted(
        ((sum(a * b for a, b in zip(query, v)), i) for i, v in rows),
        reverse=True,
    )
    exact_ids = [i for _, i in exact[:10]]
    assert rr[0] == 400  # planted near-duplicate first
    assert len(set(rr) & set(exact_ids)) >= 8
    # determinism
    assert rr == [r.vec_id for r in
                  pq_topk(codes, books, query, k=10, rerank_with=df).collect()]


def test_semantic_dedup_prunes_planted_group(spark):
    """Three near-identical embeddings collapse to their lowest id;
    distinct vectors all survive; output covers every vector exactly
    once with a cluster id."""
    import math
    import random

    import numpy as np

    from doin_fine_ance__spark.llm.ann import ivf_assign

    rng = random.Random(5)
    dim = 16

    def unit(v):
        nv = math.sqrt(sum(x * x for x in v))
        return [x / nv for x in v]

    base = unit([rng.gauss(0, 1) for _ in range(dim)])
    rows = [(i, unit([rng.gauss(0, 1) for _ in range(dim)])) for i in range(20)]
    # planted semantic-duplicate group: ids 100, 101, 102 ~ same vector
    for j in range(3):
        rows.append((100 + j, unit([x + rng.gauss(0, 0.01) for x in base])))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    sample = df.orderBy("vec_id").limit(23).collect()
    centroids = [[float(x) for x in r.embedding] for r in sample[::8]][:3]
    assigned = ivf_assign(df, centroids)

    import pandas as pd

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        E = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        n = np.sqrt((E * E).sum(axis=1))
        n[n == 0.0] = 1.0
        S = (E @ E.T) / (n[:, None] * n[None, :])
        has_lower = np.tril(S >= 0.95, -1).any(axis=1)
        return pd.DataFrame(
            {"vec_id": pdf["vec_id"], "keep": ~has_lower}
        )

    out = {r.vec_id: r.keep for r in assigned.groupBy("list_id").applyInPandas(
        prune, "vec_id long, keep boolean").collect()}
    assert len(out) == 23
    assert out[100] and not out[101] and not out[102]  # keep-first greedy
    assert all(out[i] for i in range(20))  # random gaussians are not dups


def test_image_ahash_neardup_pairs(spark):
    """Perceptual image dedup on synthetic BMPs: a noisy copy of an
    image pairs with its original at small Hamming distance; unrelated
    patterns do not pair; hashes are deterministic."""
    import random

    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import (
        encode_bmp,
        image_ahash64,
        image_neardup_pairs,
    )

    rng = np.random.RandomState(7)

    def gradient(seed):
        r = np.random.RandomState(seed)
        base = np.linspace(0, 255, 32, dtype=np.uint8)
        img = np.zeros((32, 32, 3), np.uint8)
        img[:, :, 0] = base[None, :]
        img[:, :, 1] = base[:, None]
        img[:, :, 2] = r.randint(0, 255)
        return img

    img_a = gradient(1)
    noisy = img_a.astype(np.int16) + rng.randint(-6, 7, img_a.shape)
    img_a2 = noisy.clip(0, 255).astype(np.uint8)      # near-dup of a
    img_b = gradient(2)[::-1, :, :].copy()            # reversed: different layout
    checker = (np.indices((32, 32)).sum(0) % 2 * 255).astype(np.uint8)
    img_c = np.stack([checker] * 3, axis=2)           # unrelated pattern

    rows = [
        (i, "image", "image/bmp", 32, 32, 0, bytearray(encode_bmp(im)))
        for i, im in enumerate([img_a, img_a2, img_b, img_c])
    ]
    from doin_fine_ance__spark.llm.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in image_neardup_pairs(media, max_hamming=6).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] <= 6
    assert all(p == (0, 1) for p in pairs), pairs  # nothing else pairs

    h1 = sorted((r.media_id, r.ahash) for r in image_ahash64(media).collect())
    h2 = sorted((r.media_id, r.ahash) for r in image_ahash64(media).collect())
    assert h1 == h2  # deterministic


def test_image_neardup_planted_hamming5_spread_across_16bit_chunks(spark):
    """Adversarial recall test (VERDICT r4 #1): a planted pair at
    Hamming distance exactly 5 whose differing bits hit EVERY 16-bit
    quarter of the hash — the old 4×16-bit chunk bucketing shares no
    bucket for this pair and silently drops it; the 8×8-bit chunking
    (pigeonhole guarantee for Hamming ≤ 7) must find it."""
    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import (
        MEDIA_SCHEMA,
        encode_bmp,
        image_ahash64,
        image_neardup_pairs,
    )

    # 8×8 images (resize is identity) with gray cells at 50/200: the
    # 64-cell mean always sits strictly between, so hash bit i is
    # exactly (cell_i == 200) — cell flips map 1:1 to hash-bit flips.
    base = np.zeros(64, dtype=np.uint8)
    base[::2] = 200
    base[1::2] = 50
    flipped = base.copy()
    # cell i -> hash bit 63-i; chosen cells put >=1 differing bit in
    # each 16-bit quarter (chunks 3,2,1,0,0) but leave 8-bit chunks
    # 6,4,2,0 untouched
    for cell in (1, 17, 33, 49, 51):
        flipped[cell] = 200 if base[cell] == 50 else 50

    def bmp(cells):
        img = cells.reshape(8, 8)[:, :, None].repeat(3, axis=2)
        return bytearray(encode_bmp(img))

    media = spark.createDataFrame(
        [(0, "image", "image/bmp", 8, 8, 0, bmp(base)),
         (1, "image", "image/bmp", 8, 8, 0, bmp(flipped))],
        MEDIA_SCHEMA,
    )
    h = {r.media_id: r.ahash for r in image_ahash64(media).collect()}
    xor = (h[0] ^ h[1]) & (2**64 - 1)
    assert bin(xor).count("1") == 5
    # prove the plant is adversarial: all four 16-bit chunks differ …
    assert all((xor >> (16 * j)) & 0xFFFF for j in range(4))
    # … while at least one 8-bit chunk is exact (pigeonhole bucket)
    assert any(not ((xor >> (8 * j)) & 0xFF) for j in range(8))

    pairs = {(r.id_a, r.id_b): r.hamming
             for r in image_neardup_pairs(media, max_hamming=6).collect()}
    assert pairs == {(0, 1): 5}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming <= 7"):
        image_neardup_pairs(media, max_hamming=8)


def test_pq_train_small_sample_raises(spark):
    from doin_fine_ance__spark.llm.ann import pq_train

    df = spark.createDataFrame(
        [(i, [float(i)] * 8) for i in range(5)],
        "vec_id long, embedding array<float>",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least k=16"):
        pq_train(df, m=4, k=16, sample_size=4096)


def test_minhash_token_store_does_not_accumulate(spark):
    """Repeated near-dup calls must not pin one persisted token store
    per call for the session lifetime (ADVICE r4): the next outermost
    dedup call releases the previous call's store, and release_owned()
    drops the last one."""
    from doin_fine_ance__spark.llm import dedup as D
    from doin_fine_ance__spark.operators import checkpoint as C

    def corpus(tag):
        return spark.createDataFrame(
            [(i, " ".join(f"{tag}{i}{j}" for j in range(12))) for i in range(6)],
            "doc_id long, text string",
        )

    C.release_owned()
    D.minhash_near_dups(corpus("w"), threshold=0.8).collect()
    assert len(C._OWNED) == 1  # exactly this call's verify token store
    first = C._OWNED[0]
    assert first.storageLevel.useMemory
    # a different corpus, so the new store's plan cannot alias the first
    D.minhash_containment_pairs(corpus("v"), threshold=0.8).collect()
    assert len(C._OWNED) == 1 and C._OWNED[0] is not first  # not stacked
    assert first.storageLevel.useMemory is False  # actually unpersisted
    C.release_owned()
    assert not C._OWNED


def test_dup_clusters_stores_released_at_next_query(spark):
    """d_dup_clusters leaves its exact-collapse group table cached after
    the collect; entering another registered query, or release_owned(),
    empties Spark's cache manager."""
    from doin_fine_ance__spark.operators.checkpoint import release_owned
    from doin_fine_ance__spark.queries import load_registry

    queries, _ = load_registry()
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    for leave in ("next query", "release_owned"):
        assert queries["d_dup_clusters"](spark, SF).collect()
        assert not cache.isEmpty(), leave
        if leave == "next query":
            queries["d_exact_dedup"](spark, SF)
        else:
            release_owned()
        assert cache.isEmpty(), leave


@pytest.mark.slow
def test_pq_recall_excludes_zero_norm_vectors(spark):
    """ADVICE r6: a zero-norm embedding has no cosine direction —
    normalizing it would push NaN/Inf through pq_train/pq_encode and
    silently skew the recall numbers. It must be excluded up front."""
    import math

    from pyspark.sql import functions as F

    from tools.pq_recall import pq_recall_report

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    n_real = emb.count()
    zero = spark.createDataFrame([(-1, [0.0] * dim)], "vec_id bigint, embedding array<double>")
    planted = emb.select("vec_id", F.col("embedding").cast("array<double>")).unionByName(zero)
    # vec_id=-1 sorts FIRST: without the guard the zero vector becomes
    # query #1 and NaN poisons both recalls
    rep = pq_recall_report(planted, n_queries=5, n_centroids=16, rerank_factor=10)
    assert rep["corpus_size"] == n_real  # zero vector excluded
    assert not math.isnan(rep["recall_adc"]) and not math.isnan(rep["recall_rerank"])
    assert 0.0 <= rep["recall_adc"] <= 1.0
    assert rep["recall_rerank"] >= rep["recall_adc"] * 0.99


def test_lsh_banding_recall_and_s_curve(spark):
    """Round-7 evidence seam (tools/lsh_quality.py, committed numbers
    in LSH_QUALITY_r07.json): the MinHash banding must surface ~every
    pair whose SHINGLE Jaccard (the measure the signatures sketch)
    clears the threshold, and the empirical per-bin candidate rate
    must track the theoretical S-curve 1-(1-s^r)^b. Three planted
    near-copies make the recall assertion non-vacuous at sf0.001."""
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.sources.testdata import load_table
    from tools.lsh_quality import measure

    base = load_table(spark, "/root/testdata/sf0.001", "documents", ["doc_id", "text"])
    planted = (
        base.orderBy("doc_id")
        .limit(3)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tiny tail edit")).alias("text"),
        )
    )
    rep = measure(
        spark, "/root/testdata/sf0.001", 0.7, 64, 16,
        docs=base.unionByName(planted),
    )
    # verified output never contains a pair below its own threshold
    assert rep["false_positives"] == 0
    # the 3 planted near-copies guarantee shingle-truth pairs exist;
    # banding must recover (essentially) all truth pairs
    assert rep["n_shingle_truth_pairs"] >= 3
    assert rep["banding_recall"] >= 0.95, rep
    # S-curve: empirical candidate rate tracks theory in populated bins
    for b in rep["s_curve"]:
        if b["n_pairs"] >= 200:
            assert abs(b["candidate_rate"] - b["theory_rate"]) <= 0.1, b


@pytest.mark.slow
def test_ivfpq_recall_floor_on_non_degenerate_geometry(spark):
    """Recall floor on the OVERLAPPING-mode fixture (VERDICT r11 #3):
    the driver embeddings are label-clustered so tightly that every
    true top-10 sits in one IVF cell and recall@10 is 1.0 at any
    nprobe — an eval that cannot detect cell-boundary regressions.
    This fixture's modes each span several k-means cells, so (a) low
    nprobe MUST lose recall (non-degeneracy assertion: a broken eval
    reading 1.0 everywhere fails here) and (b) the production-nprobe
    rerank recall must clear the floor."""
    from tools.pq_recall import ivfpq_recall_report, overlapping_embeddings

    emb = overlapping_embeddings(spark, n=8000, dim=32, n_modes=8, seed=9)
    rows = ivfpq_recall_report(
        spark, emb, n_queries=5, n_centroids=32, nprobes=(1, 8)
    )
    by_np = {r["nprobe"]: r for r in rows}
    # the curve must MOVE: nprobe=1 misses cross-cell neighbors
    assert by_np[1]["recall_ivf_flat_ceiling"] < 0.95
    # floor at the production probe breadth (quarter of the cells)
    assert by_np[8]["recall_rerank"] >= 0.9
    assert by_np[8]["recall_ivf_flat_ceiling"] >= by_np[1]["recall_ivf_flat_ceiling"]


@pytest.mark.slow
def test_ivf_index_build_probe_append_stats(spark, tmp_path):
    """Round-7 IvfIndex lifecycle: (a) probing ALL cells reproduces the
    exact brute-force top-k; (b) the probe scan is partition-PRUNED
    (list_id is a hive partition filter, not a post-scan filter);
    (c) append assigns against the FROZEN centroids — a planted
    near-query vector becomes hit #1 without any retrain and the
    existing corpus is untouched; (d) stats reports the drift signal."""
    from pyspark.sql import functions as F

    from doin_fine_ance__spark.llm.ann import IvfIndex, dot

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>"))
    )
    n0 = emb.count()
    dim = len(emb.first()["embedding"])
    idx = IvfIndex.build(emb, str(tmp_path / "ivf"), n_centroids=8)

    q = [float(i % 7 - 3) for i in range(dim)]
    qarr = F.array(*[F.lit(v) for v in q])
    qn = sum(v * v for v in q) ** 0.5
    brute = [
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            (dot(F.col("embedding"), qarr)
             / (F.sqrt(dot(F.col("embedding"), F.col("embedding"))) * F.lit(qn))
             ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
        .collect()
    ]
    # (a) all-cells probe == exact
    got = [r["vec_id"] for r in idx.topk(spark, q, k=10, nprobe=8).collect()]
    assert got == brute
    # (b) the probe is a partition filter on the scan
    plan = idx.topk(spark, q, k=10, nprobe=2)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan.split("PartitionFilters", 1)[1][:200], plan[:2000]
    # (c) append a vector almost parallel to the query; no retrain
    planted = spark.createDataFrame(
        [(999_999, [v * 10.0 for v in q])], "vec_id long, embedding array<double>"
    )
    idx.append(planted)
    hits = [r["vec_id"] for r in idx.topk(spark, q, k=3, nprobe=8).collect()]
    assert hits[0] == 999_999
    st = idx.stats(spark)
    assert st["total"] == n0 + 1
    assert st["n_cells"] == 8 and st["nonempty_cells"] <= 8
    assert st["imbalance"] >= 1.0
    # (e) repeated appends fragment cells into small files; compact()
    # rewrites fragmented cells in place and changes no results
    for i in range(3):
        idx.append(spark.createDataFrame(
            [(1_000_000 + i, [v * 5.0 for v in q])],
            "vec_id long, embedding array<double>",
        ))
    before = [r["vec_id"] for r in idx.topk(spark, q, k=5, nprobe=8).collect()]
    rewritten = idx.compact(spark)
    assert rewritten  # at least the planted cell was fragmented
    after = [r["vec_id"] for r in idx.topk(spark, q, k=5, nprobe=8).collect()]
    assert after == before
    assert idx.stats(spark)["total"] == n0 + 4


def _embeddings_df(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>"))
    )


@pytest.mark.parametrize("pq", [False, True], ids=["flat", "ivfpq"])
@pytest.mark.slow
def test_ivf_append_during_compact_serializes_no_lost_vectors(
    spark, tmp_path, monkeypatch, pq
):
    """VERDICT r7 #3 (r8 #1 extends it to the PQ layout): an append
    racing a compaction of the same cell must not be swallowed when
    the staged file set swaps in. append() and compact() share the
    index writer lock: with the compactor's rewrite artificially
    delayed (lock held), a no-wait append fails LOUDLY and a waiting
    append blocks until the swap completes — and every appended
    vector survives. On the IVF-PQ index the raced appends are
    additionally ENCODED against the frozen codebooks while the lock
    is contended — same guarantee, codes instead of vectors."""
    import threading
    import time

    from doin_fine_ance__spark.llm.ann import IvfIndex
    from doin_fine_ance__spark.operators import maintenance as maint
    from doin_fine_ance__spark.operators.upsert import ConcurrentWriteError

    emb = _embeddings_df(spark)
    dim = len(emb.first()["embedding"])
    idx = IvfIndex.build(
        emb,
        str(tmp_path / "ivf"),
        n_centroids=4,
        **({"pq_m": 8, "pq_k": 16, "pq_sample_size": 256} if pq else {}),
    )
    n0 = idx.stats(spark)["total"]
    vec = [1.0] * dim
    for i in range(3):  # fragment the planted cell so compact() has work
        idx.append(
            spark.createDataFrame(
                [(10_000 + i, vec)], "vec_id long, embedding array<double>"
            )
        )

    real_compact = maint.compact_table_versioned
    in_compact = threading.Event()

    def slow_compact(spark_, src, dst, **kw):
        in_compact.set()
        time.sleep(2.0)  # the lock is held by idx.compact() around this
        return real_compact(spark_, src, dst, **kw)

    monkeypatch.setattr(maint, "compact_table_versioned", slow_compact)
    errs: list = []

    def do_compact():
        try:
            idx.compact(spark)
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    t = threading.Thread(target=do_compact)
    t.start()
    try:
        assert in_compact.wait(60)
        planted = spark.createDataFrame(
            [(99_999, vec)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ConcurrentWriteError):
            idx.append(planted)  # no-wait append: loud, not lost
        idx.append(planted, timeout=120)  # waits for the compactor
    finally:
        t.join(300)
    assert not errs, errs
    st = idx.stats(spark)
    assert st["total"] == n0 + 4
    ids = {
        r["vec_id"]
        for r in spark.read.parquet(idx._data_path(idx._meta()))
        .select("vec_id")
        .collect()
    }
    assert 99_999 in ids and {10_000, 10_001, 10_002} <= ids


@pytest.mark.slow
def test_ivf_default_centroid_sample_unbiased_on_sorted_ids(spark, tmp_path):
    """VERDICT r7 #2: ids correlate with content in real corpora. With
    vectors id-SORTED by cluster, a head-of-table sample would put
    every default centroid in cluster 0 and pile the corpus into one
    cell; the md5-ordered sample must keep cell imbalance within ~2x
    of a kmeans-built index."""
    import random

    from doin_fine_ance__spark.llm.ann import IvfIndex

    rng = random.Random(42)
    K, per = 8, 100
    rows = []
    for c in range(K):
        center = [0.0] * 16
        center[2 * c] = 10.0
        for i in range(per):
            rows.append(
                (c * per + i, [v + rng.uniform(-0.5, 0.5) for v in center])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    by_hash = IvfIndex.build(emb, str(tmp_path / "h"), n_centroids=K)
    by_kmeans = IvfIndex.build(
        emb, str(tmp_path / "k"), n_centroids=K, kmeans_iters=3
    )
    imb_h = by_hash.stats(spark)["imbalance"]
    imb_k = by_kmeans.stats(spark)["imbalance"]
    # head-of-table sampling degenerates to imbalance ~= K (one cell
    # absorbs almost everything); the unbiased sample stays comparable
    # to the kmeans reference
    assert imb_h <= max(2.0 * imb_k, 2.5), (imb_h, imb_k)
    assert by_hash.stats(spark)["nonempty_cells"] >= K - 2


def test_ivf_rebuild_publishes_fresh_dir_and_vacuum_drops_old(spark, tmp_path):
    """ADVICE r7 (medium): rebuild must never overwrite the live data
    dir in place — it assigns into a FRESH dir and publishes it with
    its centroids in one atomic meta rename, so a reader holding the
    old meta keeps a consistent centroids+corpus pair until vacuum."""
    import os

    from doin_fine_ance__spark.llm.ann import IvfIndex

    emb = _embeddings_df(spark)
    n = emb.count()
    root = str(tmp_path / "ivf")
    idx = IvfIndex.build(emb, root, n_centroids=4)
    meta1 = idx._meta()
    old_dir = idx._data_path(meta1)
    IvfIndex.build(emb, root, n_centroids=8)  # rebuild, more cells
    meta2 = idx._meta()
    assert meta2["data_dir"] != meta1["data_dir"]
    assert len(meta1["centroids"]) == 4 and len(meta2["centroids"]) == 8
    # the superseded pair is still fully readable (in-flight readers)
    assert spark.read.parquet(old_dir).count() == n
    removed = idx.vacuum()
    assert meta1["data_dir"] in removed
    assert not os.path.exists(old_dir)
    assert idx.stats(spark)["total"] == n  # live pair untouched


def test_ivf_topk_excludes_zero_norm_vectors(spark, tmp_path):
    """ADVICE r7: a zero vector's cosine is 0/0 = NaN, and Spark sorts
    NaN as the LARGEST double — without the scoring guard one zero
    vector heads every descending top-k (IvfIndex.topk and the
    one-shot ann_topk_ivf alike). Under ANSI the division raises
    DIVIDE_BY_ZERO instead: ann_topk_lsh did, since a zero vector's
    sign bits are all set and bucket 3 of 2 planes is probed here."""
    import math

    from doin_fine_ance__spark.llm.ann import IvfIndex, ann_topk_ivf

    rows = [
        (i, [float(i % 5 + 1), float((i * 3) % 7 + 1)]) for i in range(1, 40)
    ]
    rows.append((0, [0.0, 0.0]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    idx = IvfIndex.build(emb, str(tmp_path / "z"), n_centroids=2)
    got = idx.topk(spark, [1.0, 1.0], k=40, nprobe=2).collect()
    assert got and 0 not in [r["vec_id"] for r in got]
    assert all(not math.isnan(r["cosine"]) for r in got)
    got2 = ann_topk_ivf(emb, [1.0, 1.0], k=40, n_centroids=2, nprobe=2).collect()
    assert got2 and 0 not in [r["vec_id"] for r in got2]
    assert all(not math.isnan(r["cosine"]) for r in got2)
    got3 = ann_topk_lsh(emb, [1.0, 1.0], k=40, n_planes=2).collect()
    assert got3 and 0 not in [r["vec_id"] for r in got3]
    assert all(not math.isnan(r["cosine"]) for r in got3)


def test_ivfpq_build_collects_its_sample_once(spark, tmp_path):
    """IvfIndex.build(pq_m=...) draws the centroid stride and the PQ
    training rows from one md5-ordered collect, so it runs exactly the
    jobs of a flat build (a second collect of the PQ rows made it 4)."""
    from doin_fine_ance__spark.llm.ann import IvfIndex

    emb = _embeddings_df(spark)
    sc = spark.sparkContext
    jobs = {}
    for name, kw in (("flat", {}), ("pq", {"pq_m": 8, "pq_k": 16})):
        sc.setJobGroup(f"ivf_build_{name}", "IvfIndex.build", False)
        try:
            IvfIndex.build(emb, str(tmp_path / name), n_centroids=8, **kw)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"ivf_build_{name}"))
        finally:
            sc.setJobGroup(None, None, False)
    assert jobs == {"flat": 3, "pq": 3}


@pytest.mark.slow
def test_lsh_end_to_end_recall_on_realistic_vocabulary(spark):
    """VERDICT r7 #5: the sf0.01/sf0.1 token-measure recall (~0.025)
    measures the small-vocab synthetic corpus, not the banding. On a
    realistic >=10k-word vocabulary with near-dups planted at graded
    token Jaccard (tools/lsh_corpus.py), token and shingle measures
    agree and the END-TO-END pipeline recall must clear 0.9 at
    J >= 0.8 (the committed LSH_QUALITY_r08.json measures 1.0 on the
    full-size corpus; this floors a smaller one in-suite)."""
    from tools.lsh_quality import measure_realistic

    rep = measure_realistic(
        spark,
        threshold=0.8,
        n_base=400,
        n_planted_per_level=12,
        vocab_size=12_000,
    )
    assert rep["false_positives"] == 0
    assert rep["n_token_truth_pairs"] >= 30  # the plant really landed
    assert rep["token_measure_recall"] >= 0.9, rep
    assert rep["planted_recall_at_threshold"] >= 0.9, rep
    by_level = {p["target_j"]: p["candidate_recall"] for p in rep["planted_per_level"]}
    assert by_level[0.9] == 1.0 and by_level[0.95] == 1.0, by_level


def test_ivf_vacuum_timeout_waits_for_writer(spark, tmp_path):
    """ADVICE r8: vacuum takes a timeout like the other writer methods,
    so a vacuum contending with a nightly append/compaction waits for
    the lock instead of raising ConcurrentWriteError immediately."""
    import threading
    import time

    import pytest as _pytest

    from doin_fine_ance__spark.llm.ann import IvfIndex
    from doin_fine_ance__spark.operators.upsert import (
        ConcurrentWriteError,
        table_write_lock,
    )

    emb = _embeddings_df(spark)
    root = str(tmp_path / "ivf_vac")
    idx = IvfIndex.build(emb, root, n_centroids=4)
    IvfIndex.build(emb, root, n_centroids=4)  # leave one superseded dir

    release = threading.Event()

    def hold():
        with table_write_lock(root):
            release.set()
            time.sleep(0.6)

    t = threading.Thread(target=hold)
    t.start()
    release.wait(5)
    # no timeout → immediate ConcurrentWriteError (old behavior)
    with _pytest.raises(ConcurrentWriteError):
        idx.vacuum()
    # with a timeout the vacuum waits the holder out and proceeds
    removed = idx.vacuum(timeout=5.0)
    t.join()
    assert len(removed) == 1


def _clustered_unit_rows(n=400, dim=64, n_clusters=5, seed=99):
    """Clustered unit vectors + a query from cluster 0 + a planted
    near-twin of the query (id n) — the corpus shape where ANN recall
    is meaningful (the gaussian driver table is near-orthogonal)."""
    import math
    import random

    rng = random.Random(seed)
    protos = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]

    def unit(v):
        nv = math.sqrt(sum(x * x for x in v))
        return [x / nv for x in v]

    rows = [
        (i, unit([x + rng.gauss(0, 0.15) for x in protos[i % n_clusters]]))
        for i in range(n)
    ]
    query = unit([x + rng.gauss(0, 0.1) for x in protos[0]])
    rows.append((n, unit([x + rng.gauss(0, 0.01) for x in query])))
    return rows, query


@pytest.mark.slow
def test_ivfpq_index_build_search_rerank(spark, tmp_path):
    """VERDICT r8 #1 — the IVF-PQ composite (FAISS IVFPQ shape):
    (a) cells store m PQ codes, NOT float vectors; (b) the probe scan
    stays partition-pruned; (c) ADC+exact-rerank over probed cells
    recovers the true neighborhood (planted twin first, ≥8/10 of the
    exact top-10) and is deterministic; (d) codebooks are published in
    the same meta as centroids + data dir (one atomic triple)."""
    from doin_fine_ance__spark.llm.ann import IvfIndex

    rows, query = _clustered_unit_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivfpq")
    idx = IvfIndex.build(
        df, root, n_centroids=8, pq_m=8, pq_k=16, pq_sample_size=401
    )
    meta = idx._meta()
    assert {"m", "k", "residual", "codebooks"} <= set(meta["pq"])
    stored = spark.read.parquet(idx._data_path(meta))
    # (a) the storage win: codes (m ints), no embedding column
    assert set(stored.columns) == {"vec_id", "codes", "list_id"}
    assert len(stored.first()["codes"]) == 8
    # (b) probe is a hive partition filter, not a post-scan filter
    plan = (
        idx.topk(spark, query, k=10, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "list_id" in plan.split("PartitionFilters", 1)[1][:200], plan[:2000]
    # (c) ADC + exact rerank vs the exact inner-product top-10
    exact_ids = [
        i
        for _, i in sorted(
            ((sum(a * b for a, b in zip(query, v)), i) for i, v in rows),
            reverse=True,
        )[:10]
    ]
    rr = [
        r["vec_id"]
        for r in idx.topk(
            spark, query, k=10, nprobe=4, rerank_with=df, rerank_factor=10
        ).collect()
    ]
    assert rr[0] == 400  # the planted near-twin
    assert len(set(rr) & set(exact_ids)) >= 8, (rr, exact_ids)
    rr2 = [
        r["vec_id"]
        for r in idx.topk(
            spark, query, k=10, nprobe=4, rerank_with=df, rerank_factor=10
        ).collect()
    ]
    assert rr == rr2  # deterministic
    # ADC alone is the coarse tier: quantized scores tie inside the
    # cluster (ties break by id, so the high-id twin need not lead),
    # but every hit comes from the query's cluster — never another mode
    adc = [r["vec_id"] for r in idx.topk(spark, query, k=10, nprobe=4).collect()]
    assert adc and all(i == 400 or i % 5 == 0 for i in adc), adc


def test_ivfpq_append_reuses_frozen_codebooks_and_rebuild_swaps_triple(
    spark, tmp_path
):
    """Append must encode against the PUBLISHED codebooks (no retrain):
    the appended vector's stored codes equal a driver-side re-encode
    with the original books, and the near-twin append becomes hit #1.
    A rebuild publishes data dir + centroids + codebooks as ONE meta
    swap; vacuum reclaims the superseded dir."""
    import os

    import numpy as np

    from doin_fine_ance__spark.llm.ann import IvfIndex

    rows, query = _clustered_unit_rows()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    root = str(tmp_path / "ivfpq2")
    idx = IvfIndex.build(
        df, root, n_centroids=8, pq_m=8, pq_k=16, pq_sample_size=401
    )
    meta1 = idx._meta()
    books1 = np.asarray(meta1["pq"]["codebooks"])

    twin_id = 777_000
    twin = [v * 0.999 for v in query]
    idx.append(
        spark.createDataFrame(
            [(twin_id, twin)], "vec_id long, embedding array<double>"
        )
    )
    # meta (and codebooks) untouched by the append
    meta_after = idx._meta()
    assert meta_after["data_dir"] == meta1["data_dir"]
    assert np.array_equal(np.asarray(meta_after["pq"]["codebooks"]), books1)
    # stored codes == driver-side re-encode against the FROZEN books
    stored = (
        spark.read.parquet(idx._data_path(meta_after))
        .filter(F.col("vec_id") == twin_id)
        .first()
    )
    C = np.asarray(meta1["centroids"], dtype=np.float64)
    x = np.asarray(twin, dtype=np.float64)
    sims = (C @ x) / (
        np.sqrt((C * C).sum(1)) * np.sqrt((x * x).sum())
    )
    cell = int(np.argmax(sims))
    assert stored["list_id"] == cell
    r = x - C[cell]  # residual encoding
    m, kk, sub = books1.shape
    expect = [
        int(
            np.argmin(
                ((books1[b] - r[b * sub : (b + 1) * sub]) ** 2).sum(1)
            )
        )
        for b in range(m)
    ]
    assert list(stored["codes"]) == expect
    # the appended twin ranks first after rerank
    everything = df.unionByName(
        spark.createDataFrame(
            [(twin_id, twin)], "vec_id long, embedding array<double>"
        )
    )
    rr = [
        r["vec_id"]
        for r in idx.topk(
            spark, query, k=5, nprobe=8, rerank_with=everything
        ).collect()
    ]
    assert rr[0] == twin_id

    # rebuild with different PQ geometry: one atomic triple swap
    IvfIndex.build(
        df, root, n_centroids=8, pq_m=4, pq_k=8, pq_sample_size=401
    )
    meta2 = idx._meta()
    assert meta2["data_dir"] != meta1["data_dir"]
    assert np.asarray(meta2["pq"]["codebooks"]).shape == (4, 8, 16)
    # superseded pair still readable until vacuum, then reclaimed
    assert spark.read.parquet(
        os.path.join(root, meta1["data_dir"])
    ).count() == len(rows) + 1
    removed = idx.vacuum()
    assert meta1["data_dir"] in removed


def test_ivfpq_one_shot_matches_exact_within_probes(spark):
    """ann_topk_ivfpq (the deterministic one-shot used by the
    registered query): with every cell probed and a candidate set
    larger than the corpus, ADC+rerank degenerates to the EXACT
    inner-product top-k — the correctness anchor; with pruning it
    still puts the planted twin first."""
    from doin_fine_ance__spark.llm.ann import ann_topk_ivfpq

    rows, query = _clustered_unit_rows(n=200)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact_ids = [
        i
        for _, i in sorted(
            ((sum(a * b for a, b in zip(query, v)), i) for i, v in rows),
            reverse=True,
        )[:10]
    ]
    got = [
        r["vec_id"]
        for r in ann_topk_ivfpq(
            df, query, k=10, n_centroids=8, nprobe=8, rerank_factor=30
        ).collect()
    ]
    assert got == exact_ids
    pruned = [
        r["vec_id"]
        for r in ann_topk_ivfpq(
            df, query, k=10, n_centroids=8, nprobe=3, rerank_factor=10
        ).collect()
    ]
    assert pruned[0] == 200  # planted twin survives pruning


@pytest.mark.slow
def test_ivfpq_recall_floor_on_real_embeddings(spark):
    """VERDICT r8 #1 evidence seam (tools/pq_recall.py → the committed
    PQ_RECALL_r09.json measures sf0.1): on the driver embeddings,
    ADC+exact-rerank over the persisted IVF-PQ index must (a) reach
    ≥0.9 recall@10 when every cell is probed — the flat-PQ floor, now
    through the composite path — and (b) match the flat-IVF ceiling at
    the same nprobe within 0.05: cell pruning, not PQ distortion, is
    the only recall cost of storing codes instead of vectors."""
    from tools.pq_recall import ivfpq_recall_report

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    reps = ivfpq_recall_report(
        spark, emb, n_queries=10, nprobes=(4, 16), pq_k=256
    )
    by_np = {r["nprobe"]: r for r in reps}
    assert by_np[16]["recall_rerank"] >= 0.9, reps
    for r in reps:
        assert r["recall_rerank"] >= r["recall_ivf_flat_ceiling"] - 0.05, r
        assert r["recall_adc"] <= r["recall_rerank"] + 1e-9, r


def test_ivf_compact_is_reader_safe(spark, tmp_path, monkeypatch):
    """VERDICT r8 #6: compaction must never leave a cell absent to
    readers. The versioned compaction builds a complete new data dir
    and republishes the meta atomically (the rebuild pointer swap), so
    a reader loop running THROUGH a slowed compaction — including the
    publish instant — sees the full corpus on every single read."""
    import threading
    import time

    from doin_fine_ance__spark.llm.ann import IvfIndex
    from doin_fine_ance__spark.operators import maintenance as maint

    emb = _embeddings_df(spark)
    dim = len(emb.first()["embedding"])
    idx = IvfIndex.build(emb, str(tmp_path / "ivf_rs"), n_centroids=4)
    vec = [1.0] * dim
    for i in range(3):  # fragment one cell
        idx.append(
            spark.createDataFrame(
                [(20_000 + i, vec)], "vec_id long, embedding array<double>"
            )
        )
    total = idx.stats(spark)["total"]
    old_dir = idx._data_path(idx._meta())

    real = maint.compact_table_versioned

    def slow(spark_, src, dst, **kw):
        time.sleep(0.7)  # widen the window readers race through
        out = real(spark_, src, dst, **kw)
        time.sleep(0.7)  # ... and the pre-publish stretch
        return out

    monkeypatch.setattr(maint, "compact_table_versioned", slow)

    stop = threading.Event()
    counts: list[int] = []
    errs: list[Exception] = []

    def reader():
        while not stop.is_set():
            try:
                meta = idx._meta()  # fresh pointer each read
                counts.append(
                    spark.read.parquet(idx._data_path(meta)).count()
                )
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        rewritten = idx.compact(spark)
    finally:
        time.sleep(0.3)  # a few post-publish reads
        stop.set()
        t.join(120)
    assert not errs, errs
    assert rewritten  # the fragmented cell was rewritten
    assert len(counts) >= 3  # the loop really raced the compaction
    assert all(c == total for c in counts), (total, sorted(set(counts)))
    # the pointer moved; the superseded dir survives for in-flight
    # readers until vacuum reclaims it
    new_dir = idx._data_path(idx._meta())
    assert new_dir != old_dir
    assert spark.read.parquet(old_dir).count() == total
    assert os.path.basename(old_dir) in idx.vacuum()
    assert idx.stats(spark)["total"] == total


@pytest.mark.slow
def test_semantic_dedup_hot_cell_cap_bounds_group_size(spark):
    """VERDICT r8 #5 / r9 #1: a skewed embedding distribution can land
    one giant cell whose quadratic Gram would OOM a task. At the
    PRODUCTION cap (default_cell_cap() = 16,384 rows for the 2 GiB
    task Gram budget — no test-only constant), the planted mega-cell
    (17,000 near-identical vectors → ONE cell, including the
    degenerate all-duplicates case geometry can't split) is salted
    into sub-cells no task sees more of than ~cap rows; the dedup
    still collapses the group to ≤ n_sub survivors. Cells under the
    cap are byte-identical to the uncapped semantics."""
    import numpy as np

    from doin_fine_ance__spark.llm.ann import ivf_assign
    from doin_fine_ance__spark.llm.dedup import default_cell_cap, semantic_dedup

    cap = default_cell_cap()
    assert cap == 16_384  # floor(sqrt(2 GiB / 8 bytes))
    dim, n_hot = 8, cap + 616  # 17,000: exceeds the production cap
    base = [1.0] * dim
    rows = [
        # near-identical mega-group: all cosine ≈ 1 with each other
        (i, [v * (1.0 + 1e-6 * (i % 7)) for v in base])
        for i in range(n_hot)
    ]
    # a small far-away cluster that must stay under uncapped semantics
    rows += [
        (100_000 + i, [(-1.0) ** j * (2.0 + 0.3 * ((i + j) % 3)) for j in range(dim)])
        for i in range(5)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, q array<double>")
    centroids = [base, [(-1.0) ** j * 2.0 for j in range(dim)]]
    assigned = ivf_assign(emb, centroids, vec_col="q")
    # precondition: the hot cell really is one giant cell
    sizes = {
        r["list_id"]: r["cnt"]
        for r in assigned.groupBy("list_id").agg(F.count("*").alias("cnt")).collect()
    }
    assert sizes[0] == n_hot

    out = semantic_dedup(assigned, threshold=0.35)  # production default cap
    res = out.collect()
    assert len(res) == n_hot + 5
    kept_hot = [r["vec_id"] for r in res if r["keep"] and r["vec_id"] < 100_000]
    n_sub = -(-n_hot // cap)
    # the mega-group collapses to at most one survivor per sub-cell
    assert 1 <= len(kept_hot) <= n_sub, len(kept_hot)
    # the task-level bound: replicate the (md5, engine-exact) salting
    # and check no task group exceeds ~1.5× the cap
    salted = assigned.withColumn(
        "_sub",
        F.when(
            F.col("list_id") == 0,
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
                ).cast("bigint"),
                F.lit(n_sub),
            ),
        ).otherwise(F.lit(0)).cast("int"),
    )
    biggest = (
        salted.groupBy("list_id", "_sub").count().agg(F.max("count")).first()[0]
    )
    # md5 salting is near-uniform: no group beyond ~1.5× the cap
    assert biggest <= 1.5 * cap, biggest
    # cold cells: identical to the truly-uncapped run (max_cell_size=0)
    uncapped = {
        (r["vec_id"], r["keep"])
        for r in semantic_dedup(assigned, threshold=0.35, max_cell_size=0).collect()
        if r["vec_id"] >= 100_000
    }
    capped = {(r["vec_id"], r["keep"]) for r in res if r["vec_id"] >= 100_000}
    assert capped == uncapped


def test_png_codec_round_trip_all_filters():
    """Real PNG (zlib deflate + the five scanline filters), stdlib-only:
    every filter type must survive encode -> decode bit-exactly."""
    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import decode_png, encode_png

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, size=(23, 17, 3), dtype=np.uint8)
    for ft in range(5):
        assert np.array_equal(decode_png(encode_png(img, filter_type=ft)), img)
    with pytest.raises(ValueError, match="filter type"):
        encode_png(img, filter_type=5)


def test_png_decode_color_variants():
    """Grayscale, palette, gray+alpha, and RGBA all decode to the
    registry's (H, W, 3) RGB contract (alpha dropped, palette looked
    up); unsupported depths name their parameters."""
    import struct
    import zlib

    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import (
        PNG_SIGNATURE,
        _png_chunk,
        decode_png,
    )

    def make_png(color, px, w, h, plte=None, channels=1, depth=8):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0)
        rows = b"".join(
            b"\x00" + px[y * w * channels : (y + 1) * w * channels]
            for y in range(h)
        )
        chunks = _png_chunk(b"IHDR", ihdr)
        if plte is not None:
            chunks += _png_chunk(b"PLTE", plte)
        chunks += _png_chunk(b"IDAT", zlib.compress(rows)) + _png_chunk(b"IEND", b"")
        return PNG_SIGNATURE + chunks

    g = bytes(range(12))
    img = decode_png(make_png(0, g, 4, 3))
    assert img.shape == (3, 4, 3)
    assert (img[:, :, 0] == img[:, :, 2]).all()
    assert (img[:, :, 0].flatten() == np.frombuffer(g, dtype=np.uint8)).all()

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    img = decode_png(make_png(3, bytes([0, 1, 2, 1]), 2, 2, plte=pal))
    assert tuple(img[0, 0]) == (255, 0, 0) and tuple(img[1, 0]) == (0, 0, 255)

    img = decode_png(make_png(6, bytes([10, 20, 30, 255, 40, 50, 60, 0]), 2, 1,
                              channels=4))
    assert tuple(img[0, 1]) == (40, 50, 60)  # alpha dropped, not composited

    img = decode_png(make_png(4, bytes([100, 255, 200, 0]), 2, 1, channels=2))
    assert tuple(img[0, 0]) == (100, 100, 100)

    with pytest.raises(ValueError, match="depth=16"):
        decode_png(make_png(0, bytes(24), 4, 3, depth=16))


def test_resize_images_end_to_end_png(spark):
    """The full distributed path over a REAL compressed format: PNG
    rows decode, resize, and re-encode as PNG inside mapInPandas."""
    import numpy as np

    from doin_fine_ance__spark.llm.multimodal import (
        decode_png,
        encode_png,
        resize_images,
    )

    rng = np.random.default_rng(17)
    imgs = {i: rng.integers(0, 256, size=(16, 12, 3), dtype=np.uint8) for i in (1, 2)}
    media = spark.createDataFrame(
        [(i, "image", "image/png", 12, 16, None, encode_png(a))
         for i, a in imgs.items()],
        schema=MEDIA_SCHEMA,
    )
    out = {r.media_id: r for r in resize_images(media, 6, 4).collect()}
    assert set(out) == {1, 2}
    for i, r in out.items():
        arr = decode_png(bytes(r.content))
        assert arr.shape == (4, 6, 3)
        src = imgs[i].reshape(-1, 3)
        assert all(any((src == px).all(axis=1)) for px in arr.reshape(-1, 3))


def test_semantic_dedup_capped_path_matches_duckdb_salted_oracle(spark):
    """Cross-engine parity of the SALTED path itself (VERDICT r9 #1):
    with a cap small enough to trigger, the md5 sub-cell assignment
    and the within-(cell, sub) greedy keep-first must reproduce
    bit-for-bit in DuckDB running the same salted SQL the
    d_semantic_dedup oracle uses. The driver's scale factors never
    trigger the cap, so this pins the live branch of the oracle."""
    import duckdb
    import pandas as pd

    from doin_fine_ance__spark.llm.ann import ivf_assign
    from doin_fine_ance__spark.llm.dedup import semantic_dedup

    cap, dim = 50, 6
    rows = []
    # hot cell: 170 vectors around +1 (many mutual dups at 0.35)
    for i in range(170):
        rows.append((i, [float(round(1000.0 + (i % 13) * (j + 1))) for j in range(dim)]))
    # cold cell: 30 spread-out vectors around -1
    for i in range(30):
        rows.append(
            (1000 + i, [float(round(-1000.0 - ((i + j) % 17) * 40.0 * ((-1) ** j)))
                        for j in range(dim)])
        )
    emb = spark.createDataFrame(rows, "vec_id long, q array<double>")
    centroids = [[1000.0] * dim, [-1000.0 if j % 2 == 0 else 1000.0
                                  for j in range(dim)]]
    # make centroid 1 actually capture the cold cluster
    centroids[1] = [-1000.0] * dim
    assigned = ivf_assign(emb, centroids, vec_col="q")
    got = {
        (r["vec_id"], r["keep"])
        for r in semantic_dedup(assigned, threshold=0.35,
                                max_cell_size=cap).collect()
    }

    apdf = assigned.toPandas()
    apdf["q"] = apdf["q"].apply(list)
    con = duckdb.connect()
    con.register("assigned", apdf)
    cos = ("list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
           " * sqrt(list_dot_product({b}, {b})))")
    sql = """
    WITH counts AS (
      SELECT list_id, count(*) AS cnt FROM assigned GROUP BY list_id
    ), salted AS (
      SELECT a.vec_id, a.q, a.list_id,
             CASE WHEN c.cnt > {cap}
                  THEN CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 8))
                            AS UBIGINT) % ((c.cnt + {cap} - 1) // {cap})
                  ELSE 0 END AS sub
      FROM assigned a JOIN counts c USING (list_id)
    ), dropped AS (
      SELECT DISTINCT a.vec_id
      FROM salted a JOIN salted b
        ON a.list_id = b.list_id AND a.sub = b.sub
       AND b.vec_id < a.vec_id AND {ab} >= 0.35
    )
    SELECT a.vec_id, (d.vec_id IS NULL) AS keep
    FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
    """.format(cap=cap, ab=cos.format(a="a.q", b="b.q"))
    want = {(int(r[0]), bool(r[1])) for r in con.execute(sql).fetchall()}
    # precondition: the cap genuinely triggered (hot cell > cap)
    hot = con.execute(
        "SELECT max(cnt) FROM (SELECT count(*) cnt FROM assigned GROUP BY list_id)"
    ).fetchone()[0]
    assert hot > cap
    assert got == want
    # and the salting actually dropped fewer pairs than uncapped would
    # (one keeper PER sub-cell can survive) — sanity that the branch ran
    uncapped = {
        (r["vec_id"], r["keep"])
        for r in semantic_dedup(assigned, threshold=0.35,
                                max_cell_size=0).collect()
    }
    assert sum(k for _, k in got) >= sum(k for _, k in uncapped)


def test_containment_prefix_recall_floor_and_banded_bias(spark):
    """VERDICT r9 #4, the pytest floor behind
    CONTAINMENT_QUALITY_r10.json: on planted short-inside-long
    inclusions the exact prefix-filter join finds EVERY pair at every
    length ratio (recall 1.0 by pigeonhole theorem — including
    ratio 0.05, where Jaccard-banded candidate generation measures
    0.0), and returns no pair below threshold (exact verify)."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.containment_quality import containment_corpus

    from doin_fine_ance__spark.llm.dedup import containment_prefix_pairs
    from doin_fine_ance__spark.operators.checkpoint import release_owned

    docs, planted = containment_corpus(
        spark, n_base=120, n_planted_per_ratio=8, vocab_size=4000,
        ratios=(0.05, 0.25, 0.9),
    )
    got = containment_prefix_pairs(docs, threshold=0.9).collect()
    release_owned()
    found = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in got}
    for p in planted:
        key = (min(p["id_a"], p["id_b"]), max(p["id_a"], p["id_b"]))
        assert key in found, f"missed planted inclusion at ratio {p['ratio']}"
    assert all(r.containment >= 0.9 for r in got)
    # id ordering contract
    assert all(r.id_a < r.id_b for r in got)


def test_containment_prefix_threshold_arithmetic_exact(spark):
    """The per-mille integer prefix length must honor the pigeonhole
    bound where the naive float form fails: |A|=10 at t=0.9 needs a
    2-token prefix (floor((1-0.9)*10)+1 computes 1 in binary float).
    Planted: a 10-distinct-token doc sharing exactly 9 tokens with its
    host — containment exactly 0.9, must be found."""
    host = " ".join(f"w{i}" for i in range(40))
    short = " ".join([f"w{i}" for i in range(9)] + ["zzz_unique"])
    docs = spark.createDataFrame(
        [(0, host), (1, short)], "doc_id long, text string"
    )
    from doin_fine_ance__spark.llm.dedup import containment_prefix_pairs
    from doin_fine_ance__spark.operators.checkpoint import release_owned

    rows = containment_prefix_pairs(docs, threshold=0.9).collect()
    release_owned()
    assert [(r.id_a, r.id_b, round(r.containment, 6)) for r in rows] == [
        (0, 1, 0.9)
    ]


def test_bm25_matches_textbook_reference(spark):
    """Real (float) BM25 must equal a pure-Python textbook
    implementation term for term, and the fixed-point variant must
    rank the clearly-relevant planted docs the same way."""
    import math

    from doin_fine_ance__spark.llm.retrieval import bm25_topk, bm25_topk_fp

    corpus = {
        0: "apple banana cherry apple",
        1: "apple apple apple banana banana cherry date elderberry fig",
        2: "date elderberry fig grape",
        3: "apple cherry",
        4: "banana banana banana banana",
        5: "grape grape grape grape grape grape grape grape",
    }
    docs = spark.createDataFrame(list(corpus.items()), "doc_id long, text string")
    query = "apple cherry"
    got = [(r.doc_id, r.score) for r in bm25_topk(docs, query, k=6).collect()]

    # textbook reference
    tf = {i: {} for i in corpus}
    for i, t in corpus.items():
        for w in t.split():
            tf[i][w] = tf[i].get(w, 0) + 1
    n = len(corpus)
    avgdl = sum(len(t.split()) for t in corpus.values()) / n
    k1, b = 1.2, 0.75
    scores = {}
    for term in dict.fromkeys(query.split()):
        dfreq = sum(1 for i in corpus if term in tf[i])
        if not dfreq:
            continue
        idf = math.log(1.0 + (n - dfreq + 0.5) / (dfreq + 0.5))
        for i in corpus:
            f = tf[i].get(term, 0)
            if not f:
                continue
            dl = len(corpus[i].split())
            scores[i] = scores.get(i, 0.0) + idf * f * (k1 + 1) / (
                f + k1 * (1 - b + b * dl / avgdl)
            )
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:6]
    assert [i for i, _ in got] == [i for i, _ in want]
    for (gi, gs), (wi, ws) in zip(got, want):
        assert abs(gs - ws) < 1e-9, (gi, gs, ws)

    # fixed-point variant: same relevance structure on this corpus —
    # docs containing both query terms outrank single-term docs,
    # no-term docs absent
    fp = [r.doc_id for r in bm25_topk_fp(docs, query, k=6).collect()]
    assert set(fp) == set(scores)  # exactly the docs matching >= 1 term
    both = {i for i in corpus if "apple" in tf[i] and "cherry" in tf[i]}
    assert set(fp[: len(both)]) == both
    # determinism
    assert fp == [r.doc_id for r in bm25_topk_fp(docs, query, k=6).collect()]


def test_bm25_fp_per_term_score_tracks_float(spark):
    """Per-DOC fp scores must be proportional to float BM25 scores
    within the fixed-point tolerance — the decomposition check that
    would have caught the r11 saturation bug (missing /100 made sat_fp
    near-linear in tf; rankings on tiny both-terms corpora still
    looked right, so only a value-level comparison pins this)."""
    import math

    from doin_fine_ance__spark.llm.retrieval import (
        SCALE,
        bm25_topk,
        bm25_topk_fp,
    )

    rows = [
        (0, "apple banana cherry"),
        (1, "apple apple apple banana"),  # tf saturation must bite
        (2, "apple banana " + "filler " * 40),  # long doc, b-normalized
        (3, "cherry cherry apple apple apple apple"),
        (4, "banana date elderberry fig grape"),
        (5, "apple"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    q = "apple cherry"
    fl = {r.doc_id: r.score for r in bm25_topk(docs, q, k=10).collect()}
    fp = {r.doc_id: r.score_fp for r in bm25_topk_fp(docs, q, k=10).collect()}
    assert set(fl) == set(fp)
    # score_fp ≈ score * SCALE * SCALE / 1000 (idf at 1e6, sat at 1e6,
    # per-term div 1000); relative error budget: ln_fp 2e-4 + div floors
    unit = SCALE * SCALE / 1000
    for d, s in fl.items():
        assert math.isclose(fp[d], s * unit, rel_tol=2e-3), (d, fp[d], s * unit)
    # same ranking
    assert sorted(fl, key=lambda d: (-fl[d], d)) == sorted(
        fp, key=lambda d: (-fp[d], d)
    )


def test_ln_fp_int_accuracy_and_idf_shape():
    """The integer fixed-point ln must track math.log within 2e-4
    ln-units across twelve decades, and the derived idf must match
    real BM25's "+1" probabilistic idf — the shape property whose
    absence was the r11 fidelity floor."""
    import math
    import random

    from doin_fine_ance__spark.llm.retrieval import SCALE, _ln_fp_int

    rnd = random.Random(5)
    ys = list(range(1, 3000)) + [rnd.randrange(1, 10**12) for _ in range(5000)]
    worst = max(abs(_ln_fp_int(y) - math.log(y) * SCALE) for y in ys)
    assert worst < 2e-4 * SCALE
    n = 50000
    for df in (1, 3, 17, 400, 9000, n // 2, n - 1, n):
        fp = _ln_fp_int(2 * n + 2) - _ln_fp_int(2 * df + 1)
        real = math.log(1 + (n - df + 0.5) / (df + 0.5))
        assert abs(fp - real * SCALE) <= 4e-4 * SCALE, df
    import pytest as _pytest

    with _pytest.raises(ValueError, match="domain"):
        _ln_fp_int(0)


def test_bm25_rejects_empty_query(spark):
    import pytest as _pytest

    from doin_fine_ance__spark.llm.retrieval import bm25_topk

    docs = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="no terms"):
        bm25_topk(docs, "   ")


def test_bm25_fixed_point_agreement_floor(spark):
    """Pytest floor under BM25_AGREEMENT_r11.json (VERDICT r10 #7): on
    the sf0.001 documents corpus — whose ~31-word vocabulary makes
    every score nearly tied, the hardest case for surrogate fidelity —
    the fixed-point top-10 must capture >= 0.9 of the float-BM25 score
    mass of the true top-10 (score recall; set overlap is tie-dominated
    there and measured in the committed artifact instead)."""
    from doin_fine_ance__spark.llm.retrieval import bm25_topk, bm25_topk_fp
    from tools.bm25_agreement import corpus_vocab, make_queries

    docs = load_table(spark, SF, "documents", ["doc_id", "text"]).cache()
    n_docs = docs.count()
    vocab = corpus_vocab(docs)
    assert len(vocab) >= 20  # the corpus premise the thresholds assume
    queries = [q for (_, t, q) in make_queries(vocab) if t == 0]  # one per qlen
    assert len(queries) == 3
    for qtext in queries:
        full = bm25_topk(docs, qtext, k=n_docs).collect()
        fscore = {r.doc_id: r.score for r in full}
        ideal = sum(fscore[r.doc_id] for r in full[:10])
        fp = [r.doc_id for r in bm25_topk_fp(docs, qtext, k=10).collect()]
        got = sum(fscore.get(d, 0.0) for d in fp)
        assert got / ideal >= 0.9, (qtext, got / ideal)
