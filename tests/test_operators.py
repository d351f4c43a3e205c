"""Operator-level Spark tests: substring pass, ANN, multimodal
plumbing, catalog snapshots, incremental dedup."""

import pyspark.sql.functions as F
import pytest


# -- substring (winnowing) pass -------------------------------------- #

def test_substring_pairs_finds_long_shared_substring(spark):
    import random

    from ufuzzy_spark.config import PipelineConfig
    from ufuzzy_spark.operators.substring import substring_pairs

    rng = random.Random(11)

    def rand_text(n, alpha):
        return "".join(rng.choice(alpha) for _ in range(n))

    shared = rand_text(200, "abcdefgh ")
    rows = [
        ("u1", rand_text(400, "jklmnop ") + shared),
        ("u2", shared + rand_text(400, "qrstuv ")),
        ("u3", rand_text(600, "wxyz ")),
        ("u4", rand_text(600, "0123456 ")),
    ]
    normed = spark.createDataFrame(rows, ["url", "norm_text"])
    pairs = substring_pairs(normed, PipelineConfig()).collect()
    got = {(r.url_a, r.url_b) for r in pairs}
    assert ("u1", "u2") in got
    assert all({a, b} <= {"u1", "u2"} for a, b in got), got


# -- ANN -------------------------------------------------------------- #

def test_ann_lsh_topk_recall_on_clustered_vectors(spark):
    """SRP-LSH recall is meaningful on CLUSTERED embeddings (real
    corpora cluster); the driver testdata embeddings are uniform
    random (top-5 cosine ~0.35), where any sublinear ANN must degrade
    — that case is covered by the smoke test below."""
    import numpy as np

    from ufuzzy_spark.operators.ann import brute_force_topk, lsh_topk

    rng = np.random.RandomState(42)
    centers = rng.randn(20, 64) * 3
    vecs = [
        (i, (centers[i % 20] + rng.randn(64) * 0.4).astype(float).tolist())
        for i in range(500)
    ]
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = embs.where("vec_id < 5")
    bf = brute_force_topk(embs, q, k=5)
    al = lsh_topk(embs, q, k=5, dim=64, n_tables=8, bits_per_table=10)

    bf_set = {(r.qid, r.cid) for r in bf.collect()}
    al_set = {(r.qid, r.cid) for r in al.collect()}
    recall = len(bf_set & al_set) / len(bf_set)
    assert recall >= 0.9, f"ANN recall {recall} too low"


def test_ann_lsh_topk_smoke_on_testdata(spark):
    from ufuzzy_spark.operators.ann import lsh_topk

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = embs.where("vec_id < 3")
    out = lsh_topk(embs, q, k=5, dim=64, n_tables=16, bits_per_table=8)
    rows = out.collect()
    assert {r.qid for r in rows} <= {0, 1, 2}
    assert all(1 <= r.rnk <= 5 for r in rows)


def test_ann_ivf_topk_recall_on_clustered_vectors(spark):
    """IVF-flat (spherical k-means lists + nprobe probing + exact
    re-rank) must recover the brute-force top-5 on clustered vectors.
    Also pins determinism: the md5-seeded sample and argmax-tie rules
    make train + search reproducible run-to-run."""
    import numpy as np

    from ufuzzy_spark.operators.ann import brute_force_topk, ivf_topk

    rng = np.random.RandomState(42)
    centers = rng.randn(20, 64) * 3
    vecs = [
        (i, (centers[i % 20] + rng.randn(64) * 0.4).astype(float).tolist())
        for i in range(500)
    ]
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = embs.where("vec_id < 5")
    bf = {(r.qid, r.cid) for r in brute_force_topk(embs, q, k=5).collect()}

    def run():
        return {
            (r.qid, r.cid)
            for r in ivf_topk(
                embs, q, k=5, n_centroids=20, nprobe=3, n_iters=5
            ).collect()
        }

    got = run()
    recall = len(bf & got) / len(bf)
    assert recall >= 0.9, f"IVF recall {recall} too low"
    assert run() == got, "ivf_topk is not deterministic"


def test_ann_ivf_centroids_shape_and_reuse(spark):
    """train_ivf_centroids returns a (K, dim) float64 model; passing it
    back into ivf_topk skips retraining and yields identical results
    (the write-once corpus-assignment contract at scale)."""
    import numpy as np

    from ufuzzy_spark.operators.ann import ivf_topk, train_ivf_centroids

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = train_ivf_centroids(embs, n_centroids=8, n_iters=2)
    assert cents.shape == (8, 64) and cents.dtype == np.float64
    q = embs.where("vec_id < 3")
    a = ivf_topk(embs, q, k=5, nprobe=2, centroids=cents).collect()
    b = ivf_topk(embs, q, k=5, nprobe=2, centroids=cents).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r.qid for r in a} <= {0, 1, 2}


# -- multimodal plumbing ---------------------------------------------- #

def _png(w, h):
    import struct
    ihdr = struct.pack(">II5B", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + ihdr + b"\x00\x00\x00\x00")


def _gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _jpeg(w, h):
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 3)
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _webp_vp8l(w, h):
    import struct
    bits = (w - 1) | ((h - 1) << 14)
    body = b"\x2f" + struct.pack("<I", bits)[:4]
    return b"RIFF" + struct.pack("<I", 12 + len(body)) + b"WEBPVP8L" \
        + struct.pack("<I", len(body)) + body


def _bmp(w, h):
    import struct
    return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, -h) + b"\x00" * 4


def test_parse_image_header_real_formats():
    """Header decode is REAL (no codec library): each container's
    documented width/height fields must round-trip exactly."""
    from ufuzzy_spark.multimodal.decode import parse_image_header

    cases = [
        (_png(640, 480), ("png", 640, 480)),
        (_gif(320, 200), ("gif", 320, 200)),
        (_jpeg(1920, 1080), ("jpeg", 1920, 1080)),
        (_webp_vp8l(800, 600), ("webp", 800, 600)),
        (_bmp(256, 128), ("bmp", 256, 128)),
        (b"not an image at all", ("unknown", 0, 0)),
        (b"", ("unknown", 0, 0)),
        (b"\x89PNG\r\n\x1a\n", ("unknown", 0, 0)),  # truncated
    ]
    for payload, want in cases:
        assert parse_image_header(payload) == want, want


def test_multimodal_decode_schema_and_determinism(spark):
    from ufuzzy_spark.multimodal.decode import decode_images

    rows = [
        ("png1", _png(64, 32)),
        ("gif1", _gif(10, 20)),
        ("jpg1", _jpeg(300, 150)),
        ("webp1", _webp_vp8l(77, 88)),
        ("junk", bytes(150)),
    ]
    df = spark.createDataFrame(rows, ["url", "payload"])
    out = decode_images(df).collect()
    assert len(out) == 5
    by_url = {r.url: r for r in out}
    assert (by_url["png1"].format, by_url["png1"].width, by_url["png1"].height) == ("png", 64, 32)
    assert (by_url["jpg1"].width, by_url["jpg1"].height) == (300, 150)
    assert (by_url["webp1"].width, by_url["webp1"].height) == (77, 88)
    assert by_url["junk"].format == "unknown"
    assert by_url["junk"].n_bytes == 150
    out2 = {r.url: r for r in decode_images(df).collect()}
    assert all(
        (out2[u].width, out2[u].height) == (r.width, r.height)
        for u, r in by_url.items()
    )


def test_verify_pairs_survives_literal_placeholder(spark):
    """Page text may hold the oracle's quoted-span placeholder
    (oracle.EXACT_HERE) as a plain word: the verify and pair_features
    jobs must return that pair's row instead of failing the job."""
    from ufuzzy_spark.operators.pair_features import pair_features
    from ufuzzy_spark.operators.verify import verify_pairs
    from ufuzzy_spark.oracle import EXACT_HERE

    normed = spark.createDataFrame(
        [("a", f"{EXACT_HERE} alpha beta gamma"), ("b", "alpha beta gamma delta")],
        ["url", "norm_text"],
    )
    pairs = spark.createDataFrame([("a", "b")], ["url_a", "url_b"])
    rows = verify_pairs(pairs, normed).collect()
    assert [(r.terms_a, r.matched_a, r.terms_b, r.matched_b) for r in rows] == [
        (4, 3, 4, 3)
    ]
    assert len(pair_features(pairs, normed).collect()) == 1


def test_parse_media_header_real_formats():
    """Audio/video header decode is REAL: WAV RIFF walk, FLAC
    STREAMINFO bitfields, MP3 ID3-skip + MPEG frame header, MP4
    ISO-BMFF box walk — each container's documented fields must
    round-trip exactly (builders are the generator-intent writers)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import numpy as np
    from gen_media_fixture import flac_streaminfo, mp3_cbr, mp4_moov, wav_pcm16
    from ufuzzy_spark.multimodal.media import decode_pcm, parse_media_header

    sig = np.full((800, 2), -321, dtype=np.int16)
    sig[7, 1] = -32768  # peak must use |int64| (abs(int16 min) overflows)
    wav = wav_pcm16(16000, 2, sig)
    assert parse_media_header(wav) == ("wav", 50, 16000, 2, 0, 0)
    pcm = decode_pcm(wav)
    assert pcm.shape == (800, 2) and int(np.abs(pcm.astype(np.int64)).max()) == 32768

    assert parse_media_header(flac_streaminfo(44100, 2, 16, 44100 * 61)) == (
        "flac", 61000, 44100, 2, 0, 0)
    assert parse_media_header(mp3_cbr(9, 16000, 50, stereo=True)) == (
        "mp3", 16000 * 8 // 128, 44100, 2, 0, 0)
    assert parse_media_header(mp4_moov(90000, 450000, 1280, 720)) == (
        "mp4", 5000, 0, 0, 1280, 720)

    # round 4: Xing VBR frame count beats the CBR byte estimate, and
    # OGG duration comes from the last page's granule position
    from gen_media_fixture import (
        mp3_xing,
        ogg_data_page,
        ogg_page0,
        opus_head,
        vorbis_id,
    )

    assert parse_media_header(mp3_xing(9, 200, True, 5000)) == (
        "mp3", 200 * 1152 * 1000 // 44100, 44100, 2, 0, 0)
    assert parse_media_header(mp3_xing(9, 10, False, 500)) == (
        "mp3", 10 * 1152 * 1000 // 44100, 44100, 1, 0, 0)
    v = ogg_page0(vorbis_id(22050, 1)) + ogg_data_page(22050 * 7, 1)
    assert parse_media_header(v) == ("ogg", 7000, 22050, 1, 0, 0)
    o = ogg_page0(opus_head(16000, 2)) + ogg_data_page(48312, 1)
    assert parse_media_header(o) == ("ogg", 1000, 16000, 2, 0, 0)
    # page-0-only stays duration 0 (granule of page 0 is 0)
    assert parse_media_header(ogg_page0(vorbis_id(44100, 2)))[1] == 0

    assert parse_media_header(b"garbage bytes here") == ("unknown", 0, 0, 0, 0, 0)
    assert parse_media_header(b"") == ("unknown", 0, 0, 0, 0, 0)
    assert parse_media_header(b"fLaC\x80\x00\x22") == ("unknown", 0, 0, 0, 0, 0)
    assert decode_pcm(flac_streaminfo(44100, 2, 16, 100)) is None


def test_flac_decode_round_trips_every_subframe_type():
    """Round 5: real FLAC bitstream decode (multimodal/flac.py).
    Encoder (scripts/gen_media_fixture.py — independent bit packer +
    table-driven CRCs) -> decoder must be bit-exact for every
    subframe type, stereo decorrelation, partition order, wasted
    bits, and the escape-to-raw residual path."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "scripts"))
    import numpy as np
    from gen_media_fixture import flac_encode, flac_streaminfo
    from ufuzzy_spark.multimodal.flac import decode_flac

    rng = np.random.RandomState(99)
    blk = 128

    # mono: fixed orders 0-4 + constant + verbatim, partition orders 0-2
    sig = np.cumsum(rng.randint(-80, 81, size=7 * blk)).astype(np.int64)
    sig = np.clip(sig, -30000, 30000)
    sig[5 * blk : 6 * blk] = -12345  # constant block
    mono = sig.astype(np.int16).reshape(-1, 1)
    specs = [
        {"assign": "indep", "subs": [("fixed", 0)]},
        {"assign": "indep", "subs": [("fixed", 1, 1)]},
        {"assign": "indep", "subs": [("fixed", 2, 2)]},
        {"assign": "indep", "subs": [("fixed", 3)]},
        {"assign": "indep", "subs": [("fixed", 4)]},
        {"assign": "indep", "subs": [("constant",)]},
        {"assign": "indep", "subs": [("verbatim",)]},
    ]
    out = decode_flac(flac_encode(8000, mono, specs, blk))
    assert out is not None and np.array_equal(out, mono)

    # stereo: all three decorrelation modes + LPC orders 1/2/3
    n = 3 * blk
    lft = np.clip(np.cumsum(rng.randint(-60, 61, size=n)), -20000, 20000)
    rgt = np.clip(np.cumsum(rng.randint(-60, 61, size=n)), -20000, 20000)
    st = np.stack([lft, rgt], axis=1).astype(np.int16)
    st_specs = [
        {"assign": "ls", "subs": [("lpc", [3, -2], 1, 6), ("fixed", 2)]},
        {"assign": "ms", "subs": [("lpc", [1], 0, 4), ("fixed", 1)]},
        {"assign": "rs", "subs": [("fixed", 2),
                                  ("lpc", [2, -2, 1], 1, 6)]},
    ]
    out = decode_flac(flac_encode(44100, st, st_specs, blk))
    assert out is not None and np.array_equal(out, st)

    # wasted bits + escape-to-raw residuals
    w = (((np.arange(blk, dtype=np.int64) * 13) % 400) - 200) * 8
    wv = w.astype(np.int16).reshape(-1, 1)
    out = decode_flac(
        flac_encode(
            16000, wv,
            [{"assign": "indep",
              "subs": [("wasted", 3, ("fixed", 2, 0, 13))]}],
            blk,
        )
    )
    assert out is not None and np.array_equal(out, wv)

    # corruption refusal: frame-body bit flip (CRC-16), header bit
    # flip (CRC-8), truncation, metadata-only stream
    good = flac_encode(
        8000, mono[:blk], [{"assign": "indep", "subs": [("fixed", 2)]}], blk
    )
    body_bad = bytearray(good)
    body_bad[-3] ^= 0x10
    assert decode_flac(bytes(body_bad)) is None
    hdr_bad = bytearray(good)
    hdr_bad[46] ^= 0x04  # frame-number byte inside the frame header
    assert decode_flac(bytes(hdr_bad)) is None
    assert decode_flac(good[: len(good) - 7]) is None
    assert decode_flac(flac_streaminfo(48000, 2, 16, 480000)) is None
    assert decode_flac(b"fLaC") is None
    assert decode_flac(b"not flac at all") is None


# -- catalog ----------------------------------------------------------- #

def test_catalog_snapshots_and_diff(spark, tmp_path):
    from ufuzzy_spark.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(tmp_path / "cat")
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], ["url", "v"])
    s1 = cat.write(df1, "t")
    df2 = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], ["url", "v"])
    s2 = cat.write(df2, "t")
    assert cat.snapshots("t") == [s1, s2]
    assert cat.read(spark, "t").count() == 3
    assert cat.read(spark, "t", s1).count() == 2
    new = cat.diff_new(spark, "t", since=s1)
    assert [r.url for r in new.collect()] == ["c"]


def test_catalog_delta_append_and_read_all(spark, tmp_path):
    """append() writes only new rows; read_all() = most recent FULL
    snapshot + later deltas — so pre-delta catalogs (all-full
    snapshots) read identically, and a full write acts as compaction."""
    from ufuzzy_spark.catalog import LocalParquetCatalog

    cat = LocalParquetCatalog(tmp_path / "cat")
    cat.write(spark.createDataFrame([("a", 1), ("b", 2)], ["url", "v"]), "t")
    cat.append(spark.createDataFrame([("c", 3)], ["url", "v"]), "t")
    cat.append(spark.createDataFrame([("d", 4)], ["url", "v"]), "t")
    assert {r.url for r in cat.read_all(spark, "t").collect()} == {
        "a", "b", "c", "d"
    }
    # latest raw snapshot is just the last delta
    assert cat.read(spark, "t").count() == 1
    # compaction: full write supersedes the delta chain
    cat.write(cat.read_all(spark, "t"), "t")
    cat.append(spark.createDataFrame([("e", 5)], ["url", "v"]), "t")
    assert cat.read_all(spark, "t").count() == 5
    # pre-delta layout (full snapshots only) reads as the latest full
    cat2 = LocalParquetCatalog(tmp_path / "old")
    cat2.write(spark.createDataFrame([("a", 1)], ["url", "v"]), "t")
    cat2.write(spark.createDataFrame([("a", 1), ("b", 2)], ["url", "v"]), "t")
    assert cat2.read_all(spark, "t").count() == 2


# -- incremental dedup -------------------------------------------------- #

def test_incremental_matches_batch(spark, tmp_path):
    """Two incremental batches must produce the same clusters as one
    full batch run (resume-equivalence for ingest)."""
    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pages, _ = gen_corpus(600, seed=7, label_pairs=False)
    full = spark.createDataFrame(pages)

    batch_res = run_pipeline(spark, full)
    batch = {
        (r.url, r.cluster_id)
        for r in batch_res.clusters.select("url", "cluster_id").collect()
    }

    cat = LocalParquetCatalog(tmp_path / "inc")
    half = len(pages) // 2
    p1 = spark.createDataFrame(pages[:half])
    p2 = spark.createDataFrame(pages[half:])
    incremental_dedup(spark, cat, p1)
    # 50/50 split: pin the DELTA leg (the adaptive cutover would route
    # this split to _batch_recompute; that leg has its own test)
    inc_clusters = incremental_dedup(spark, cat, p2, batch_cutover_frac=None)
    inc = {(r.url, r.cluster_id) for r in inc_clusters.collect()}

    # same co-clustering (cluster ids are min-url so directly comparable)
    assert inc == batch


def test_cutover_matches_batch_and_incremental(spark, tmp_path):
    """Adaptive cutover (VERDICT r4 #3): a 50/50 snapshot routes to
    _batch_recompute (full bucket recount with sig/verdict memo) while
    a delta-forced run of the SAME split uses the touched-bucket
    machinery — both must equal batch run_pipeline over the union,
    including is_canonical, and the cutover leg's state must remain
    ingestable (a later small snapshot over it still equals batch)."""
    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pages, _ = gen_corpus(450, seed=23, label_pairs=False)
    half = len(pages) // 2
    tail = pages[-30:]
    body = pages[:-30]

    bres = run_pipeline(spark, spark.createDataFrame(body))
    batch = {
        (r.url, r.cluster_id, r.is_canonical) for r in bres.clusters.collect()
    }
    bres.unpersist()

    # leg A: default cutover — the 50/50 second snapshot must take the
    # batch_recompute path (mode stat pins which leg actually ran)
    cat_a = LocalParquetCatalog(tmp_path / "cut_a")
    incremental_dedup(spark, cat_a, spark.createDataFrame(body[:half]))
    st_a: dict = {}
    got_a = incremental_dedup(
        spark, cat_a, spark.createDataFrame(body[half:]), stats_out=st_a
    )
    assert st_a["mode"] == "batch_recompute"
    assert {(r.url, r.cluster_id, r.is_canonical) for r in got_a.collect()} == batch

    # leg B: delta-forced on the same split
    cat_b = LocalParquetCatalog(tmp_path / "cut_b")
    incremental_dedup(spark, cat_b, spark.createDataFrame(body[:half]))
    st_b: dict = {}
    got_b = incremental_dedup(
        spark,
        cat_b,
        spark.createDataFrame(body[half:]),
        stats_out=st_b,
        batch_cutover_frac=None,
    )
    assert st_b["mode"] == "delta"
    assert {(r.url, r.cluster_id, r.is_canonical) for r in got_b.collect()} == batch

    # the cutover leg's written state (full pair_cnt recount) must be a
    # valid basis for later DELTA ingests
    st_c: dict = {}
    got_c = incremental_dedup(
        spark, cat_a, spark.createDataFrame(tail), stats_out=st_c
    )
    assert st_c["mode"] == "delta"
    bres2 = run_pipeline(spark, spark.createDataFrame(pages))
    batch2 = {
        (r.url, r.cluster_id, r.is_canonical) for r in bres2.clusters.collect()
    }
    bres2.unpersist()
    assert {(r.url, r.cluster_id, r.is_canonical) for r in got_c.collect()} == batch2


def test_incremental_matches_batch_under_bucket_cap(spark, tmp_path):
    """Regression (round 3): with buckets over max_bucket_size, the
    salted-cap star-overflow expansion is not incrementally
    decomposable — the round-2 'new x all band join' diverged from
    batch exactly here. The rewrite reruns the SAME capped generator
    over cumulative state, so equality must hold under a tiny cap, and
    snapshot 2 must never re-verify an old x old pair."""
    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.config import PipelineConfig
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pcfg = PipelineConfig(max_bucket_size=2, salt_buckets=2)
    pages, _ = gen_corpus(300, seed=11, label_pairs=False)
    full = spark.createDataFrame(pages)

    batch_res = run_pipeline(spark, full, pcfg=pcfg)
    batch = {
        (r.url, r.cluster_id)
        for r in batch_res.clusters.select("url", "cluster_id").collect()
    }
    batch_res.unpersist()

    cat = LocalParquetCatalog(tmp_path / "inc_cap")
    half = len(pages) // 2
    incremental_dedup(spark, cat, spark.createDataFrame(pages[:half]), pcfg=pcfg)
    stats: dict = {}
    inc_clusters = incremental_dedup(
        spark, cat, spark.createDataFrame(pages[half:]), pcfg=pcfg,
        stats_out=stats, batch_cutover_frac=None,
    )
    inc = {(r.url, r.cluster_id) for r in inc_clusters.collect()}

    assert inc == batch
    assert stats["old_x_old_reverified"] == 0
    # round 4 strengthened the invariant: unchanged old x old pairs
    # are never REGENERATED at all (cand_pairs counts only delta rows
    # from touched buckets), and verification is bounded by the pairs
    # that actually appeared
    assert stats["pairs_verified"] <= stats["pairs_added"]
    assert stats["pairs_verified"] <= stats["cand_pairs"]


def test_incremental_guards_reject_corrupting_inputs(spark, tmp_path):
    """State-integrity guards (round-3 review): re-ingesting a known
    url would put it twice in the normed state and bridge its old/new
    content clusters; a legacy (pre-round-3 bands/edges) catalog would
    be silently treated as empty. Both must raise, loudly."""
    import pytest as _pytest

    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pages, _ = gen_corpus(60, seed=3, label_pairs=False)
    df = spark.createDataFrame(pages)

    cat = LocalParquetCatalog(tmp_path / "re_ingest")
    incremental_dedup(spark, cat, df)
    with _pytest.raises(ValueError, match="already ingested"):
        incremental_dedup(spark, cat, df.limit(5))

    # a single snapshot carrying the same url twice (ADVICE r4 low):
    # two normed rows under one identity key would corrupt every state
    # table — must raise BEFORE any state is written
    dup_snap = df.limit(5).unionByName(df.limit(3))
    with _pytest.raises(ValueError, match="within itself"):
        incremental_dedup(
            spark, cat := LocalParquetCatalog(tmp_path / "intra_dup"), dup_snap
        )
    assert not cat.exists("normed")  # refused loudly, wrote nothing

    legacy = LocalParquetCatalog(tmp_path / "legacy")
    legacy.write(
        spark.createDataFrame(
            [("u", 1, 2)], "url string, band_id int, band_hash long"
        ),
        "bands",
    )
    with _pytest.raises(ValueError, match="legacy state"):
        incremental_dedup(spark, legacy, df)


def test_incremental_pair_retirement_matches_batch(spark, tmp_path):
    """The O(new+touched) hard path (round 4): shuffled snapshot order
    puts smaller urls in LATER snapshots, so cap-rank shifts inside
    over-cap buckets RETIRE pairs no other bucket carries — the
    refcount must drop them and the incident components must dissolve
    and re-solve, still bit-equal to batch (including is_canonical).
    Seed pinned from a sweep where retirement provably fires."""
    import random

    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.config import PipelineConfig
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pcfg = PipelineConfig(max_bucket_size=2, salt_buckets=2)
    pages, _ = gen_corpus(400, seed=13, label_pairs=False)
    random.Random(1301).shuffle(pages)
    cuts = [len(pages) // 3, 2 * len(pages) // 3]
    snaps = [pages[: cuts[0]], pages[cuts[0] : cuts[1]], pages[cuts[1] :]]

    cat = LocalParquetCatalog(tmp_path / "retire")
    final, removed, dissolved = None, 0, 0
    for s in snaps:
        st: dict = {}
        final = incremental_dedup(
            spark, cat, spark.createDataFrame(s), pcfg=pcfg, stats_out=st,
            batch_cutover_frac=None,
        )
        removed += st["pairs_removed"]
        dissolved += st["dissolved_components"]
        assert st["old_x_old_reverified"] == 0
    assert removed > 0 and dissolved > 0  # the hard path actually ran

    inc = {(r.url, r.cluster_id, r.is_canonical) for r in final.collect()}
    bres = run_pipeline(spark, spark.createDataFrame(pages), pcfg=pcfg)
    bat = {
        (r.url, r.cluster_id, r.is_canonical) for r in bres.clusters.collect()
    }
    bres.unpersist()
    assert inc == bat


def test_incremental_rep_churn_matches_batch(spark, tmp_path):
    """A later snapshot carrying the SAME content under a smaller url
    churns the exact-dedup representative: every bucket that hash
    posts to is touched, its pairs re-key onto the new rep url, and
    the final clusters still equal batch."""
    import datetime as dt

    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    def page(url, text, i):
        return {
            "url": url,
            "warc_ts": t0 + dt.timedelta(seconds=i),
            "html": b"<html><body>" + text.encode() + b"</body></html>",
            "text": text,
            "lang": "en",
        }

    base = " ".join(f"token{i:04d} filler words here" for i in range(80))
    near = base.replace("token0040", "tokenXX40")
    other = " ".join(f"unrelated{i:04d} completely different" for i in range(60))
    snap1 = [
        page("https://z.example/en/doc-1", base, 1),
        page("https://y.example/en/doc-2", near, 2),
        page("https://x.example/en/doc-3", other, 3),
    ]
    # same content as doc-1 under a lexically SMALLER url -> churn
    snap2 = [
        page("https://a.example/en/doc-9", base, 9),
        page("https://b.example/en/doc-8", other, 8),
    ]

    cat = LocalParquetCatalog(tmp_path / "churn")
    incremental_dedup(spark, cat, spark.createDataFrame(snap1))
    st: dict = {}
    final = incremental_dedup(
        spark, cat, spark.createDataFrame(snap2), stats_out=st,
        batch_cutover_frac=None,
    )
    assert st["reps_churned"] >= 1

    inc = {(r.url, r.cluster_id, r.is_canonical) for r in final.collect()}
    bres = run_pipeline(spark, spark.createDataFrame(snap1 + snap2))
    bat = {
        (r.url, r.cluster_id, r.is_canonical) for r in bres.clusters.collect()
    }
    bres.unpersist()
    assert inc == bat


def test_incremental_config_guard_rejects_mismatch(spark, tmp_path):
    """State is config-bound (ADVICE r3 medium): band layouts, verify
    windows and memoized verdicts bake the PipelineConfig in — a later
    ingest under a different config must raise, not silently reuse."""
    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.config import PipelineConfig
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pages, _ = gen_corpus(40, seed=2, label_pairs=False)
    df = spark.createDataFrame(pages)
    cat = LocalParquetCatalog(tmp_path / "guard")
    incremental_dedup(spark, cat, df.limit(20))
    with pytest.raises(ValueError, match="config_hash"):
        incremental_dedup(
            spark,
            cat,
            df,
            pcfg=PipelineConfig(verify_window_chars=64),
        )


def test_incremental_auto_compaction_preserves_state(spark, tmp_path):
    """compact_every bounds every delta chain; compaction (including
    pair_cnt's refcount aggregation) must not change the logical state
    — later ingests over a compacted catalog still equal batch."""
    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pages, _ = gen_corpus(160, seed=5, label_pairs=False)
    quarters = [pages[i::4] for i in range(4)]
    cat = LocalParquetCatalog(tmp_path / "compact")
    final = None
    for q in quarters:
        final = incremental_dedup(
            spark, cat, spark.createDataFrame(q), compact_every=2,
            batch_cutover_frac=None,
        )
    # the chain was compacted at least once and stays bounded
    assert cat.deltas_since_full("pair_cnt") <= 2
    assert cat.deltas_since_full("sigs") <= 2

    inc = {(r.url, r.cluster_id, r.is_canonical) for r in final.collect()}
    bres = run_pipeline(spark, spark.createDataFrame(pages))
    bat = {
        (r.url, r.cluster_id, r.is_canonical) for r in bres.clusters.collect()
    }
    bres.unpersist()
    assert inc == bat


def test_windowed_state_verify_matches_batch(spark, tmp_path):
    """ADVICE r3 low: the incremental state stores only the verify
    window of norm_text. Batch verify_pairs windows identically
    (operators/verify.py substrings BEFORE the UDF), so window-equal
    docs with differing tails — even with zero >=2-char window terms —
    get the SAME verdict in both paths. Pin that non-divergence."""
    import datetime as dt

    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    t0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)

    def page(url, text, i):
        return {
            "url": url,
            "warc_ts": t0 + dt.timedelta(seconds=i),
            "html": b"<html><body>" + text.encode() + b"</body></html>",
            "text": text,
            "lang": "en",
        }

    # identical first 2*512 normalized chars, tails differ; variant A
    # has normal terms, variant B has ONLY single-char tokens in the
    # window (zero extractable >=2-char terms — the exact-path probe)
    base_terms = " ".join(f"shared{i:04d} prefix tokens" for i in range(60))
    base_chars = " ".join("abcdefgh"[i % 8] for i in range(1100))
    rows = [
        page("https://s1.example/en/a", base_terms + " tail one alpha", 1),
        page("https://s2.example/en/b", base_terms + " other ending beta", 2),
        page("https://s1.example/en/c", base_chars + " longtail gamma rays", 3),
        page("https://s2.example/en/d", base_chars + " different delta coda", 4),
    ]
    snap1, snap2 = rows[:2], rows[2:]

    cat = LocalParquetCatalog(tmp_path / "windowed")
    incremental_dedup(spark, cat, spark.createDataFrame(snap1))
    final = incremental_dedup(
        spark, cat, spark.createDataFrame(snap2), batch_cutover_frac=None
    )

    inc = {(r.url, r.cluster_id, r.is_canonical) for r in final.collect()}
    bres = run_pipeline(spark, spark.createDataFrame(rows))
    bat = {
        (r.url, r.cluster_id, r.is_canonical) for r in bres.clusters.collect()
    }
    bres.unpersist()
    assert inc == bat


def test_incremental_mixed_mode_sequence_matches_batch(spark, tmp_path):
    """Sequence closure across all three ingest modes: initial ->
    delta -> delta (auto-compaction fires, compact_every=2) ->
    CUTOVER landing on the compacted delta chain -> delta over the
    cutover-written full pair_cnt recount. After EVERY snapshot the
    catalog clusters must equal run_pipeline over the union so far —
    the single-transition tests pin each edge; this pins the chain
    (a cutover mid-chain replaces the pair_cnt delta chain with a
    full recount, and later deltas must compose with that)."""
    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pages, _ = gen_corpus(300, seed=31, label_pairs=False)
    # en-only slices so the post-lang-filter fractions (the cutover
    # decision input) are exact and the mode sequence is deterministic
    en = [p for p in pages if p["lang"] == "en"]
    assert len(en) >= 260
    sizes = [100, 25, 20, 85, 30]  # fracs: -, .20, .138, .37, .115
    cuts = [sum(sizes[: i + 1]) for i in range(len(sizes))]
    snaps = [en[(cuts[i - 1] if i else 0): c] for i, c in enumerate(cuts)]
    expected_modes = [
        "initial", "delta", "delta", "batch_recompute", "delta",
    ]

    cat = LocalParquetCatalog(tmp_path / "mixed")
    seen: list = []
    for snap, want_mode in zip(snaps, expected_modes):
        seen.extend(snap)
        stats: dict = {}
        got = incremental_dedup(
            spark, cat, spark.createDataFrame(snap),
            stats_out=stats, compact_every=2,
        )
        assert stats["mode"] == want_mode, (stats["mode"], want_mode)
        inc = {(r.url, r.cluster_id, r.is_canonical) for r in got.collect()}
        bres = run_pipeline(spark, spark.createDataFrame(seen))
        bat = {
            (r.url, r.cluster_id, r.is_canonical)
            for r in bres.clusters.collect()
        }
        bres.unpersist()
        assert inc == bat, f"diverged after {want_mode} snapshot"
    # the chain stayed bounded through the mode changes
    assert cat.deltas_since_full("pair_cnt") <= 2
    assert cat.deltas_since_full("sigs") <= 2


def _rows(df):
    return sorted(map(tuple, df.select(*sorted(df.columns)).collect()))


def _pair_sums(spark, cat):
    """Logical pair refcounts (url_a, url_b, d) of a catalog."""
    from pyspark.sql import functions as F

    return _rows(
        cat.read_all(spark, "pair_cnt")
        .groupBy("url_a", "url_b")
        .agg(F.sum("d").alias("d"))
        .where("d != 0")
    )


def _ingest_seed13(spark, root, frac, jobs=None):
    """The same two snapshots (shuffled seed-13 corpus, bucket cap 2)
    into a fresh catalog at ``root``; returns (catalog, last mode).
    ``jobs``, when given, receives each ingest's Spark job count."""
    import random

    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.config import PipelineConfig
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pcfg = PipelineConfig(max_bucket_size=2, salt_buckets=2)
    pages, _ = gen_corpus(300, seed=13, label_pairs=False)
    random.Random(1301).shuffle(pages)
    cat = LocalParquetCatalog(root)
    for i, snap in enumerate((pages[:200], pages[200:])):
        stats: dict = {}
        n_jobs = _count_jobs(
            spark,
            f"{root}#{i}",
            lambda: incremental_dedup(
                spark, cat, spark.createDataFrame(snap), pcfg=pcfg,
                stats_out=stats, batch_cutover_frac=frac,
            ),
        )
        if jobs is not None:
            jobs.append(n_jobs)
    return cat, stats["mode"]


def test_incremental_legs_write_equal_state(spark, tmp_path):
    """Both legs verify and persist through the same steps: after the
    same two snapshots, a catalog whose second ingest took the delta
    leg and one whose second ingest took the cutover hold the same
    sigs and normed rows, the same logical pair refcounts and the same
    clusters, and each has a verdict for every current pair. The
    shuffled order and tiny bucket cap make the delta leg retire pairs
    and recount over-cap buckets."""
    delta, delta_mode = _ingest_seed13(spark, tmp_path / "delta", None)
    cut, cut_mode = _ingest_seed13(spark, tmp_path / "cut", 0.0)
    assert (delta_mode, cut_mode) == ("delta", "batch_recompute")

    for table in ("sigs", "normed"):
        assert _rows(delta.read_all(spark, table)) == _rows(
            cut.read_all(spark, table)
        ), table
    assert _pair_sums(spark, delta) == _pair_sums(spark, cut)
    assert _rows(delta.read(spark, "clusters")) == _rows(cut.read(spark, "clusters"))

    for cat in (delta, cut):
        url_hash = dict(
            cat.read_all(spark, "normed").select("url", "content_hash").collect()
        )
        judged = {
            (r.hash_lo, r.hash_hi)
            for r in cat.read_all(spark, "verdicts").collect()
        }
        for _d, url_a, url_b in _pair_sums(spark, cat):  # columns sorted by name
            ha, hb = url_hash[url_a], url_hash[url_b]
            assert (min(ha, hb), max(ha, hb)) in judged, (url_a, url_b)


def test_incremental_plain_joins_write_equal_state(spark, tmp_path, monkeypatch):
    """The ingest path past the broadcast budget, which test-sized data
    never reaches: with ``BCAST_MAX_BYTES`` below every guarded side
    (-1: empty sides included) and Spark's own size-based broadcast
    off, every ingest join plans sort-merge. The same two snapshots
    (batch leg, then delta leg) must write the same state as with the
    default budget."""
    import ufuzzy_spark.session as session

    bcast, bcast_mode = _ingest_seed13(spark, tmp_path / "bcast", None)
    monkeypatch.setattr(session, "BCAST_MAX_BYTES", -1)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain, plain_mode = _ingest_seed13(spark, tmp_path / "plain", None)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert bcast_mode == plain_mode == "delta"

    for table in ("sigs", "normed", "verdicts"):
        assert _rows(bcast.read_all(spark, table)) == _rows(
            plain.read_all(spark, table)
        ), table
    assert _pair_sums(spark, bcast) == _pair_sums(spark, plain)
    assert _rows(bcast.read(spark, "clusters")) == _rows(plain.read(spark, "clusters"))


def test_pair_features_counters_match_oracle(spark):
    """pair_features must emit exactly what oracle.info computes for
    the same needle/haystack (exercises the Arrow plumbing)."""
    from ufuzzy_spark.config import PipelineConfig
    from ufuzzy_spark.oracle import UFuzzyOracle
    from ufuzzy_spark.operators.pair_features import pair_features

    rows = [
        ("a1", "the quick brown fox jumps over the lazy dog"),
        ("a2", "the quick brown fox leaps over the lazy dog"),
        ("b1", "metric name http requests total counter"),
        ("b2", "counter total requests http name metric"),   # permuted
        ("c1", "completely unrelated text about wizards"),
    ]
    normed = spark.createDataFrame(rows, ["url", "norm_text"])
    pairs = spark.createDataFrame(
        [("a1", "a2"), ("b1", "b2"), ("a1", "c1")], ["url_a", "url_b"]
    )
    pcfg = PipelineConfig()
    out = {(r.url_a, r.url_b): r for r in pair_features(pairs, normed, pcfg).collect()}

    # in-order near-dup: pre-reduced multi-term needle ('jumps' is
    # dropped by the per-term AND pass, the other 4 terms match)
    r = out[("a1", "a2")]
    assert r.matched and r.matched_terms == 5  # the,quick,brown,fox,over
    assert r.chars > 0 and r.start == 0
    assert len(r.ranges) >= 2 and r.ranges[0] == r.start

    # permuted dup: degrades to longest-single-term evidence
    r = out[("b1", "b2")]
    assert r.matched and r.matched_terms == 1

    # cross-check counters against the oracle directly (same
    # pre-reduced needle the operator builds: jumps drops out)
    uf = UFuzzyOracle(pcfg.match)
    texts = dict(rows)
    all_terms = [t for t in uf.split(texts["a1"][:512]) if len(t) >= 2]
    kept = [t for t in all_terms if uf.filter([texts["a2"][:1024]], t)][:5]
    needle = " ".join(kept)
    info = uf.info([0], [texts["a2"][:1024]], needle)
    r = out[("a1", "a2")]
    assert (r.chars, r.terms, r.intra_ins, r.inter_ins) == (
        info["chars"][0], info["terms"][0],
        info["intraIns"][0], info["interIns"][0],
    )
    assert list(r.ranges) == [int(x) for x in info["ranges"][0]]


def test_refine_probe_matches_oracle_info(spark):
    """The native refine algebra in entry_queries.q_refine_match_probe
    must equal oracle.info()'s post-refineMatch start/intraIns
    (uFuzzy.mjs:524-539,754-761) on every matching sf0.001 doc."""
    from ufuzzy_spark.config import MatchConfig
    from ufuzzy_spark.entry_queries import (
        _REFINE_CFG_KW,
        _REFINE_TERM,
        q_refine_match_probe,
    )
    from ufuzzy_spark.latinize import latinize
    from ufuzzy_spark.oracle import UFuzzyOracle

    sf = "/root/testdata/sf0.001"
    got = {
        r["doc_id"]: (r["start"], r["intra_ins"], r["refined"])
        for r in q_refine_match_probe(spark, sf).collect()
    }
    uf = UFuzzyOracle(MatchConfig(**_REFINE_CFG_KW))
    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "text"
    ).collect()
    n_refined = 0
    for row in docs:
        norm = latinize(row["text"]).lower()
        idxs = uf.filter([norm], _REFINE_TERM)
        if not idxs:
            assert row["doc_id"] not in got
            continue
        info = uf.info(idxs, [norm], _REFINE_TERM)
        start, intra = got[row["doc_id"]][0], got[row["doc_id"]][1]
        assert info["start"][0] == start, row["doc_id"]
        assert info["intraIns"][0] == intra, row["doc_id"]
        n_refined += int(got[row["doc_id"]][2])
    assert n_refined > 0, "corpus never exercises the refine path"


def test_srp_lsh_ann_recall_on_clustered_vectors(spark):
    """lsh_topk (SRP buckets + exact re-rank) must reach recall >= 0.95
    vs the exact brute-force oracle. Testdata embeddings are uniform
    random (no neighbor structure — CLAUDE.md), so this uses synthetic
    clustered vectors: 50 centers x 40 points at ~0.9 within-cluster
    cosine, the regime ANN is for."""
    import numpy as np

    from ufuzzy_spark.operators.ann import brute_force_topk, lsh_topk

    rng = np.random.RandomState(7)
    centers = rng.randn(50, 64)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for ci in range(50):
        for _ in range(40):
            v = centers[ci] + 0.04 * rng.randn(64)
            rows.append((len(rows), [float(x) for x in v]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = embs.where("vec_id % 200 = 0")  # 10 queries, one per 5th cluster

    truth: dict = {}
    for r in brute_force_topk(embs, q, k=10).collect():
        truth.setdefault(r["qid"], set()).add(r["cid"])
    got: dict = {}
    for r in lsh_topk(embs, q, k=10, n_tables=16, bits_per_table=8).collect():
        got.setdefault(r["qid"], set()).add(r["cid"])
    recall = sum(
        len(truth[k] & got.get(k, set())) / len(truth[k]) for k in truth
    ) / len(truth)
    assert recall >= 0.95, recall


# -- grouped suffix-array pass ----------------------------------------- #

def _lcs_pairs_oracle(urls, texts, k):
    """Exhaustive oracle: pair shares a >=k substring iff their k-gram
    sets intersect."""
    grams = [
        {t[i: i + k] for i in range(len(t) - k + 1)} for t in texts
    ]
    out = set()
    for i in range(len(urls)):
        for j in range(i + 1, len(urls)):
            if grams[i] & grams[j]:
                out.add(tuple(sorted((urls[i], urls[j]))))
    return out


def test_suffix_array_group_pairs_match_exhaustive_oracle():
    """group_substring_pairs (prefix-doubling SA + Kasai LCP) must
    emit exactly the pairs sharing a >= min_len substring."""
    import random

    from ufuzzy_spark.operators.suffix_array import group_substring_pairs

    rng = random.Random(5)
    alpha = "abcdef "
    shared = ["".join(rng.choice(alpha) for _ in range(40)) for _ in range(4)]
    urls, texts = [], []
    for i in range(30):
        body = "".join(rng.choice(alpha) for _ in range(rng.randint(50, 200)))
        if rng.random() < 0.6:
            s = rng.choice(shared)
            pos = rng.randrange(len(body))
            body = body[:pos] + s + body[pos:]
        urls.append(f"u{i:02d}")
        texts.append(body)

    for min_len in (20, 40):
        got = group_substring_pairs(urls, texts, min_len, max_run_docs=999)
        want = _lcs_pairs_oracle(urls, texts, min_len)
        assert got == want, (min_len, got ^ want)


def test_suffix_array_star_degradation_preserves_connectivity():
    from ufuzzy_spark.operators.suffix_array import group_substring_pairs

    shared = "x" * 64
    urls = [f"u{i}" for i in range(12)]
    # distinct single-char tails, no separators: the ONLY >=64-char
    # common substring between any two docs is the x-run itself
    texts = [shared + chr(65 + i) for i in range(12)]
    pairs = group_substring_pairs(urls, texts, 64, max_run_docs=5)
    # star: hub u0 connects all 11 others; no quadratic 66-pair blowup
    assert len(pairs) == 11
    nodes = {u for p in pairs for u in p}
    assert nodes == set(urls)
    assert all("u0" in p for p in pairs)


def test_suffix_array_pairs_spark_matches_pure(spark):
    """suffix_array_pairs (applyInPandas) == the pure per-group
    function, and groups are never cross-compared."""
    import random

    from ufuzzy_spark.operators.suffix_array import (
        group_substring_pairs,
        suffix_array_pairs,
    )

    rng = random.Random(11)
    shared = "the quick brown fox jumps over the lazy dog " * 2
    rows = []
    for g in range(4):
        for i in range(12):
            body = "".join(rng.choice("abcdef ") for _ in range(150))
            if i % 3 == 0:
                body += shared  # same shared text in EVERY group
            rows.append((f"g{g}u{i:02d}", f"grp{g}", body))
    normed = spark.createDataFrame(
        [(u, t) for u, _, t in rows], "url string, norm_text string"
    )
    groups = spark.createDataFrame(
        [(u, g) for u, g, _ in rows], "url string, group_id string"
    )
    got = {
        (r.url_a, r.url_b)
        for r in suffix_array_pairs(normed, groups, min_len=64).collect()
    }
    want = set()
    for g in range(4):
        sub = [(u, t) for u, gg, t in rows if gg == f"grp{g}"]
        want |= group_substring_pairs(
            [u for u, _ in sub], [t for _, t in sub], 64
        )
    assert got == want and got
    # cross-group pairs must NOT appear despite identical shared text
    assert all(a[:2] == b[:2] for a, b in got)


def test_adjacent_lcp_matches_kasai():
    """The vectorized rank-level LCP descent must equal Kasai's
    per-character reference on random and pathological inputs."""
    import numpy as np

    from ufuzzy_spark.operators.suffix_array import (
        adjacent_lcp,
        build_suffix_array,
        kasai_lcp,
    )

    rng = np.random.RandomState(7)
    cases = [
        rng.randint(0, 4, size=300).astype(np.int64),       # repetitive
        rng.randint(0, 1000, size=257).astype(np.int64),    # diverse
        np.ones(100, dtype=np.int64),                        # degenerate run
        np.array([5], dtype=np.int64),
        np.empty(0, dtype=np.int64),
        # regression (round-3 review): a literal -1 code used to
        # collide with the out-of-range second-key fill on the raw-
        # codes round, merging distinct suffixes (lcp 2 vs true 1)
        np.array([5, -1, 5], dtype=np.int64),
        rng.randint(-3, 3, size=200).astype(np.int64),      # negative codes
    ]
    for codes in cases:
        sa, levels = build_suffix_array(codes, keep_levels=True)
        got = adjacent_lcp(sa, levels)
        want = kasai_lcp(codes, sa)
        assert np.array_equal(got, want), (codes[:20], got, want)
        # and sa itself must be the true suffix sort
        if len(codes) <= 200:
            ref = sorted(range(len(codes)), key=lambda i: codes[i:].tolist())
            assert sa.tolist() == ref


def test_pixel_decode_round_trip():
    """decode_pixels must exactly invert a spec-conformant PNG encoder
    (all 5 filter types) and our own BMP encoder; make_thumbnail must
    produce the nearest-neighbor stride downsample; codec-requiring
    formats must return None (honest gap)."""
    import struct
    import zlib

    import numpy as np

    from ufuzzy_spark.multimodal.decode import (
        decode_pixels,
        encode_bmp,
        make_thumbnail,
        parse_image_header,
    )

    rng = np.random.RandomState(0)

    def png_bytes(px, color_type, filters):
        h, w, ch = px.shape
        raw = bytearray()
        prev = np.zeros((w, ch), dtype=np.int16)
        for y in range(h):
            ft = filters[y % len(filters)]
            line = px[y].astype(np.int16)
            if ft == 0:
                enc = line
            elif ft == 1:
                enc = line.copy()
                enc[1:] -= line[:-1]
            elif ft == 2:
                enc = line - prev
            elif ft == 3:
                enc = np.empty_like(line)
                for x in range(w):
                    for c in range(ch):
                        left = int(px[y, x - 1, c]) if x > 0 else 0
                        enc[x, c] = int(line[x, c]) - (
                            (left + int(prev[x, c])) >> 1
                        )
            else:  # paeth
                enc = np.empty_like(line)
                for x in range(w):
                    for c in range(ch):
                        a = int(px[y, x - 1, c]) if x > 0 else 0
                        b = int(prev[x, c])
                        cc = (
                            int(px[y - 1, x - 1, c])
                            if (y > 0 and x > 0)
                            else 0
                        )
                        p = a + b - cc
                        pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                        pred = (
                            a
                            if (pa <= pb and pa <= pc)
                            else (b if pb <= pc else cc)
                        )
                        enc[x, c] = int(line[x, c]) - pred
            raw.append(ft)
            raw += (enc & 0xFF).astype(np.uint8).tobytes()
            prev = line

        def chunk(tag, body):
            return (
                struct.pack(">I", len(body))
                + tag
                + body
                + struct.pack(">I", zlib.crc32(tag + body))
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    px = rng.randint(0, 256, size=(23, 17, 3)).astype(np.uint8)
    assert np.array_equal(
        decode_pixels(png_bytes(px, 2, [0, 1, 2, 3, 4])), px
    )
    px4 = rng.randint(0, 256, size=(9, 11, 4)).astype(np.uint8)
    assert np.array_equal(
        decode_pixels(png_bytes(px4, 6, [4, 3, 2, 1, 0])), px4[:, :, :3]
    )
    pxg = rng.randint(0, 256, size=(8, 5, 1)).astype(np.uint8)
    assert np.array_equal(
        decode_pixels(png_bytes(pxg, 0, [1, 2])), np.repeat(pxg, 3, axis=2)
    )
    bmp = encode_bmp(px)
    assert parse_image_header(bmp) == ("bmp", 17, 23)
    assert np.array_equal(decode_pixels(bmp), px)

    # GIF round-trip vs the fixture generator's independent encoder
    # (round 4): palette frames, interlace, and the repetitive stream
    # that exercises the KwKwK code and dictionary growth
    import sys as _sys
    from pathlib import Path as _Path

    _sys.path.insert(0, str(_Path(__file__).resolve().parent.parent / "scripts"))
    from gen_image_fixture import gif_palette

    rng = np.random.RandomState(99)
    for (w, h, nc, inter) in [(70, 45, 256, False), (33, 40, 5, True)]:
        palette = rng.randint(0, 256, size=(nc, 3)).astype(np.uint8)
        idx = rng.randint(0, nc, size=(h, w)).astype(np.uint8)
        assert np.array_equal(
            decode_pixels(gif_palette(idx, palette, interlace=inter)),
            palette[idx],
        ), (w, h, nc, inter)
    rep = np.tile(np.arange(3, dtype=np.uint8), 2000).reshape(50, 120)
    pal3 = np.array([[9, 8, 7], [1, 2, 3], [4, 5, 6]], np.uint8)
    assert np.array_equal(decode_pixels(gif_palette(rep, pal3)), pal3[rep])
    # header-only GIF (no frame) stays honestly undecodable
    assert decode_pixels(b"GIF89a" + b"\x14\x00\x0a\x00" + b"\x00" * 3) is None
    # corrupt palette (ADVICE r4): a well-formed LZW stream whose
    # indices exceed the color table must yield an honest None, not a
    # clamped plausible-but-wrong thumbnail
    import struct as _struct

    from gen_image_fixture import _gif_lzw_encode

    _lzw = _gif_lzw_encode(bytes([0, 1, 2, 3] * 3), 2)  # indices up to 3
    corrupt = (
        b"GIF89a"
        + _struct.pack("<HHBBB", 4, 3, 0x80, 0, 0)  # 2-entry palette
        + bytes(6)
        + b"\x2c" + _struct.pack("<HHHHB", 0, 0, 4, 3, 0)
        + bytes([2, len(_lzw)]) + _lzw + b"\x00\x3b"
    )
    assert decode_pixels(corrupt) is None
    thumb = make_thumbnail(png_bytes(px, 2, [0]), 8)  # step 3 -> 8x6
    assert np.array_equal(decode_pixels(thumb), px[::3, ::3])
    assert make_thumbnail(b"\xff\xd8\xff\xe0junk", 8) is None


def test_pixel_decode_caps_declared_size():
    """A header may declare any geometry: past MAX_PIXELS (64 Mpx)
    decode_pixels returns None before any allocation sized by it. An
    8193 x 8193 GIF screen over a 1 x 1 frame (a ~270 MB canvas and
    palette lookup otherwise), and PNG / JPEG headers declaring the
    same size over tiny valid streams."""
    import struct
    import sys as _sys
    import zlib
    from pathlib import Path as _Path

    import numpy as np

    _sys.path.insert(0, str(_Path(__file__).resolve().parent.parent / "scripts"))
    from gen_image_fixture import _gif_lzw_encode, jpeg_baseline

    from ufuzzy_spark.multimodal.decode import MAX_PIXELS, decode_pixels

    side = 8193
    assert side * side > MAX_PIXELS >= 8192 * 8192

    def gif(sw, sh):
        lzw = _gif_lzw_encode(bytes([1]), 2)
        return (
            b"GIF89a"
            + struct.pack("<HHBBB", sw, sh, 0x80, 0, 0)  # 2-entry palette
            + bytes([0, 0, 0, 255, 255, 255])
            + b"\x2c" + struct.pack("<HHHHB", 0, 0, 1, 1, 0)
            + bytes([2, len(lzw)]) + lzw + b"\x00\x3b"
        )

    assert decode_pixels(gif(2, 1)).tolist() == [[[255, 255, 255], [0, 0, 0]]]
    assert decode_pixels(gif(side, side)) is None
    assert decode_pixels(gif(side, 1)) is not None  # only w x h counts

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    def png(w, h):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
        idat = zlib.compress(bytes(h * (w + 1)))
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
        )

    assert decode_pixels(png(3, 2)).shape == (2, 3, 3)
    assert decode_pixels(png(side, side)) is None

    rng = np.random.RandomState(5)
    jpg, _ = jpeg_baseline(
        [rng.randint(0, 256, size=(8, 8)).astype(np.float64)],
        [(1, 1)], [np.ones(64, np.int64)], 8, 8,
    )
    assert decode_pixels(jpg).shape == (8, 8, 3)
    sof = jpg.index(b"\xff\xc0")
    big = jpg[: sof + 5] + struct.pack(">HH", side, side) + jpg[sof + 9 :]
    assert decode_pixels(big) is None


def test_incremental_state_buckets_matches_batch(spark, tmp_path):
    """state_buckets is layout only: with bucketed full snapshots and
    per-ingest compaction (so the SECOND ingest reads its sigs/normed/
    verdicts state through the registered bucketed tables), clusters
    must still equal batch run_pipeline bit-for-bit."""
    from fixtures.gen import gen_corpus
    from ufuzzy_spark.catalog import LocalParquetCatalog
    from ufuzzy_spark.pipeline import run_pipeline
    from ufuzzy_spark.streaming.incremental import incremental_dedup

    pages, _ = gen_corpus(400, seed=31, label_pairs=False)
    bres = run_pipeline(spark, spark.createDataFrame(pages))
    batch = {
        (r.url, r.cluster_id, r.is_canonical) for r in bres.clusters.collect()
    }
    bres.unpersist()

    cat = LocalParquetCatalog(tmp_path / "bucketed_state")
    cut = (len(pages) * 9) // 10
    incremental_dedup(
        spark,
        cat,
        spark.createDataFrame(pages[:cut]),
        compact_every=1,
        state_buckets=4,
    )
    # the full snapshots on disk really are bucketed (file naming is
    # Spark's bucket suffix: part-...._00003.c000...)
    sigs_files = list((cat.root / "sigs").rglob("part-*_0000*"))
    assert sigs_files, "expected bucketed file layout for sigs"
    got = incremental_dedup(
        spark,
        cat,
        spark.createDataFrame(pages[cut:]),
        compact_every=1,
        state_buckets=4,
        batch_cutover_frac=None,
    )
    assert {(r.url, r.cluster_id, r.is_canonical) for r in got.collect()} == batch


def test_jpeg_baseline_decode_pinned():
    """_jpeg_baseline must reproduce, bit-for-bit, the pixels implied
    by the INDEPENDENT fixture encoder's quantized coefficients, with
    expected pixels reconstructed by a slow direct cosine-sum IDCT
    (different algorithm than the decoder's matrix IDCT): grayscale,
    restart markers, 4:4:4 and 4:2:0 color. Progressive (SOF2) stays
    an honest None."""
    import sys as _sys
    from pathlib import Path as _Path

    import numpy as np

    _sys.path.insert(0, str(_Path(__file__).resolve().parent.parent / "scripts"))
    from gen_image_fixture import _cos16, jpeg_baseline

    from ufuzzy_spark.multimodal.decode import decode_pixels

    def slow_idct(C):
        # _cos16 (hardcoded double literals), not np.cos: keeps this
        # side of the bit-for-bit pin host-independent too (CLAUDE.md
        # cross-host transcendental trap)
        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 0.7071067811865476 if u == 0 else 1.0
                        cv = 0.7071067811865476 if v == 0 else 1.0
                        acc += (
                            cu * cv * C[u, v]
                            * _cos16((2 * x + 1) * u)
                            * _cos16((2 * y + 1) * v)
                        )
                out[x, y] = acc / 4.0
        return out

    def recon(qb, qt):
        nby, nbx = qb.shape[:2]
        pl = np.zeros((nby * 8, nbx * 8))
        qn = np.asarray(qt, np.float64).reshape(8, 8)
        for by in range(nby):
            for bx in range(nbx):
                pl[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = slow_idct(
                    qb[by, bx] * qn
                )
        return pl

    rng = np.random.RandomState(5)

    # grayscale 21x13 (plane 24x16), dequant step 3 on DC
    w, h = 21, 13
    gray = rng.randint(0, 256, size=(16, 24)).astype(np.float64)
    qt = np.ones(64, np.int64)
    qt[0] = 3
    payload, qbs = jpeg_baseline([gray], [(1, 1)], [qt], w, h)
    exp = np.clip(np.round(recon(qbs[0], qt)[:h, :w] + 128.0), 0, 255).astype(
        np.uint8
    )
    got = decode_pixels(payload)
    assert got is not None
    assert np.array_equal(got, np.repeat(exp[:, :, None], 3, axis=2))

    # restart markers: same image, DRI=2 — identical pixels from a
    # segmented bitstream (DC predictors reset per segment)
    payload_r, qbs_r = jpeg_baseline([gray], [(1, 1)], [qt], w, h, dri=2)
    assert payload_r != payload
    got_r = decode_pixels(payload_r)
    assert np.array_equal(got_r, np.repeat(exp[:, :, None], 3, axis=2))

    # 4:2:0 color 19x11: Y 16x32 (2x2 blocks/MCU), chroma 8x16
    w, h = 19, 11
    ypl = rng.randint(0, 256, size=(16, 32)).astype(np.float64)
    cbp = rng.randint(64, 192, size=(8, 16)).astype(np.float64)
    crp = rng.randint(64, 192, size=(8, 16)).astype(np.float64)
    qty = np.ones(64, np.int64)
    qtc = np.full(64, 2, np.int64)
    payload, qbs = jpeg_baseline(
        [ypl, cbp, crp], [(2, 2), (1, 1), (1, 1)], [qty, qtc, qtc], w, h
    )
    yv = recon(qbs[0], qty)[:h, :w] + 128.0
    cbv = np.repeat(np.repeat(recon(qbs[1], qtc), 2, axis=0), 2, axis=1)[:h, :w]
    crv = np.repeat(np.repeat(recon(qbs[2], qtc), 2, axis=0), 2, axis=1)[:h, :w]
    rgb = np.stack(
        [
            yv + 1.402 * crv,
            yv - 0.344136 * cbv - 0.714136 * crv,
            yv + 1.772 * cbv,
        ],
        axis=2,
    )
    exp_rgb = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    assert np.array_equal(decode_pixels(payload), exp_rgb)

    # 4:4:4 color 10x10: all planes 16x16, one block per component/MCU
    w, h = 10, 10
    planes = [
        rng.randint(0, 256, size=(16, 16)).astype(np.float64) for _ in range(3)
    ]
    payload, qbs = jpeg_baseline(
        planes, [(1, 1), (1, 1), (1, 1)], [qty, qtc, qtc], w, h
    )
    yv = recon(qbs[0], qty)[:h, :w] + 128.0
    cbv = recon(qbs[1], qtc)[:h, :w]
    crv = recon(qbs[2], qtc)[:h, :w]
    rgb = np.stack(
        [
            yv + 1.402 * crv,
            yv - 0.344136 * cbv - 0.714136 * crv,
            yv + 1.772 * cbv,
        ],
        axis=2,
    )
    exp_rgb = np.clip(np.round(rgb), 0, 255).astype(np.uint8)
    assert np.array_equal(decode_pixels(payload), exp_rgb)

    # progressive: flip SOF0 -> SOF2; must be an honest None
    assert decode_pixels(payload.replace(b"\xff\xc0", b"\xff\xc2", 1)) is None


def _chain_graph(spark):
    """A 60-node path, a disjoint 31-node path rooted at a lexically
    larger url and one isolated node -> (edges, nodes, component-min
    labels). Label doubling lowers labels in 7 rounds on the 60-node
    path, and an 8th round confirms the fixpoint."""
    edges = [(f"u{i:03d}", f"u{i + 1:03d}") for i in range(59)]
    edges += [(f"w{i:03d}", f"w{i + 1:03d}") for i in range(30)]
    df = spark.createDataFrame(edges, ["url_a", "url_b"])
    nodes = spark.createDataFrame(
        [(f"u{i:03d}",) for i in range(60)]
        + [(f"w{i:03d}",) for i in range(31)]
        + [("zzz_isolated",)],
        ["url"],
    )
    want = {(f"u{i:03d}", "u000") for i in range(60)}
    want |= {(f"w{i:03d}", "w000") for i in range(31)}
    want.add(("zzz_isolated", "zzz_isolated"))
    return df, nodes, want


def _force_loop(monkeypatch):
    """Route every CC call through the distributed label-doubling
    loop: no edge set fits a budget below zero."""
    import ufuzzy_spark.session as session

    monkeypatch.setattr(session, "BCAST_MAX_BYTES", -1)


def _cc_rows(edges, nodes=None, **kwargs):
    """CC output as a multiset of (url, cluster_id) rows."""
    from collections import Counter

    from ufuzzy_spark.operators.components import connected_components

    out = connected_components(edges, all_nodes=nodes, **kwargs)
    return Counter(tuple(r) for r in out.collect())


def _cc_both_paths(monkeypatch, edges, nodes=None):
    """(in-memory finish rows, distributed loop rows) of one graph."""
    finish = _cc_rows(edges, nodes)
    with monkeypatch.context() as m:
        _force_loop(m)
        loop = _cc_rows(edges, nodes)
    return finish, loop


def _cc_labels(spark, **kwargs):
    df, nodes, _ = _chain_graph(spark)
    return set(_cc_rows(df, nodes, **kwargs))


def test_connected_components_long_chain(spark, monkeypatch):
    """Near-dup CHAINS (template pages under successive edits) produce
    high-diameter components — the sf0.1 documents table holds one of
    diameter >= 11, which cost 12 one-hop rounds before pointer
    jumping (round 5). On the loop a 60-node path converges only
    through the jump step (one-hop propagation would need 59 >
    max_iter rounds and raise); the in-memory finish and the loop
    must both give the component-min url exactly."""
    df, nodes, want = _chain_graph(spark)
    finish, loop = _cc_both_paths(monkeypatch, df, nodes)
    assert finish == loop
    assert set(finish) == want and max(finish.values()) == 1


def test_min_labels_matches_sequential_union_find():
    """The finish's vectorized union-find against a plain sequential
    one rooted at the smaller code, on seeded random graphs with
    self-loops, repeated edges and isolated codes."""
    import numpy as np

    from ufuzzy_spark.operators.components import _min_labels

    def sequential(a, b, n):
        parent = list(range(n))

        def root(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for x, y in zip(a, b):
            rx, ry = root(x), root(y)
            parent[max(rx, ry)] = min(rx, ry)
        return [root(x) for x in range(n)]

    rng = np.random.default_rng(5)
    for _ in range(200):
        n = int(rng.integers(1, 120))
        m = int(rng.integers(0, 2 * n))
        a, b = rng.integers(0, n, m), rng.integers(0, n, m)
        assert _min_labels(a, b, n).tolist() == sequential(a, b, n)


def test_connected_components_paths_agree_on_non_ascii_urls(spark, monkeypatch):
    """The finish orders urls by Arrow's UTF-8 byte comparison, the
    loop by Spark's: both are code-point order, which UTF-16 order
    (Java's String.compareTo) is not — a supplementary-plane char
    sorts below U+FF21 in UTF-16 and above it here."""
    import random

    rng = random.Random(29)
    alphabet = ["a", "Z", "0", "~", "é", "ß", "中", "\uff21", "\U0001f600"]
    urls = sorted(
        {
            "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 4)))
            for _ in range(400)
        }
    )
    edges = spark.createDataFrame(
        [(rng.choice(urls), rng.choice(urls)) for _ in range(250)],
        "url_a string, url_b string",
    )
    nodes = spark.createDataFrame([(u,) for u in urls], "url string")
    finish, loop = _cc_both_paths(monkeypatch, edges, nodes)
    assert finish == loop
    assert sum(finish.values()) == len(urls)
    # several multi-node components, so labels are really compared
    assert len({c for u, c in finish if u != c}) > 5


def test_connected_components_paths_agree_on_long_ids(spark, monkeypatch):
    """dup_clusters and embedding_near_dup label long ids: signed
    numeric order, values past 2**53 kept exact."""
    import random

    rng = random.Random(31)
    ids = sorted({rng.choice([-1, 1]) * rng.randrange(1 << 62) for _ in range(300)})
    edges = spark.createDataFrame(
        [(rng.choice(ids), rng.choice(ids)) for _ in range(260)],
        "url_a long, url_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in ids], "url long")
    finish, loop = _cc_both_paths(monkeypatch, edges, nodes)
    assert finish == loop
    assert sum(finish.values()) == len(ids)
    assert len({c for u, c in finish if u != c}) > 5


def test_connected_components_null_endpoint(spark, monkeypatch):
    """A null endpoint is one (null, null) node that connects nothing
    on both paths; the finish must not read its missing code as the
    last node's."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", None), (None, "zz"), ("c", "d"), ("e", None)],
        "url_a string, url_b string",
    )
    nodes = spark.createDataFrame([("a",), ("y",), (None,)], "url string")
    for n in (None, nodes):
        finish, loop = _cc_both_paths(monkeypatch, edges, n)
        assert finish == loop
    assert set(_cc_rows(edges)) == {
        ("a", "a"), ("b", "a"), ("c", "c"), ("d", "c"),
        ("e", "e"), ("zz", "zz"), (None, None),
    }


def test_connected_components_non_convergence_raises(spark, monkeypatch):
    """Labels still moving after max_iter rounds raise instead of
    returning inconsistent cluster ids. max_iter counts the loop's
    rounds that lower labels: 7 suffice for the 60-node path (the
    round that confirms the fixpoint may run as round 8), 6 do not.
    The in-memory finish runs no rounds, so the loop is forced."""
    _force_loop(monkeypatch)
    want = _chain_graph(spark)[2]
    with pytest.raises(RuntimeError, match="did not converge in 6"):
        _cc_labels(spark, max_iter=6)
    assert _cc_labels(spark, max_iter=7) == want
    assert _cc_labels(spark) == want


def _count_jobs(spark, group: str, fn):
    """Spark jobs that ``fn()`` runs, read from the status tracker
    under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the tracker learns of jobs from the asynchronous listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


# Job budgets, each the highest count measured at the commit that set
# it plus one job; job counts barely move where walls swing. Bounds
# only go down: a change that lowers a count tightens its bound, and
# one that raises it says why in CHANGES.md. Measured (local[8], 8
# shuffle partitions, 4 cores): CC over the chain graph 4 in every
# run on the in-memory finish, 63 on the forced loop (79 with a
# limit(1).count() probe per round); the seed-13 delta ingest 140 in
# 12 of 12 runs at the default heap, once its reps joins plan their
# broadcasts statically (165 or 167 before the finish, 142 or 144 with
# AQE converting those joins at run time).
CC_CHAIN_JOBS = 5
CC_LOOP_CHAIN_JOBS = 64
DELTA_INGEST_JOBS = 141


def test_job_budget_cc_and_delta_ingest(spark, tmp_path, monkeypatch):
    """CC over a graph that fits the broadcast budget is one edge
    fence, one collect and the output's own job, not a loop of fenced
    rounds; the forced loop's convergence rides on its round fences
    (8 rounds on the chain graph); the seed-13 delta-leg absorption,
    whose CCs take the finish, stays within its budget."""
    from ufuzzy_spark.operators.components import connected_components

    df, nodes, want = _chain_graph(spark)
    for budget, force in ((CC_CHAIN_JOBS, False), (CC_LOOP_CHAIN_JOBS, True)):
        got = []
        with monkeypatch.context() as m:
            if force:
                _force_loop(m)
            cc_jobs = _count_jobs(
                spark,
                f"budget-cc-{force}",
                lambda: got.extend(
                    connected_components(df, all_nodes=nodes).collect()
                ),
            )
        assert {(r.url, r.cluster_id) for r in got} == want
        assert cc_jobs <= budget, (force, cc_jobs)

    jobs: list[int] = []
    _, mode = _ingest_seed13(spark, tmp_path / "budget", None, jobs)
    assert mode == "delta"
    assert jobs[1] <= DELTA_INGEST_JOBS, jobs


def test_cc_finish_collect_fits_max_result_size(spark):
    """The largest edge set the finish collects (the broadcast budget
    over CC_EDGE_BYTES) stays under spark.driver.maxResultSize, at the
    62-char url width CC_EDGE_BYTES was measured on."""
    from ufuzzy_spark import session
    from ufuzzy_spark.operators.components import CC_EDGE_BYTES

    url = "https://www.example-%05d.com/news/2024/article-%09d.html"
    n = 4096
    edges = spark.range(n).select(
        F.format_string(url, F.col("id") % 99991, F.col("id")).alias("url_a"),
        F.format_string(url, F.col("id") % 7, F.col("id") + 1).alias("url_b"),
    )
    per_edge = edges.toArrow().nbytes / n
    limit = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g"
    )
    max_edges = session.BCAST_MAX_BYTES // CC_EDGE_BYTES
    assert max_edges * per_edge < limit, (max_edges, per_edge, limit)


def test_connected_components_deep_iteration_stays_linear(spark, monkeypatch):
    """Regression pin for the localCheckpoint origin-stats blowup:
    checkpointed self-join loops DOUBLE the preserved sizeInBytes
    BigInteger's bit-length per round, which turned rounds 14-19 into
    2 -> 220 s of pure BigInteger.multiplyToomCook3 under Catalyst
    stats estimation (components.py _STATS_RESET_EVERY comment). A 300k-node
    path needs ~log2(300k) ~= 18-19 jump rounds — enough to cross
    three _STATS_RESET_EVERY fences and reach the formerly-explosive
    regime. Healthy wall is ~linear in rounds (< 2 min here); a
    regression re-introduces minutes-per-round growth and trips the
    bound long before max_iter. A 300k-edge path fits the in-memory
    finish, so the loop is forced."""
    import time

    from ufuzzy_spark.operators.components import connected_components

    _force_loop(monkeypatch)
    n = 300_000
    ids = F.format_string("p%07d", F.col("id"))
    edges = (
        spark.range(n - 1)
        .select(
            ids.alias("url_a"),
            F.format_string("p%07d", F.col("id") + 1).alias("url_b"),
        )
    )
    t0 = time.time()
    out = connected_components(edges, max_iter=30)
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        F.min("cluster_id").alias("min_label"),
        F.max("cluster_id").alias("max_label"),
    ).first()
    wall = time.time() - t0
    assert (agg["n"], agg["n_clusters"]) == (n, 1)
    assert agg["min_label"] == agg["max_label"] == "p0000000"
    assert wall < 180, f"deep CC took {wall:.0f}s — stats blowup is back?"


# ------------------------------------------------------------------ #
# training-data hygiene operators (decontaminate / sampling / textstats)
# ------------------------------------------------------------------ #


def test_ngram_overlap_hashed_equals_raw(spark):
    """The xxhash64-folded scale path must flag the same docs with the
    same counts as the raw-string path the DuckDB oracle pins."""
    from ufuzzy_spark.operators.decontaminate import ngram_overlap

    rows = [
        (0, "the quick brown fox jumps over the lazy dog tonight ok"),
        (1, "quick brown fox jumps over the lazy dog tonight again yes"),
        (2, "completely unrelated content with no shared phrases at all"),
        (3, "the quick brown fox jumps over the lazy dog tonight ok"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "tokens", F.split("text", " ")
    )
    bench = d.where("doc_id = 0")
    train = d.where("doc_id != 0")
    raw = {
        (r.doc_id, r.n_shared_grams)
        for r in ngram_overlap(train, bench, n=8, hashed=False).collect()
    }
    hashed = {
        (r.doc_id, r.n_shared_grams)
        for r in ngram_overlap(train, bench, n=8, hashed=True).collect()
    }
    assert raw == hashed
    assert {r[0] for r in raw} == {1, 3}  # doc 2 shares nothing
    # doc 3 is an exact copy: all 4 of bench doc 0's 8-grams shared
    assert dict(raw)[3] == 4


def test_ngram_overlap_is_broadcast_no_smj(spark):
    from ufuzzy_spark.operators.decontaminate import ngram_overlap
    from ufuzzy_spark.plans.explain import formatted_plan

    d = spark.createDataFrame(
        [(i, f"tok{i} " * 20) for i in range(40)], ["doc_id", "text"]
    ).withColumn("tokens", F.split(F.trim("text"), " "))
    plan = formatted_plan(
        ngram_overlap(d.where("doc_id > 3"), d.where("doc_id <= 3"))
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stratified_sample_deterministic_and_exact(spark):
    """rate 1.0 keeps everything, 0.0 nothing, unknown strata fall to
    default_rate; the sample is a pure row predicate, so re-running
    and superset-running select the identical keys (append-only
    mixture refresh)."""
    from ufuzzy_spark.operators.sampling import stratified_sample

    rows = [(i, ["en", "de", "xx"][i % 3]) for i in range(300)]
    d = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"en": 1.0, "de": 0.5}
    got = stratified_sample(d, rates, "lang", "doc_id")
    by_lang = {
        r.lang: r.n
        for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert by_lang.get("en") == 100          # rate 1.0: all
    assert "xx" not in by_lang               # default_rate 0: none
    assert 20 <= by_lang.get("de", 0) <= 80  # rate 0.5 +- md5 noise

    keys = {r.doc_id for r in got.collect()}
    assert {r.doc_id for r in stratified_sample(d, rates, "lang", "doc_id").collect()} == keys
    # superset corpus keeps every previously selected row
    d2 = d.unionByName(
        spark.createDataFrame(
            [(i, "en") for i in range(300, 350)], ["doc_id", "lang"]
        )
    )
    keys2 = {r.doc_id for r in stratified_sample(d2, rates, "lang", "doc_id").collect()}
    assert keys <= keys2
    # a different salt draws an independent sample
    salted = {
        r.doc_id
        for r in stratified_sample(d, rates, "lang", "doc_id", salt="v2").collect()
    }
    assert salted != keys


def test_stratified_sample_rejects_bad_rate():
    from ufuzzy_spark.operators.sampling import threshold

    with pytest.raises(ValueError):
        threshold(1.5)


def test_repetition_metrics_hand_cases(spark):
    from ufuzzy_spark.operators.textstats import repetition_metrics

    rows = [
        (0, ["a", "a", "a"]),          # g2: [aa,aa] dup 0.5; g3 single: 0; top 1.0
        (1, ["a", "b", "c", "d"]),     # no repeats anywhere
        (2, ["x"]),                    # too short for grams; top 1.0
        (3, []),                       # empty: all zeros
        (4, ["p", "q", "p", "q", "p"]),# g2 dup 0.5; g3 [pqp,qpq,pqp] dup 1/3; top 3/5
    ]
    d = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    got = {
        r.doc_id: (r.frac_dup_2grams, r.frac_dup_3grams, r.top_token_frac)
        for r in repetition_metrics(d).collect()
    }
    assert got[0] == (0.5, 0.0, 1.0)
    assert got[1] == (0.0, 0.0, 0.25)
    assert got[2] == (0.0, 0.0, 1.0)
    assert got[3] == (0.0, 0.0, 0.0)
    assert got[4] == (0.5, pytest.approx(1 - 2 / 3, abs=1e-6), 0.6)


def test_repetition_metrics_no_shuffle(spark):
    from ufuzzy_spark.operators.textstats import repetition_metrics
    from ufuzzy_spark.plans.explain import formatted_plan

    d = spark.createDataFrame(
        [(0, ["a", "b"])], "doc_id long, tokens array<string>"
    )
    plan = formatted_plan(repetition_metrics(d))
    assert "Exchange" not in plan


# -- webtext hygiene: line dedup / PII scrub / URL canonicalization --- #

def test_remove_duplicate_lines_keeps_global_first(spark):
    from ufuzzy_spark.operators.linededup import remove_duplicate_lines

    banner = "accept all cookies to continue reading this site"
    short = "ok go"  # 2 tokens: below min_tokens, never deduped
    rows = [
        (0, [banner, "unique alpha beta gamma delta epsilon", short]),
        (1, [banner, short, "another unique line with many tokens here"]),
        (2, [banner, banner]),  # every eligible line is a later dup
    ]
    d = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    got = {
        r.doc_id: r
        for r in remove_duplicate_lines(d, min_tokens=5).collect()
    }
    assert got[0].n_removed == 0 and got[0].clean_text.startswith(banner)
    assert got[1].n_removed == 1 and banner not in got[1].clean_text
    assert short in got[1].clean_text
    assert got[2].n_removed == 2 and got[2].clean_text == ""
    assert [got[i].n_lines for i in range(3)] == [3, 3, 2]


def test_remove_duplicate_lines_intra_doc_order(spark):
    from ufuzzy_spark.operators.linededup import remove_duplicate_lines

    line = "the quick brown fox jumps over the lazy dog"
    d = spark.createDataFrame(
        [(5, ["start line one two three four", line,
              "mid point alpha beta gamma", line])],
        "doc_id long, lines array<string>",
    )
    r = remove_duplicate_lines(d).collect()[0]
    assert r.n_removed == 1
    assert r.clean_text.split("\n") == [
        "start line one two three four", line,
        "mid point alpha beta gamma",
    ]


def test_remove_duplicate_lines_is_total_over_degenerate_docs(spark):
    """Empty/null lines arrays still yield a row (0, 0, ''); a null
    ELEMENT is an empty line — kept, never counted as removed."""
    from ufuzzy_spark.operators.linededup import remove_duplicate_lines

    rows = [
        (0, []),
        (1, None),
        (2, ["ok", None]),
        (3, ["one two three four five six", None]),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lines array<string>")
    got = {
        r.doc_id: (r.n_lines, r.n_removed, r.clean_text)
        for r in remove_duplicate_lines(d).collect()
    }
    assert set(got) == {0, 1, 2, 3}  # total: one row per input doc
    assert got[0] == (0, 0, "")
    assert got[1] == (0, 0, "")
    assert got[2] == (2, 0, "ok\n")
    assert got[3] == (2, 0, "one two three four five six\n")


def test_scrub_pii_classes_and_order_contract(spark):
    import hashlib

    from ufuzzy_spark.operators.pii import scrub_col, scrub_pii

    rows = [
        (0, "mail a.b-c_9@ex-ample.co.uk ip 192.168.0.1 "
            "tel +1 (415) 555-0123 end"),
        (1, "no pii here at all"),
        (2, "double x@y.io z@w.ai"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in scrub_pii(d).collect()}
    assert (got[0].n_emails, got[0].n_ipv4, got[0].n_phones) == (1, 1, 1)
    assert got[2].n_emails == 2
    # untouched doc: fingerprint equals the original text's
    assert got[1].clean_md5 == hashlib.md5(rows[1][1].encode()).hexdigest()
    assert got[1].clean_len == len(rows[1][1])
    # order contract: the IP is typed <IP>, not eaten by the looser
    # phone pattern that runs after it
    clean = (
        d.where("doc_id = 0")
        .select(scrub_col(F.col("text")).alias("c"))
        .collect()[0]
        .c
    )
    assert "<EMAIL>" in clean and "<IP>" in clean and "<PHONE>" in clean
    assert "192" not in clean and "415" not in clean


def test_canonical_url_folds_equivalents(spark):
    from ufuzzy_spark.operators.urlnorm import canonicalize_urls

    rows = [
        (0, "HTTP://WWW.Example.com:80/a//b/?utm_source=feed&b=2&a=1#top"),
        (1, "http://example.com/a/b?a=1&b=2"),
        (2, "https://example.com:443/"),
        (3, "https://example.com"),
        (4, "not a url at all"),
        (5, "http://example.com:8080/x"),  # non-default port preserved
        (6, "http://example.com/page#sec?note=1"),  # '?' inside fragment
        (7, "http://a.com/p?fbclid"),  # bare (valueless) tracking key
        (8, "http://a.com/p?utm_source&b=1"),
        (9, "http://a.com/p?refx=1&ref"),  # 'ref' exact, 'refx' kept
    ]
    d = spark.createDataFrame(rows, "doc_id long, url string")
    got = {
        r.doc_id: (r.url_canon, r.url_host)
        for r in canonicalize_urls(d).collect()
    }
    assert got[0] == got[1] == ("http://example.com/a/b?a=1&b=2",
                                "example.com")
    assert got[2] == got[3] == ("https://example.com/", "example.com")
    assert got[4] == ("not a url at all", "")
    assert got[5] == ("http://example.com:8080/x", "example.com:8080")
    # the fragment is stripped BEFORE query extraction: no phantom
    # query from '?' inside '#...'
    assert got[6] == ("http://example.com/page", "example.com")
    assert got[7] == ("http://a.com/p", "a.com")
    assert got[8] == ("http://a.com/p?b=1", "a.com")
    assert got[9] == ("http://a.com/p?refx=1", "a.com")


def test_pii_and_urlnorm_are_shuffle_free(spark):
    from ufuzzy_spark.operators.pii import scrub_pii
    from ufuzzy_spark.operators.urlnorm import canonicalize_urls
    from ufuzzy_spark.plans.explain import formatted_plan

    d = spark.createDataFrame(
        [(0, "t", "http://a.com/")], "doc_id long, text string, url string"
    )
    assert "Exchange" not in formatted_plan(scrub_pii(d))
    assert "Exchange" not in formatted_plan(canonicalize_urls(d))


def test_line_dedup_plan_has_no_cartesian(spark):
    from ufuzzy_spark.operators.linededup import remove_duplicate_lines
    from ufuzzy_spark.plans.explain import formatted_plan

    d = spark.createDataFrame(
        [(0, ["a b c d e f"])], "doc_id long, lines array<string>"
    )
    plan = formatted_plan(remove_duplicate_lines(d))
    assert "CartesianProduct" not in plan
    # first-occurrence election must partial-aggregate map-side (the
    # skew-collapse argument in the module docstring)
    assert plan.count("HashAggregate") >= 2


def test_flac_decode_bounds_total_samples(monkeypatch):
    """ADVICE r5: CONSTANT subframes / zero-bit escape partitions
    expand ~3000x per frame, so decode_flac refuses streams whose
    frames exceed STREAMINFO's declared total samples (and bounds
    unknown-total streams with a hard max) instead of growing
    unbounded int lists from a crafted crawl payload."""
    from pathlib import Path

    monkeypatch.syspath_prepend(str(Path(__file__).resolve().parent.parent / "scripts"))
    import numpy as np
    from gen_media_fixture import flac_encode
    from ufuzzy_spark.multimodal.flac import HARD_MAX, decode_flac

    blk = 128
    mono = np.full((2 * blk, 1), -777, dtype=np.int16)
    specs = [{"assign": "indep", "subs": [("constant",)]}] * 2
    payload = bytearray(flac_encode(8000, mono, specs, blk))

    assert decode_flac(bytes(payload)) is not None  # valid as built

    packed = int.from_bytes(payload[18:26], "big")
    total = packed & 0xFFFFFFFFF
    assert total == 2 * blk  # encoder declares the true length

    # understate the declared total -> frames overrun it -> refused
    payload[18:26] = ((packed & ~0xFFFFFFFFF) | (total - 1)).to_bytes(8, "big")
    assert decode_flac(bytes(payload)) is None

    # total=0 (unknown/streaming): valid stream still decodes under
    # the hard per-channel max
    payload[18:26] = ((packed & ~0xFFFFFFFFF) | 0).to_bytes(8, "big")
    out = decode_flac(bytes(payload))
    assert out is not None and np.array_equal(out, mono)

    # ADVICE r6: the declared total may only tighten the hard max. A
    # stream declaring 2^36-1 samples whose CONSTANT frame repeats
    # past HARD_MAX (frame numbers are not checked) is refused.
    blk = 65535  # the largest block size STREAMINFO can declare
    spec = {"assign": "indep", "subs": [("constant",)]}
    one = flac_encode(8000, np.full((blk, 1), 1234, dtype=np.int16), [spec], blk)
    head, frame = bytearray(one[:42]), bytes(one[42:])  # fLaC+STREAMINFO | frame
    packed = int.from_bytes(head[18:26], "big")
    head[18:26] = (packed | 0xFFFFFFFFF).to_bytes(8, "big")
    out = decode_flac(bytes(head) + frame * 2)  # overstated total: valid
    assert out is not None and out.shape == (2 * blk, 1)
    n_frames = HARD_MAX // blk + 1
    assert HARD_MAX == 1 << 24 and n_frames * blk > HARD_MAX
    assert decode_flac(bytes(head) + frame * n_frames) is None
