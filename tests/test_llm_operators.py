"""Planted-fixture tests for dedup / similarity / text / multimodal
operators — real assertions on known duplicates and neighbors (the
rows-only catalog entries get their semantics pinned here)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from traffic_accidents_airflow_kafka_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from traffic_accidents_airflow_kafka_spark.operators import text as text_ops

BASE = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
NEAR = "alpha beta gamma delta epsilon zeta eta theta iota lambda"  # 1 word differs
OTHER = "one two three four five six seven eight nine ten"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, NEAR),  # near duplicate of 0/1
        (3, OTHER),  # unrelated
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(docs):
    out = {r["doc_id"]: r for r in dedup.exact_dedup(docs, "doc_id", "text").collect()}
    assert not out[0]["is_duplicate"] and out[0]["keeper_id"] == 0
    assert out[1]["is_duplicate"] and out[1]["keeper_id"] == 0
    assert not out[2]["is_duplicate"]
    assert not out[3]["is_duplicate"]


def test_jaccard_finds_planted_near_dup(docs):
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3)
    pairs = {(r["d1"], r["d2"]): r["jaccard"] for r in dedup.jaccard_pairs(sh).collect()}
    assert pairs[(0, 1)] == 1.0  # exact dup → jaccard 1
    # 8 shingles each, 7 shared → 7/9
    assert abs(pairs[(0, 2)] - 7 / 9) < 1e-9
    assert (0, 3) not in pairs  # disjoint docs never pair (inverted index)


def test_shingle_keys_match_hashed_strings(docs):
    """r10 optimization guard: word_shingle_keys' slice-hash keys must
    reproduce, per doc, EXACTLY the xxhash64-of-string key multiset of
    word_shingles — including distinctness — and jaccard_pairs must give
    identical pairs from either input form."""
    strs = dedup.word_shingles(docs, "doc_id", "text", n=3).select(
        "doc_id", F.xxhash64("shingle").alias("k")
    )
    keys = dedup.word_shingle_keys(docs, "doc_id", "text", n=3)
    a = {(r["doc_id"], r["__sh"]) for r in keys.collect()}
    # Keys differ (hash of string vs hash of hash-slice) but their
    # per-doc CARDINALITY and the resulting pair relation must agree.
    per_doc_a = {}
    for d, _ in a:
        per_doc_a[d] = per_doc_a.get(d, 0) + 1
    per_doc_b = {}
    for r in strs.collect():
        per_doc_b[r["doc_id"]] = per_doc_b.get(r["doc_id"], 0) + 1
    assert per_doc_a == per_doc_b
    p_str = {
        (r["d1"], r["d2"]): (r["n_common"], r["jaccard"])
        for r in dedup.jaccard_pairs(
            dedup.word_shingles(docs, "doc_id", "text", n=3)
        ).collect()
    }
    p_key = {
        (r["d1"], r["d2"]): (r["n_common"], r["jaccard"])
        for r in dedup.jaccard_pairs(keys).collect()
    }
    assert p_str == p_key


def test_minhash_lsh_recalls_planted_pairs(docs):
    sh = dedup.word_shingles(docs, "doc_id", "text", n=3)
    sigs = dedup.minhash_signatures(sh, "doc_id", num_hashes=8)
    pairs = {
        (r["d1"], r["d2"]): r["est_sim"]
        for r in dedup.lsh_candidate_pairs(sigs, "doc_id", 8, rows_per_band=1).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs: all 8 minhashes match
    assert (0, 2) in pairs and pairs[(0, 2)] > 0  # near-dup collides on ≥1 band
    assert (0, 3) not in pairs or pairs[(0, 3)] == 0.0


def test_simhash_separates_near_from_far(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs, "doc_id", "text").collect()}
    assert sigs[0] == sigs[1]  # identical text → identical signature
    ham_near = bin(sigs[0] ^ sigs[2]).count("1")
    ham_far = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated doc
    pairs = {
        (r["d1"], r["d2"]): r["hamming"]
        for r in dedup.simhash_near_pairs(
            dedup.simhash64(docs, "doc_id", "text"), "doc_id", max_hamming=16
        ).collect()
    }
    assert pairs[(0, 1)] == 0


@pytest.fixture(scope="module")
def vectors(spark):
    # v0 ≈ v1 (same direction), v2 orthogonal, v3 opposite.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_orders_by_similarity(vectors):
    out = similarity.cosine_topk(vectors, k=3)
    top = {r["qid"]: r["nid"] for r in out.filter(F.col("rank") == 1).collect()}
    assert top[0] == 1 and top[1] == 0  # mutual nearest neighbors
    r = {(x["qid"], x["nid"]): x["cosine"] for x in out.collect()}
    assert r[(0, 2)] == 0.0 and r[(0, 3)] == -1.0


def test_lsh_ann_buckets_separate_directions(vectors):
    planes = similarity.hyperplane_planes(4, 6, seed=7)
    bucketed = vectors.select(
        "vec_id", similarity.lsh_bucket("embedding", planes).alias("b")
    ).collect()
    buckets = {r["vec_id"]: r["b"] for r in bucketed}
    assert buckets[0] == buckets[1]  # same direction → same bucket
    assert buckets[0] != buckets[3]  # opposite direction → different bucket
    out = similarity.lsh_ann_topk(vectors, n_planes=6, k=1, dim=4)
    top = {r["qid"]: r["nid"] for r in out.collect()}
    assert top.get(0) == 1 and top.get(1) == 0


def test_text_ops_values(spark):
    df = spark.createDataFrame([("the cat the cat runs",)], "text string")
    row = df.select(
        text_ops.token_count("text").alias("n"),
        text_ops.distinct_token_ratio("text").alias("r"),
        text_ops.predict_lang("text").alias("lang"),
        text_ops.token_fingerprint("text").alias("fp"),
    ).collect()[0]
    assert row["n"] == 5
    assert abs(row["r"] - 3 / 5) < 1e-9
    assert row["lang"] == "en"  # 'the' ×2 hits the en stopword list
    # Reproduce the fold in Python.
    acc = 0
    for t in "the cat the cat runs".split(" "):
        acc = (acc * text_ops.ROLL_MULT + (len(t) * 131 + ord(t[0]))) % text_ops.ROLL_MOD
    assert row["fp"] == acc


def test_predict_lang_tie_breaks_to_earlier_dict_entry(spark):
    # 'la de que' scores 3 for BOTH es and fr (shared stopwords); es is
    # earlier in LANG_STOPWORDS so es must win — matching the
    # lang_id_confusion oracle's first-wins CASE chain. Regression test
    # for the reversed-fold inversion where fr won ties.
    df = spark.createDataFrame(
        [("la de que",), ("le et la",), ("xyzzy plugh",)], "text string"
    )
    got = [r["lang"] for r in df.select(text_ops.predict_lang("text").alias("lang")).collect()]
    assert got == ["es", "fr", "und"]


def test_multimodal_meta_plumbing(docs):
    assets = multimodal.documents_as_assets(
        docs.withColumnRenamed("doc_id", "doc_id")
    )
    out = {r["asset_id"]: r for r in multimodal.extract_asset_meta(assets).collect()}
    assert out[0]["n_bytes"] == len(BASE)
    import hashlib

    assert out[0]["sha256_prefix"] == hashlib.sha256(BASE.encode()).hexdigest()[:8]
    w, h = multimodal.fake_decode_meta(BASE.encode())
    assert (out[0]["width"], out[0]["height"]) == (w, h)
    # Identical payloads → identical derived metadata.
    assert out[0]["sha256_prefix"] == out[1]["sha256_prefix"]


def test_decode_image_meta_parses_real_headers():
    """decode_image_meta is a REAL header parser (r6): genuine encoded
    PNG/BMP round-trip their dimensions, hand-built GIF/JPEG/BMP-core
    headers parse, top-down BMPs normalize height, and corrupt payloads
    raise instead of returning fake dimensions."""
    import struct
    import zlib

    # PNG round-trip through the genuine encoder, and spec validity:
    # chunk CRCs check out, IDAT inflates to filter-0 scanlines.
    png = multimodal.encode_png(33, 21, b"pixels!")
    assert multimodal.decode_image_meta(png) == (33, 21)
    assert png.startswith(b"\x89PNG\r\n\x1a\n")
    (ihdr_len,) = struct.unpack(">I", png[8:12])
    crc_calc = zlib.crc32(png[12 : 16 + ihdr_len]) & 0xFFFFFFFF
    (crc_stored,) = struct.unpack(
        ">I", png[16 + ihdr_len : 20 + ihdr_len]
    )
    assert crc_calc == crc_stored
    idat_off = 20 + ihdr_len
    (idat_len,) = struct.unpack(">I", png[idat_off : idat_off + 4])
    raw = zlib.decompress(
        png[idat_off + 8 : idat_off + 8 + idat_len]
    )
    assert len(raw) == 21 * (33 + 1)  # filter byte + width, per row
    assert all(raw[r * 34] == 0 for r in range(21))

    # BMP round-trip; rows pad to 4 bytes, stored bottom-up.
    bmp = multimodal.encode_bmp(30, 7, b"xyz")
    assert multimodal.decode_image_meta(bmp) == (30, 7)
    (off,) = struct.unpack("<I", bmp[10:14])
    assert len(bmp) - off == 32 * 7  # 30 -> padded row of 32

    # Top-down DIB (negative height) normalizes to |height|.
    topdown = bytearray(bmp)
    topdown[22:26] = struct.pack("<i", -7)
    assert multimodal.decode_image_meta(bytes(topdown)) == (30, 7)

    # BITMAPCOREHEADER (hdr_size 12, uint16 dims).
    core = b"BM" + struct.pack("<IHHI", 26, 0, 0, 26) + struct.pack(
        "<IHHHH", 12, 640, 480, 1, 8
    )
    assert multimodal.decode_image_meta(core) == (640, 480)

    # GIF logical screen descriptor.
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00"
    assert multimodal.decode_image_meta(gif) == (320, 200)

    # JPEG: SOI, APP0, DQT, then SOF0 carrying (h=120, w=160).
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" * 65
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
        + struct.pack(">HH", 120, 160) + b"\x01\x11\x00"
    )
    assert multimodal.decode_image_meta(jpeg) == (160, 120)

    # Corrupt/unknown payloads raise (never fake dimensions).
    for bad in (b"\x89PNG", b"not an image", b"\xff\xd8\xff\xe0\x00\x02"):
        with pytest.raises(ValueError):
            multimodal.decode_image_meta(bad)


def test_decode_image_pixels_full_roundtrip():
    """decode_image_pixels is a REAL full decoder (r9, closing the last
    NotImplementedError): zlib-inflated PNG with ALL FIVE scanline
    filters reversed, palette-resolved BMP with bottom-up rows flipped
    to canonical top-down RGB — round-tripped against the exact pixel
    bytes the encoders tiled in."""
    import struct

    px = bytes((k * 7 + 3) % 251 for k in range(97))
    for w, h in [(17, 23), (16, 16), (1, 1), (5, 1), (1, 7)]:
        tiled = multimodal._tile(px, w * h)
        for filters in ("none", "varied"):
            f = multimodal.encode_png(w, h, px, filters=filters)
            dw, dh, c, rgb = multimodal.decode_image_pixels(f)
            assert (dw, dh, c) == (w, h, 3)
            # grayscale canonicalizes to replicated RGB, rows top-down
            assert rgb[0::3] == tiled and rgb[1::3] == tiled
            assert rgb[2::3] == tiled
        bmp = multimodal.encode_bmp(w, h, px)
        dw, dh, c, rgb = multimodal.decode_image_pixels(bmp)
        assert (dw, dh, c) == (w, h, 3)
        assert rgb[0::3] == tiled and rgb[1::3] == tiled  # palette is (i,i,i)
        gif = multimodal.encode_gif(w, h, px)
        dw, dh, c, rgb = multimodal.decode_image_pixels(gif)
        assert (dw, dh, c) == (w, h, 3)
        assert rgb[0::3] == tiled and rgb[2::3] == tiled  # LZW + GCT resolve

    # Top-down DIB (negative height, rows stored first-row-first) decodes
    # to the SAME canonical raster as its bottom-up twin.
    w, h = 6, 3
    up = multimodal.encode_bmp(w, h, px)
    stride = (w + 3) & ~3
    off = 14 + 40 + 1024
    rows = [up[off + r * stride : off + (r + 1) * stride] for r in range(h)]
    down = bytearray(up[:off] + b"".join(reversed(rows)))
    down[22:26] = struct.pack("<i", -h)
    assert multimodal.decode_image_pixels(bytes(down)) == (
        multimodal.decode_image_pixels(up)
    )

    # 24-bit BGR BMP: hand-built 2x1, blue-ish then red-ish pixel.
    img = bytes([10, 20, 30, 40, 50, 60]) + b"\x00\x00"  # BGR BGR + pad
    dib = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(img), 0, 0, 0, 0)
    fh = b"BM" + struct.pack("<IHHI", 54 + len(img), 0, 0, 54)
    dw, dh, c, rgb = multimodal.decode_image_pixels(fh + dib + img)
    assert (dw, dh, c) == (2, 1, 3)
    assert rgb == bytes([30, 20, 10, 60, 50, 40])  # BGR -> RGB

    # Unsupported variants raise, never fake pixels.
    good = multimodal.encode_png(4, 4, px)
    interlaced = bytearray(good)
    # Flipping the IHDR flag on a PROGRESSIVE stream makes it corrupt
    # Adam7 (pass lengths can't match) — must still be ValueError.
    interlaced[28] = 1
    sixteen = bytearray(good)
    sixteen[24] = 16  # IHDR bit depth
    rle_bmp = bytearray(multimodal.encode_bmp(4, 4, px))
    rle_bmp[30:34] = struct.pack("<I", 1)  # BI_RLE8
    # Corrupt bytes INSIDE a recognized format surface as ValueError too
    # (the documented single-exception contract): damaged IDAT would be
    # zlib.error raw, a truncated BMP header struct.error.
    bad_idat = bytearray(good)
    bad_idat[41] ^= 0xFF  # flip a byte inside the deflate stream
    short_bmp = multimodal.encode_bmp(4, 4, px)[:20]
    # A corrupt BMP whose header PARSES but claims huge dimensions must
    # raise ValueError BEFORE allocating the w*h*3 output buffer — a
    # MemoryError/OOM would escape the quarantine contract (r9 ADVICE).
    huge_dims = bytearray(multimodal.encode_bmp(4, 4, px))
    huge_dims[18:26] = struct.pack("<ii", 60000, 60000)
    zero_width = bytearray(multimodal.encode_bmp(4, 4, px))
    zero_width[18:22] = struct.pack("<i", 0)
    for bad in (
        bytes(interlaced),
        bytes(sixteen),
        bytes(rle_bmp),
        b"GIF89a" + b"\x00" * 8,
        bytes(bad_idat),
        short_bmp,
        bytes(huge_dims),
        bytes(zero_width),
    ):
        with pytest.raises(ValueError):
            multimodal.decode_image_pixels(bad)


def test_extract_pixel_stats_quarantine_mode(spark):
    """on_error='null': one corrupt payload among good ones flags a row
    (NULL stats + decode_error) instead of failing the stage; the
    default raise mode fails loudly."""
    px = bytes(range(32))
    rows = [
        (1, "image/png", multimodal.encode_png(6, 5, px, filters="varied")),
        (2, "image/bmp", multimodal.encode_bmp(7, 3, px)),
        (3, "image/png", b"\x89PNG\r\n\x1a\nbroken"),
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    out = {
        r["asset_id"]: r
        for r in multimodal.extract_pixel_stats(
            assets, on_error="null"
        ).collect()
    }
    assert out[1]["decode_error"] is None and out[1]["n_px"] == 30
    assert out[2]["decode_error"] is None and out[2]["n_px"] == 21
    assert out[3]["decode_error"] is not None and out[3]["n_px"] is None
    tiled = multimodal._tile(px, 30)
    assert out[1]["px_first"] == tiled[0] and out[1]["px_last"] == tiled[-1]
    with pytest.raises(Exception):  # noqa: B017 — surfaces as Py4J error
        multimodal.extract_pixel_stats(assets).collect()
    with pytest.raises(ValueError, match="on_error"):
        multimodal.extract_pixel_stats(assets, on_error="quarantine")


def test_decode_audio_meta_parses_real_wav():
    """WAV encode→parse round-trip on genuine RIFF bytes: header fields,
    frame counts, chunk padding, and corrupt-payload rejection."""
    import struct

    wav = multimodal.encode_wav(16000, 250, b"pcm-bytes", n_channels=2)
    assert multimodal.decode_audio_meta(wav) == (16000, 2, 16, 250)
    # File size = 44-byte header + frames * block_align.
    assert len(wav) == 44 + 250 * 4
    (riff_size,) = struct.unpack("<I", wav[4:8])
    assert riff_size == len(wav) - 8

    # Odd-sized chunks pad to even offsets — insert a 3-byte LIST chunk
    # before data and confirm the walker still finds it.
    fmt_chunk = wav[12:36]
    data_chunk = wav[36:]
    odd = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    body = b"WAVE" + fmt_chunk + odd + data_chunk
    padded = b"RIFF" + struct.pack("<I", len(body)) + body
    assert multimodal.decode_audio_meta(padded) == (16000, 2, 16, 250)

    for bad in (b"RIFFxxxx", b"not audio", b"RIFF\x00\x00\x00\x00WAVE"):
        import pytest as _pytest

        with _pytest.raises(ValueError):
            multimodal.decode_audio_meta(bad)


def test_synth_audio_assets_roundtrip(docs):
    out = {
        r["asset_id"]: r
        for r in multimodal.extract_audio_meta(
            multimodal.synth_audio_assets(docs)
        ).collect()
    }
    for did, r in out.items():
        rate = multimodal.WAV_RATES[did % 4]
        frames = 100 + (did * 37) % 4000
        chans = 1 + did % 2
        aiff = did % 3 == 2
        assert (r["sample_rate"], r["n_channels"], r["bits"], r["n_frames"]) == (
            rate, chans, 16, frames,
        )
        assert r["mime"] == ("audio/aiff" if aiff else "audio/wav")
        assert r["n_bytes"] == (54 if aiff else 44) + frames * chans * 2
        assert r["duration_ms"] == frames * 1000 // rate


def test_extract_meta_quarantine_mode(spark):
    """on_error='null': one corrupt payload among good ones flags a row
    (NULL dims + decode_error text) instead of killing the job; the
    default raise mode still fails fast."""
    import pytest as _pytest

    rows = [
        (1, "image/png", multimodal.encode_png(20, 10, b"ok")),
        (2, "image/png", bytearray(b"corrupt bytes")),
        (3, "image/bmp", None),
    ]
    assets = spark.createDataFrame(rows, multimodal.ASSET_SCHEMA)
    out = {
        r["asset_id"]: r
        for r in multimodal.extract_asset_meta(
            assets, decode=multimodal.decode_image_meta, on_error="null"
        ).collect()
    }
    assert (out[1]["width"], out[1]["height"]) == (20, 10)
    assert out[1]["decode_error"] is None
    assert out[2]["width"] is None and "ValueError" in out[2]["decode_error"]
    assert out[3]["decode_error"] == "null payload"

    with _pytest.raises(Exception):  # noqa: B017 — worker error surfaces as Py4J
        multimodal.extract_asset_meta(
            assets, decode=multimodal.decode_image_meta
        ).collect()

    with _pytest.raises(ValueError, match="on_error"):
        multimodal.extract_asset_meta(assets, on_error="quarantine")


def test_full_pixel_decode_is_real():
    """r9 flipped the former stub: decode_image_pixels now REALLY decodes
    (see test_decode_image_pixels_full_roundtrip for the deep checks) —
    this smoke pin guards against it ever regressing to a stub."""
    w, h, c, rgb = multimodal.decode_image_pixels(multimodal.encode_png(4, 4))
    assert (w, h, c) == (4, 4, 3)
    assert rgb == b"\x00" * 48  # empty pixel source tiles to zeros


def test_synth_assets_real_decode_roundtrip(docs):
    """The catalog entry's core claim: genuine encoded bytes, parsed by
    the real header parser, reproduce the doc_id-arithmetic dimensions."""
    assets = multimodal.synth_image_assets(docs)
    out = {
        r["asset_id"]: r
        for r in multimodal.extract_asset_meta(
            assets, decode=multimodal.decode_image_meta
        ).collect()
    }
    for did, r in out.items():
        assert r["width"] == 16 + did % 48
        assert r["height"] == 16 + (did * 7) % 32
        assert r["mime"] == ("image/png" if did % 2 == 0 else "image/bmp")


def test_frame_sample_strides(docs):
    assets = multimodal.documents_as_assets(docs).filter(F.col("asset_id") == 0)
    frames = multimodal.frame_sample(assets, every_n_bytes=16).collect()
    payload = BASE.encode()
    expected = [payload[i : i + 16] for i in range(0, len(payload), 16)]
    got = [bytes(r["frame"]) for r in sorted(frames, key=lambda r: r["frame_idx"])]
    assert got == expected


def test_multimodal_embed_then_ann_composite(docs):
    """The multimodal pipeline end to end: opaque payloads → Arrow-batched
    feature extraction → the SAME similarity operator the embeddings table
    uses — decode→embed→ANN composes with no glue. Identical payloads must
    embed identically and rank each other cosine=1 nearest."""
    assets = multimodal.documents_as_assets(docs)
    emb = multimodal.embed_assets(assets, dim=16)
    rows = {r["asset_id"]: r["embedding"] for r in emb.collect()}
    assert rows[0] == rows[1]  # identical text → identical embedding
    assert all(len(v) == 16 and all(-1.0 <= x < 1.0 for x in v) for v in rows.values())

    from traffic_accidents_airflow_kafka_spark.operators import similarity

    top1 = {
        r["qid"]: (r["nid"], r["cosine"])
        for r in similarity.cosine_topk(emb, id_col="asset_id", vec_col="embedding", k=1).collect()
    }
    # Doc 0 and its duplicate are each other's exact nearest neighbor.
    assert top1[0][0] == 1 and top1[1][0] == 0
    assert top1[0][1] == 1.0


def test_pii_redaction_semantics(spark):
    """Planted-PII fixtures pin the scrub: typed placeholders, email-
    before-phone ordering, counts per class."""
    rows = [
        (1, "contact bob@example.com or +1 (555) 123-4567 via https://x.io/a?b=1"),
        (2, "no pii here"),
        (3, "mails a@b.co c@d.org and 555-123-4567"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = text_ops.pii_counts("text")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            counts["emails"].alias("e"),
            counts["urls"].alias("u"),
            counts["phones"].alias("p"),
            text_ops.redact_pii("text").alias("red"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["u"], out[1]["p"]) == (1, 1, 1)
    assert out[1]["red"] == "contact <EMAIL> or <PHONE> via <URL>"
    assert out[2]["red"] == "no pii here"
    assert (out[3]["e"], out[3]["p"]) == (2, 1)
    assert out[3]["red"] == "mails <EMAIL> <EMAIL> and <PHONE>"


def test_resize_images_plumbing(spark):
    from traffic_accidents_airflow_kafka_spark.operators import multimodal

    assets = spark.createDataFrame(
        [(1, "image/png", b"abc"), (2, "image/png", None), (3, "image/png", b"")],
        multimodal.ASSET_SCHEMA,
    )
    out = multimodal.resize_images(assets, target_w=4, target_h=2).collect()
    got = {r["asset_id"]: r for r in out}
    assert set(got) == {1, 3}  # null payloads dropped
    assert all(r["width"] == 4 and r["height"] == 2 for r in out)
    assert got[1]["payload"] == b"abcabcab"  # tiled to 4*2 bytes
    assert got[3]["payload"] == b"\x00" * 8  # empty payload zero-filled
    # A custom decoder hook slots in unchanged.
    out2 = multimodal.resize_images(
        assets, 2, 2, resize=lambda p, w, h: bytes([len(p)] * (w * h))
    ).collect()
    assert {r["asset_id"]: r["payload"] for r in out2}[1] == bytes([3, 3, 3, 3])


def test_bigram_lm_scores_rank_fluent_above_gibberish(spark):
    """Documents made of the corpus's dominant bigrams must outscore a
    document of unique never-repeated bigrams; single-token docs carry no
    bigrams and are excluded."""
    common = "the cat sat on the mat"
    rows = (
        [(i, common) for i in range(10)]
        + [(10, "zq xv jk wp mn bt")]  # every bigram unique in the corpus
        + [(11, "lonely")]             # 1 token -> no bigrams
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["lm_score"]
        for r in text_ops.bigram_lm_scores(df, "doc_id", "text").collect()
    }
    assert 11 not in scores
    assert scores[0] == scores[9]          # identical docs, identical score
    assert scores[0] > scores[10]          # fluent >> gibberish


def test_normalize_text_collapses_trivial_variants(spark):
    df = spark.createDataFrame(
        [
            (1, "The CAT sat."),
            (2, "the cat  sat"),
            (3, "THE, cat; sat!!"),
            (4, "a different doc"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", text_ops.normalize_text("text").alias("n")
        ).collect()
    }
    assert out[1] == out[2] == out[3] == "the cat sat"
    assert out[4] == "a different doc"


def test_word_ngrams_short_doc_and_counts(spark):
    from traffic_accidents_airflow_kafka_spark.operators import decontam

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b"), (3, "x")], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["g"]
        for r in df.select(
            "doc_id", decontam.word_ngrams("text", 3).alias("g")
        ).collect()
    }
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == [] and out[3] == []


def test_contamination_flags_planted_overlap(spark):
    from traffic_accidents_airflow_kafka_spark.operators import decontam

    span = "one two three four five six seven eight"  # exactly one 8-gram
    train = spark.createDataFrame(
        [
            (1, span + " tail tail tail"),       # 4 grams, 1 hit -> below threshold
            (2, "clean words only nothing shared here at all ok"),
            (3, "tiny"),                          # < n words
            (4, span),                            # 1/1 grams hit -> flagged
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "prefix " + span + " suffix")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in decontam.contamination(
            train, bench, "doc_id", "text", n=8, flag_threshold=0.5
        ).collect()
    }
    assert rows[4]["n_grams"] == 1 and rows[4]["n_hit"] == 1
    assert rows[4]["contaminated"] is True
    assert rows[1]["n_grams"] == 4 and rows[1]["n_hit"] == 1
    assert rows[1]["contaminated"] is False
    assert rows[2]["n_hit"] == 0 and rows[2]["contaminated"] is False
    assert rows[3]["n_grams"] == 0 and rows[3]["overlap"] == 0.0
    assert rows[3]["contaminated"] is False


def test_contamination_accepts_unkeyed_benchmark(spark):
    """ADVICE r10 medium: the bench side only contributes gram keys, so
    an eval relation WITHOUT the training id column (eval suites are
    often keyed differently or unkeyed) must work — and must produce the
    same report as a keyed one with the same text."""
    from traffic_accidents_airflow_kafka_spark.operators import decontam

    span = "one two three four five six seven eight"
    train = spark.createDataFrame(
        [(1, span), (2, "clean words only nothing shared here at all ok")],
        "doc_id long, text string",
    )
    keyed = spark.createDataFrame(
        [(100, "prefix " + span)], "doc_id long, text string"
    )
    unkeyed = keyed.select("text")  # no doc_id at all
    expect = sorted(
        tuple(r)
        for r in decontam.contamination(
            train, keyed, "doc_id", "text", n=8
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in decontam.contamination(
            train, unkeyed, "doc_id", "text", n=8
        ).collect()
    )
    assert got == expect
    assert any(r[4] for r in got)  # the planted span is still flagged


def test_repetition_stats_flags_planted_repeats(spark):
    from traffic_accidents_airflow_kafka_spark.operators import quality

    rows = [
        (1, "spam ham " * 10),                # one bigram dominates
        (2, "a b c d e f g h i j k l m n"),  # all distinct
        (3, "p q r s t p q r s t p q r s t"),  # repeated 5-gram spans
        (4, "x"),                             # no bigrams at all
    ]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in quality.repetition_stats(df, "doc_id", "text").collect()
    }
    assert out[1]["repetitive"] is True and out[1]["top_bigram_frac"] > 0.18
    assert out[2]["repetitive"] is False and out[2]["dup_fivegram_frac"] == 0.0
    assert out[3]["dup_fivegram_frac"] > 0.15 and out[3]["repetitive"] is True
    assert out[4]["bi_total"] == 0 and out[4]["repetitive"] is False


def test_semantic_dedup_drops_higher_id_of_near_pairs(vectors):
    flags = {
        r["vec_id"]: r["sem_dropped"]
        for r in similarity.semantic_dedup(
            vectors, "vec_id", "embedding", threshold=0.9, dim=4
        ).collect()
    }
    # v0≈v1 (cosine ~0.995): 1 is the higher id of the pair -> dropped,
    # 0 kept; orthogonal/opposite vectors survive.
    assert flags == {0: False, 1: True, 2: False, 3: False}


def test_temperature_mixture_upweights_low_resource_groups(spark):
    from traffic_accidents_airflow_kafka_spark.operators import sampling

    per = spark.createDataFrame(
        [("big", 9_000_000), ("small", 90_000)], "source string, tokens long"
    )
    out = {
        r["source"]: r
        for r in sampling.temperature_mixture(
            per, "source", "tokens", budget=1_000_000
        ).collect()
    }
    # Raw share of 'small' is 1%; sqrt temperature lifts it to 1/11.
    assert abs(out["small"]["mix_share"] - 1 / 11) < 1e-6
    assert abs(out["big"]["mix_share"] - 10 / 11) < 1e-6
    # Shares sum to ~1 and budget is conserved up to rounding.
    assert abs(out["big"]["planned_tokens"] + out["small"]["planned_tokens"] - 1_000_000) <= 1
    # 'small' repeats (~1.01 epochs), 'big' is subsampled (~0.1 epochs).
    assert out["small"]["epochs"] > 1.0 > out["big"]["epochs"]


def test_hashed_linear_score_matches_python_fold(spark):
    w = text_ops.classifier_weights(16)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r["z"]
        for r in df.select(
            "doc_id", text_ops.hashed_linear_score("text", w).alias("z")
        ).collect()
    }
    import hashlib

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 16

    toks = "alpha beta gamma".split(" ")
    acc = 0.0
    for t in toks:
        acc += w[bucket(t)]
    assert abs(got[1] - acc / 3) < 1e-15
    # split("", " ") yields [""], a real (hashable) token — not the
    # zero-token guard path; it scores like any 1-token doc.
    assert got[2] == w[bucket("")]


def test_bloom_incremental_dedup_exact_with_planted_dups(spark):
    history = spark.createDataFrame(
        [(1, "seen before text"), (2, "another old doc")],
        "doc_id long, text string",
    )
    incoming = spark.createDataFrame(
        [
            (10, "seen before text"),   # true duplicate
            (11, "a brand new doc"),
            (12, "another old doc"),    # true duplicate
            (13, "also new content"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.bloom_incremental_dedup(
            incoming, history, "doc_id", "text"
        ).collect()
    }
    assert out[10]["is_duplicate"] and out[10]["bloom_candidate"]
    assert out[12]["is_duplicate"] and out[12]["bloom_candidate"]
    assert not out[11]["is_duplicate"] and not out[13]["is_duplicate"]


def test_bloom_false_positives_resolved_exactly(spark):
    """With m_bits=1 nearly every probe is a bloom candidate (saturated
    filter) — the exact confirmation join must still emit only true
    duplicates. No false negatives by construction; false positives are
    work, never wrong answers."""
    history = spark.createDataFrame([(1, "old")], "doc_id long, text string")
    incoming = spark.createDataFrame(
        [(10, "old"), (11, "new one"), (12, "new two")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in dedup.bloom_incremental_dedup(
            incoming, history, "doc_id", "text", m_bits=1, k=2
        ).collect()
    }
    assert all(r["bloom_candidate"] for r in out.values())  # saturated
    assert out[10]["is_duplicate"]
    assert not out[11]["is_duplicate"] and not out[12]["is_duplicate"]


def test_semantic_dedup_by_quality_drops_lower_quality_member(spark, vectors):
    # v0 ≈ v1 near-dup pair; give v0 the LOWER quality so the keeper
    # inverts the id rule: 0 is dropped, 1 survives. Tie case pinned by
    # v2/v3 being out of any pair.
    qual = spark.createDataFrame(
        [(0, 0.2), (1, 0.9), (2, 0.5), (3, 0.5)], "vec_id long, quality double"
    )
    flags = {
        r["vec_id"]: r["sem_dropped"]
        for r in similarity.semantic_dedup_by_quality(
            vectors, qual, "vec_id", "embedding", "quality", threshold=0.9, dim=4
        ).collect()
    }
    assert flags == {0: True, 1: False, 2: False, 3: False}


def test_hard_negative_mining_excludes_same_label(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "a"),
        (1, [0.99, 0.1, 0.0, 0.0], "a"),   # same label, most similar
        (2, [0.9, 0.3, 0.0, 0.0], "b"),    # different label, next
        (3, [0.0, 1.0, 0.0, 0.0], "b"),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    out = similarity.hard_negative_mining(
        emb, emb.select("vec_id").filter(F.col("vec_id") == 0), k=2
    ).collect()
    got = [(r["nid"], r["neg_label"]) for r in sorted(out, key=lambda r: r["rank"])]
    # vec 1 (same label) must be absent even though it's the true nearest.
    assert got == [(2, "b"), (3, "b")]


def test_positive_pair_mining_same_label_only(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], "a"),
        (1, [0.99, 0.1, 0.0, 0.0], "a"),   # same label, similar -> pair
        (2, [0.98, 0.15, 0.0, 0.0], "b"),  # similar but wrong label
        (3, [0.0, 1.0, 0.0, 0.0], "a"),    # same label, orthogonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label string")
    pairs = [
        (r["d1"], r["d2"])
        for r in similarity.positive_pair_mining(
            emb, threshold=0.9, dim=4
        ).collect()
    ]
    assert pairs == [(0, 1)]


def test_contamination_empty_benchmark_flags_nothing(spark):
    from traffic_accidents_airflow_kafka_spark.operators import decontam

    train = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([], "doc_id long, text string")
    rows = decontam.contamination(train, bench, "doc_id", "text", n=8).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_grams"] == 2 and r["n_hit"] == 0 and not r["contaminated"]


def test_pack_sequences_empty_input(spark):
    from traffic_accidents_airflow_kafka_spark.operators import sampling

    df = spark.createDataFrame([], "doc_id long, n_tokens long")
    assert sampling.pack_sequences(df, "doc_id", "n_tokens", 128).collect() == []


def test_temperature_mixture_single_group_takes_whole_budget(spark):
    from traffic_accidents_airflow_kafka_spark.operators import sampling

    df = spark.createDataFrame([("only", 1234)], "source string, tokens long")
    r = sampling.temperature_mixture(df, "source", "tokens", budget=1000).collect()[0]
    assert r["mix_share"] == 1.0 and r["planned_tokens"] == 1000


def test_bloom_dedup_empty_history_keeps_everything(spark):
    hist = spark.createDataFrame([], "doc_id long, text string")
    inc = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.bloom_incremental_dedup(inc, hist, "doc_id", "text").collect()
    }
    assert all(not r["is_duplicate"] and not r["bloom_candidate"] for r in out.values())


def test_excise_spans_greedy_left_to_right(spark):
    from traffic_accidents_airflow_kafka_spark.operators import decontam

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),      # 'a b c' flagged -> 'd e'
            (2, "x a b c a b c"),  # two non-overlapping matches
            (3, "clean text here"),
            (4, "a b"),            # shorter than n, untouched
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame([("a b c",)], "span string")
    out = {
        r["doc_id"]: r
        for r in decontam.excise_spans(docs, spans, "doc_id", "text", n=3).collect()
    }
    assert out[1]["text"] == "d e" and out[1]["n_excised_spans"] == 1
    assert out[2]["text"] == "x" and out[2]["n_excised_spans"] == 2
    assert out[3]["text"] == "clean text here" and out[3]["n_excised_spans"] == 0
    assert out[4]["text"] == "a b" and out[4]["n_tokens_after"] == 2
    # Overlap resolution: 'a b a b a' with span 'a b a' -> earliest wins,
    # scan resumes after the window: remove [0:3], keep 'b a'.
    docs2 = spark.createDataFrame([(9, "a b a b a")], "doc_id long, text string")
    spans2 = spark.createDataFrame([("a b a",)], "span string")
    r = decontam.excise_spans(docs2, spans2, "doc_id", "text", n=3).collect()[0]
    assert r["text"] == "b a" and r["n_excised_spans"] == 1


def test_excise_spans_rejects_unbounded_worklist(spark):
    """The driver-side broadcast guard: a span relation past max_spans
    raises instead of moving corpus-scale data through the driver (r5
    VERDICT nit). The limit(max_spans+1) probe also means the check
    never scans the oversized relation to completion."""
    import pytest

    from traffic_accidents_airflow_kafka_spark.operators import decontam

    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    big = spark.range(0, 50).select(
        F.concat(F.lit("span-"), F.col("id")).alias("span")
    )
    with pytest.raises(ValueError, match="max_spans"):
        decontam.excise_spans(docs, big, "doc_id", "text", n=3, max_spans=10)
    # At or under the cap still works.
    ok = decontam.excise_spans(docs, big, "doc_id", "text", n=3, max_spans=50)
    assert ok.count() == 1


def test_chunk_documents_boundary_arithmetic(spark):
    """Chunks tile the document: consecutive chunks overlap by exactly
    `overlap` chars, concatenating each chunk's non-overlap prefix plus
    the final chunk reconstructs the text, and short/empty docs yield
    exactly one chunk."""
    from traffic_accidents_airflow_kafka_spark.operators.text import chunk_documents

    text = "".join(chr(ord("a") + i % 26) for i in range(100))
    docs = spark.createDataFrame(
        [(1, text), (2, "short"), (3, "")], "doc_id long, text string"
    )
    out = chunk_documents(docs, "doc_id", "text", chunk_chars=64, overlap=16)
    rows = {r["doc_id"]: [] for r in out.collect()}
    for r in out.collect():
        rows[r["doc_id"]].append(r)
    for v in rows.values():
        v.sort(key=lambda r: r["chunk_idx"])

    c1 = rows[1]
    assert [r["chunk_start"] for r in c1] == [1, 49]  # stride 48, bound 100-16=84
    assert c1[0]["chunk_text"] == text[0:64]
    assert c1[1]["chunk_text"] == text[48:100]
    # overlap region identical between consecutive chunks
    assert c1[0]["chunk_text"][-16:] == c1[1]["chunk_text"][:16]
    # reconstruction: non-overlap prefixes + final chunk
    assert c1[0]["chunk_text"][:48] + c1[1]["chunk_text"] == text

    assert len(rows[2]) == 1 and rows[2][0]["chunk_text"] == "short"
    assert len(rows[3]) == 1 and rows[3][0]["chunk_text"] == ""


def test_chunk_documents_rejects_nonpositive_stride(spark):
    import pytest
    from traffic_accidents_airflow_kafka_spark.operators.text import chunk_documents

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(docs, "doc_id", "text", chunk_chars=16, overlap=16)


def test_tfidf_ranks_distinctive_terms_over_ubiquitous(spark, tmp_path):
    """A term appearing in every document (df = N) scores below a
    same-tf term unique to one document; top-1 for the planted doc is
    its distinctive term."""
    import pyspark.sql.functions as F
    from traffic_accidents_airflow_kafka_spark.plans.llm import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (0, "zebra zebra common filler1 filler2"),
            (1, "common alpha beta gamma delta"),
            (2, "common epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    )
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    out = tfidf_top_terms(spark, sf).toPandas()
    top_doc0 = out[(out["doc_id"] == 0) & (out["rnk"] == 1)].iloc[0]
    assert top_doc0["term"] == "zebra" and top_doc0["tf"] == 2
    # 'common' (df=3=N) never outranks a unique term of equal tf.
    for doc in (1, 2):
        sub = out[out["doc_id"] == doc].sort_values("rnk")
        assert list(sub["term"])[-1] == "common" or "common" not in list(sub["term"])


def _write_docs(spark, tmp_path, texts):
    import os
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    )
    sf = str(tmp_path / "sf")
    os.makedirs(sf, exist_ok=True)
    docs.write.mode("overwrite").parquet(os.path.join(sf, "documents.parquet"))
    return sf


def test_vocab_coverage_matches_hand_zipf(spark, tmp_path):
    """Planted counts: 'a'x6 'b'x3 'c'x1 -> top-10 covers everything;
    coverage fractions follow the hand-computed mass."""
    from traffic_accidents_airflow_kafka_spark.plans.llm import vocab_coverage

    sf = _write_docs(spark, tmp_path, ["a a a b", "a a a b b c"])
    out = vocab_coverage(spark, sf).toPandas().set_index("cutoff")
    assert out.at[10, "n_terms"] == 3
    assert out.at[10, "covered_tokens"] == 10 and out.at[10, "total_tokens"] == 10
    assert out.at[10, "coverage"] == 1.0
    # all three cutoffs present even when vocab < cutoff
    assert list(out.index) == [10, 100, 1000]


def test_pmi_prefers_bound_phrase_over_independent_pair(spark, tmp_path):
    """A bigram that ALWAYS co-occurs ('new york' x5) outranks a pair of
    frequent-but-independent words; sub-floor bigrams are dropped."""
    from traffic_accidents_airflow_kafka_spark.plans.llm import pmi_collocations

    texts = ["new york " + "x y " * 5]*5  # 'new york' 5x; x,y frequent, mixed order
    texts += ["y x " * 5] * 5
    sf = _write_docs(spark, tmp_path, texts)
    out = pmi_collocations(spark, sf).toPandas()
    assert len(out) >= 1
    assert out.iloc[0]["bigram"] == "new york"
    # support floor: nothing below 5 occurrences
    assert (out["c12"] >= 5).all()


def test_pagerank_star_center_dominates_and_mass_conserves(spark):
    """On a 5-node star the hub out-ranks every leaf; total rank mass
    sums to 1 (teleport + damped flow, no dangling node)."""
    from traffic_accidents_airflow_kafka_spark.operators.graph import (
        pagerank,
        prepare_pair_graph,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], "d1 long, d2 long"
    )
    g = prepare_pair_graph(pairs)
    ranks = {r["id"]: r["rank"] for r in pagerank(g, iters=15).collect()}
    assert set(ranks) == {1, 2, 3, 4, 5}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    hub = ranks[1]
    for leaf in (2, 3, 4, 5):
        assert hub > ranks[leaf] * 2
    # leaves are symmetric
    leaves = [ranks[i] for i in (2, 3, 4, 5)]
    assert max(leaves) - min(leaves) < 1e-12


def test_pagerank_graph_ignores_pair_order_duplicates_and_self_loops(spark):
    """prepare_pair_graph symmetrizes and dedups: pairs listed reversed,
    repeated or as self-loops give both variants exactly the ranks of
    the clean pair list, and one graph serves both loops."""
    from traffic_accidents_airflow_kafka_spark.operators.graph import (
        pagerank,
        pagerank_fixedpoint,
        prepare_pair_graph,
    )

    clean = [(1, 2), (1, 3), (2, 3), (4, 5), (5, 6)]
    noisy = clean + [(2, 1), (3, 1), (1, 2), (6, 5), (4, 4), (7, 7)]
    schema = "d1 long, d2 long"
    g_clean = prepare_pair_graph(spark.createDataFrame(clean, schema))
    g_noisy = prepare_pair_graph(spark.createDataFrame(noisy, schema))
    assert (g_noisy.n_nodes, g_noisy.n_edges) == (6, 10)
    fx = [
        {r["id"]: r["rank_u"] for r in pagerank_fixedpoint(g).collect()}
        for g in (g_clean, g_noisy)
    ]
    assert fx[0] == fx[1]
    fl = [{r["id"]: r["rank"] for r in pagerank(g).collect()} for g in (g_clean, g_noisy)]
    assert set(fl[0]) == set(fl[1]) == set(fx[0]) == {1, 2, 3, 4, 5, 6}
    for k in fl[0]:
        assert abs(fl[0][k] - fl[1][k]) < 1e-12


def test_leakfree_split_keeps_neardup_family_together(spark, tmp_path):
    """Plant a 3-doc near-dup family among distinct singletons; the split
    is keyed on the CLUSTER, so all three must land in one split and the
    straddle proof column must read 1."""
    from traffic_accidents_airflow_kafka_spark.plans.llm import (
        leakfree_split_stats,
    )

    dup = "the quick brown fox jumps over the lazy dog again and again"
    texts = [dup, dup + " x", dup + " y"] + [
        f"totally unrelated document number {i} with its own words {i * 7}"
        for i in range(10)
    ]
    sf = _write_docs(spark, tmp_path, texts)
    rows = leakfree_split_stats(spark, sf).collect()
    assert all(r["max_splits_per_cluster"] == 1 for r in rows)
    # 13 docs, 11 clusters (the family collapses 3 -> 1).
    assert sum(r["n_docs"] for r in rows) == 13
    assert sum(r["n_clusters"] for r in rows) == 11


def test_triangle_stats_on_planted_graph(spark):
    """Triangle (1,2,3) plus pendant node 4 hanging off 1: hand-computed
    degrees, per-node triangle counts, and clustering coefficients.
    Duplicate and reversed input pairs must not double-count."""
    from traffic_accidents_airflow_kafka_spark.operators.graph import triangle_stats

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 1), (2, 1), (1, 3)],  # dups + reversal
        "d1 long, d2 long",
    )
    got = {
        r["id"]: (r["degree"], r["n_triangles"], r["clustering_coeff"])
        for r in triangle_stats(pairs).collect()
    }
    assert got == {
        1: (3, 1, 0.3333),  # 1 triangle of C(3,2)=3 possible
        2: (2, 1, 1.0),
        3: (2, 1, 1.0),
        4: (1, 0, 0.0),
    }


def test_triangle_stats_clique_vs_chain(spark):
    """A 4-clique is all coefficient 1.0 (safe to collapse); a 4-chain
    has zero triangles everywhere (needs pairwise review)."""
    from traffic_accidents_airflow_kafka_spark.operators.graph import triangle_stats

    clique = [(a, b) for a in range(4) for b in range(4) if a < b]
    chain = [(10, 11), (11, 12), (12, 13)]
    got = triangle_stats(
        spark.createDataFrame(clique + chain, "d1 long, d2 long")
    ).collect()
    for r in got:
        if r["id"] < 4:
            assert r["degree"] == 3 and r["n_triangles"] == 3
            assert r["clustering_coeff"] == 1.0
        else:
            assert r["n_triangles"] == 0 and r["clustering_coeff"] == 0.0


def test_pagerank_fixedpoint_matches_integer_reference(spark):
    """The quantized iteration must replay EXACTLY in pure-Python int
    arithmetic (the property that makes its SQL oracle possible), and
    its ranking must agree with the float variant on a star graph."""
    from traffic_accidents_airflow_kafka_spark.operators.graph import (
        pagerank,
        pagerank_fixedpoint,
        prepare_pair_graph,
    )

    raw_pairs = [(1, 2), (1, 3), (1, 4), (1, 5), (4, 5)]
    g = prepare_pair_graph(spark.createDataFrame(raw_pairs, "d1 long, d2 long"))
    iters, scale, dn, dd = 10, 10**12, 85, 100
    got = {
        r["id"]: r["rank_u"]
        for r in pagerank_fixedpoint(g, iters=iters, scale=scale).collect()
    }

    # Pure-Python replay of the documented recurrence.
    edges = set()
    for a, b in raw_pairs:
        edges.add((a, b))
        edges.add((b, a))
    nodes = sorted({a for a, _ in edges})
    deg = {n: sum(1 for a, _ in edges if a == n) for n in nodes}
    init = scale // len(nodes)
    base = ((dd - dn) * init) // dd
    ranks = {n: init for n in nodes}
    for _ in range(iters):
        s = {n: 0 for n in nodes}
        for a, b in edges:
            s[b] += ranks[a] // deg[a]
        ranks = {n: base + (dn * s[n]) // dd for n in nodes}
    assert got == ranks

    # Ranking parity with the float variant (hub >> leaves).
    fl = {r["id"]: r["rank"] for r in pagerank(g, iters=iters).collect()}
    order_int = sorted(got, key=lambda n: (-got[n], n))
    order_fl = sorted(fl, key=lambda n: (-fl[n], n))
    assert order_int == order_fl
    # Quantized mass stays within iters * |V| micro-units of 1.0.
    assert scale - sum(got.values()) <= iters * len(nodes) * max(deg.values())


def test_repeated_spans_planted_boilerplate(spark):
    """ExactSubstr semantics on a planted fixture: two docs share an
    8-word boilerplate block at DIFFERENT positions; a third doc is
    disjoint. Span bounds are exact 1-based inclusive token indices and
    only the shared block is reported."""
    block = "the quick brown fox jumps over the lazy"  # 8 words
    d0 = block + " unique0 tail0 words0 here0"  # block at tokens 1..8
    d1 = "pre1 pre2 " + block + " post1"  # block at tokens 3..10
    d2 = "totally different content with no overlap at all nine ten"
    docs = spark.createDataFrame(
        [(0, d0), (1, d1), (2, d2)], "doc_id long, text string"
    )
    spans = {
        r["doc_id"]: r
        for r in dedup.repeated_spans(docs, "doc_id", "text", k=8).collect()
    }
    assert set(spans) == {0, 1}
    assert (spans[0]["span_start"], spans[0]["span_end"]) == (1, 8)
    assert (spans[1]["span_start"], spans[1]["span_end"]) == (3, 10)
    for r in spans.values():
        assert r["span_tokens"] == 8 and r["max_doc_support"] == 2


def test_repeated_spans_merge_overlapping_windows(spark):
    """Two docs share a 10-word block: the three consecutive duplicated
    8-grams (positions 1, 2, 3) must merge into ONE 10-token span, not
    three overlapping ones — span_tokens is exact coverage."""
    block = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    docs = spark.createDataFrame(
        [(0, block + " xa xb"), (1, "ya yb " + block)],
        "doc_id long, text string",
    )
    rows = dedup.repeated_spans(docs, "doc_id", "text", k=8).collect()
    by_doc = {r["doc_id"]: r for r in rows}
    assert len(rows) == 2  # one merged span per doc
    assert (by_doc[0]["span_start"], by_doc[0]["span_end"]) == (1, 10)
    assert (by_doc[1]["span_start"], by_doc[1]["span_end"]) == (3, 12)
    assert by_doc[0]["span_tokens"] == by_doc[1]["span_tokens"] == 10


def test_incremental_repeated_spans_equals_full_rescan(spark, sf_dir):
    """The incremental miner's contract: history-index + arrival batch
    produces EXACTLY the full-corpus repeated_spans output restricted to
    arrival docs (support still counted over everything)."""
    from traffic_accidents_airflow_kafka_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 5 != 4)
    arrivals = docs.filter(F.col("doc_id") % 5 == 4)
    inc = sorted(
        tuple(r) for r in dedup.incremental_repeated_spans(
            history, arrivals, "doc_id", "text", k=8
        ).collect()
    )
    full = sorted(
        tuple(r) for r in dedup.repeated_spans(docs, "doc_id", "text", k=8)
        .filter(F.col("doc_id") % 5 == 4)
        .collect()
    )
    assert inc == full and len(inc) > 0


def test_incremental_repeated_spans_rejects_id_overlap(spark):
    """Disjoint doc ids are what make the support index mergeable — an
    overlap must raise, not silently double-count."""
    d = spark.createDataFrame(
        [(1, "a b c d e f g h i")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="share doc ids"):
        dedup.incremental_repeated_spans(d, d, "doc_id", "text", k=8)


def test_margin_bitext_planted_pair(spark):
    """A planted near-identical cross-pool pair must be mined and
    accepted; an isotropic decoy must not outrank it."""
    import pyspark.sql.functions as F

    from traffic_accidents_airflow_kafka_spark.operators import similarity

    dim = 8
    base = [1.0, 0.5, -0.25, 0.75, -1.0, 0.3, 0.9, -0.6]
    near = [x * 1.01 + (0.001 if i == 0 else 0.0) for i, x in enumerate(base)]
    rows = [
        (0, base),            # src: the planted anchor (even id)
        (2, [1.0] * dim),     # src: flat decoy
        (4, [-0.8, 0.1, 0.4, -0.3, 0.2, -0.9, 0.5, 0.7]),
        (1, near),            # tgt: the planted translation (odd id)
        (3, [0.9] * dim),     # tgt: hub-ish flat vector
        (5, [0.2, -0.4, 0.8, 0.1, -0.5, 0.6, -0.2, 0.3]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    out = {
        r.src_id: r
        for r in similarity.margin_bitext_pairs(
            src, tgt, None, k=2, threshold=1.0
        ).collect()
    }
    assert out[0].tgt_id == 1, "planted pair must be the argmax"
    assert out[0].accepted and out[0].margin > 1.0
    assert out[0].cosine > 0.999
    # Every mined row's margin is positive and consistent with accept.
    for r in out.values():
        assert (r.margin >= 1.0) == bool(r.accepted) or abs(r.margin - 1.0) < 1e-3


def test_sq8_ann_planted_neighbor(spark):
    """SQ8 quantization noise must not flip a clear planted neighbor, and
    the quantized cosine must track the exact cosine within the scalar
    quantizer's error envelope."""
    import pyspark.sql.functions as F

    from traffic_accidents_airflow_kafka_spark.operators import similarity

    dim = 8
    base = [0.9, -0.5, 0.25, -0.75, 1.0, 0.3, -0.9, 0.6]
    near = [x * 0.99 for x in base]
    rows = [
        (0, base),
        (1, near),
        (2, [1.0] * dim),
        (3, [-0.8, 0.1, 0.4, -0.3, 0.2, -0.9, 0.5, 0.7]),
        (4, [0.05 * (i - 4) for i in range(dim)]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = emb.select("vec_id").filter(F.col("vec_id") == 0)
    approx = similarity.sq8_ann_topk(emb, qids, dim=dim, k=3).collect()
    assert approx[0].nid == 1 and approx[0].rank == 1
    exact = {
        r.nid: r.cosine
        for r in similarity.cosine_topk(emb, qids, k=3).collect()
    }
    for r in approx:
        if r.nid in exact:
            assert abs(r.sq_cosine - exact[r.nid]) < 0.05, r


def test_sq8_flat_dimension_is_exact(spark):
    """A dimension with zero spread quantizes to code 0 and dequantizes
    back to exactly its constant — no NaN/Inf from the mx == mn guard."""
    import math

    from traffic_accidents_airflow_kafka_spark.operators import similarity

    rows = [(i, [1.0, float(i), 0.5]) for i in range(4)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.sq8_ann_topk(emb, None, dim=3, k=2).collect()
    assert len(out) == 8  # 4 queries x top-2
    for r in out:
        assert math.isfinite(r.sq_cosine)


def test_excise_spans_matches_python_reference_property(spark):
    """Property (r8): the Arrow excision pass equals a pure-Python greedy
    reference on randomized corpora — the third leg next to the planted
    fixtures and the span_excision_stats SQL-fold oracle (all three
    implement 'window starts iff flagged and not consumed; a start
    advances the scan by n')."""
    import random

    from traffic_accidents_airflow_kafka_spark.operators import decontam

    rnd = random.Random(41)
    n = 3
    vocab = list("abcdefg")
    docs_rows = []
    for did in range(40):
        toks = [rnd.choice(vocab) for _ in range(rnd.randint(1, 25))]
        docs_rows.append((did, " ".join(toks)))
    all_grams = {
        " ".join(t.split(" ")[i : i + n])
        for _, t in docs_rows
        for i in range(len(t.split(" ")) - n + 1)
    }
    flagged = set(rnd.sample(sorted(all_grams), min(12, len(all_grams))))

    def ref(text):
        toks = text.split(" ")
        kept, i, cut = [], 0, 0
        while i < len(toks):
            if i + n <= len(toks) and " ".join(toks[i : i + n]) in flagged:
                cut += 1
                i += n
            else:
                kept.append(toks[i])
                i += 1
        return " ".join(kept), cut

    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    spans = spark.createDataFrame(
        [(s,) for s in sorted(flagged)], "span string"
    )
    got = {
        r["doc_id"]: (r["text"], r["n_excised_spans"])
        for r in decontam.excise_spans(
            docs, spans, "doc_id", "text", n=n
        ).collect()
    }
    for did, text in docs_rows:
        assert got[did] == ref(text), f"doc {did}: {text!r}"


def test_deletion_neighborhood_pairs_planted(spark):
    """SymSpell deletion-index semantics on a planted vocabulary: finds
    every substitution and insert/delete pair at Levenshtein distance 1,
    emits each exactly once, and excludes transpositions (distance 2 —
    they share a deletion key, so the exact verify must drop them) and
    unrelated words."""
    wf = spark.createDataFrame(
        [
            ("cat", 10),   # base
            ("cut", 5),    # substitution of cat (distance 1)
            ("cats", 3),   # insertion on cat (distance 1)
            ("act", 2),    # transposition of cat — distance 2, excluded
            ("dog", 7),    # unrelated
            ("dug", 1),    # substitution of dog (distance 1)
        ],
        "word string, f long",
    )
    got = {
        (r["w1"], r["w2"]): (r["f1"], r["f2"])
        for r in dedup.deletion_neighborhood_pairs(
            wf, min_freq=1, min_len=3, max_len=20
        ).collect()
    }
    # "cats"/"cut" is distance 2 (not a pair); "act"/"cat" distance 2
    # (transposition) — both excluded by the exact verify.
    assert set(got) == {("cat", "cut"), ("cat", "cats"), ("dog", "dug")}
    assert got[("cat", "cut")] == (10, 5)
    assert got[("cat", "cats")] == (10, 3)
    assert got[("dog", "dug")] == (7, 1)


def test_line_dedup_planted_boilerplate(spark):
    """CCNet-style line dedup: a boilerplate unit planted into more than
    max_doc_freq docs is removed from EVERY doc (including its first
    appearance), unique lines all survive, reassembly preserves original
    line order exactly, and untouched docs rejoin to their input text."""
    bl = "subscribe to our newsletter"
    rows = [
        # 6 docs carry the boilerplate at varying positions (df=6 > 4).
        (0, f"{bl}\nzero unique alpha\nzero unique beta"),
        (1, f"one unique alpha\n{bl}\none unique beta"),
        (2, f"two unique alpha\ntwo unique beta\n{bl}"),
        (3, f"{bl}\nthree unique"),
        (4, f"four unique\n{bl}"),
        (5, f"{bl}\nfive unique"),
        # a doc with no boilerplate at all
        (6, "six unique alpha\nsix unique beta"),
        # a line repeated in exactly 2 docs stays below the threshold
        (7, "shared pair line\nseven unique"),
        (8, "shared pair line\neight unique"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(
            docs, "doc_id", "text", sep="\n", max_doc_freq=4
        ).collect()
    }
    assert len(out) == 9  # one row per input doc, touched or not
    # The planted unit is gone from every carrier; order is preserved.
    assert out[0]["clean_text"] == "zero unique alpha\nzero unique beta"
    assert out[1]["clean_text"] == "one unique alpha\none unique beta"
    assert out[2]["clean_text"] == "two unique alpha\ntwo unique beta"
    assert out[3]["clean_text"] == "three unique"
    for did in range(6):
        assert out[did]["n_dropped"] == 1
        assert out[did]["chars_before"] == len(rows[did][1])
        assert out[did]["chars_after"] == len(out[did]["clean_text"])
    # Untouched docs reassemble to EXACTLY their input (split→rejoin
    # identity) — including the below-threshold shared pair.
    for did in (6, 7, 8):
        assert out[did]["n_dropped"] == 0
        assert out[did]["clean_text"] == rows[did][1]


def test_line_dedup_drops_whole_doc_to_empty(spark):
    """A doc made ENTIRELY of boilerplate reduces to the empty string
    (chars_after 0), not a null or a crash."""
    bl = "cookie banner"
    rows = [(i, f"{bl}\nunique {i}") for i in range(5)] + [(9, bl)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.line_dedup(
            docs, "doc_id", "text", sep="\n", max_doc_freq=4
        ).collect()
    }
    assert out[9]["n_lines"] == 1 and out[9]["n_dropped"] == 1
    assert out[9]["clean_text"] == "" and out[9]["chars_after"] == 0
    assert out[0]["clean_text"] == "unique 0"


def test_gif_decode_third_party_bytes():
    """The GIF decoder reads bytes it did NOT encode: the two
    ubiquitous externally-produced 1x1 tracking pixels (black/
    transparent palette and white). These carry a graphic-control
    extension (skipped), a 2-color global table, a 2-bit LZW minimum
    code size, and a data block that ends WITHOUT an explicit EOI once
    the raster is complete — all real-world shapes our own encoder
    never emits."""
    import base64

    black = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7"
    )
    white = base64.b64decode(
        "R0lGODlhAQABAIAAAP///wAAACH5BAEAAAAALAAAAAABAAEAAAICRAEAOw=="
    )
    assert multimodal.decode_image_pixels(black) == (1, 1, 3, b"\x00\x00\x00")
    assert multimodal.decode_image_pixels(white) == (1, 1, 3, b"\xff\xff\xff")
    assert multimodal.decode_image_meta(black) == (1, 1)


def test_gif_lzw_table_reset_roundtrip():
    """A large incompressible raster drives the LZW dictionary past
    4096 entries, forcing the encoder's CLEAR-and-reset path and the
    decoder's matching rebuild — round-trip must stay exact through
    the reset boundary. Deterministic LCG pixels, no RNG state."""
    n = 255 * 80
    px = bytes(((1103515245 * k + 12345) >> 8) % 256 for k in range(n))
    gif = multimodal.encode_gif(255, 80, px)
    dw, dh, c, rgb = multimodal.decode_image_pixels(gif)
    assert (dw, dh, c) == (255, 80, 3)
    assert rgb[0::3] == px


def test_gif_corrupt_and_unsupported_raise():
    """GIF corrupt-byte contract: truncated data blocks, an LZW stream
    cut before the raster completes, and sub-rectangle frames all
    surface as ValueError — never fake pixels, never a giant
    allocation from header-claimed dims."""
    good = multimodal.encode_gif(10, 10, bytes(range(100)))
    assert multimodal.decode_image_pixels(good)[0] == 10
    truncated = good[:-8]  # cuts into the LZW data
    subrect = bytearray(good)
    subrect[6 + 7 + 768 + 1 : 6 + 7 + 768 + 3] = (2).to_bytes(2, "little")
    for bad in (truncated, bytes(subrect)):
        with pytest.raises(ValueError):
            multimodal.decode_image_pixels(bad)


def test_gif_interlaced_roundtrip():
    """Interlaced GIFs (the common real-world variant) store rows in
    the four-pass order; the decoder must re-order them — an
    interlaced file decodes to EXACTLY the same canonical raster as
    its progressive twin, across heights that exercise all four passes,
    heights shorter than one pass cycle, and h=1."""
    px = bytes((k * 11 + 5) % 251 for k in range(97))
    for w, h in [(13, 17), (8, 8), (5, 3), (7, 1), (4, 2)]:
        flat = multimodal.decode_image_pixels(multimodal.encode_gif(w, h, px))
        inter = multimodal.decode_image_pixels(
            multimodal.encode_gif(w, h, px, interlace=True)
        )
        assert inter == flat, (w, h)
    # the interlaced bytes are genuinely different on disk (h > 1)
    assert multimodal.encode_gif(5, 3, px) != multimodal.encode_gif(
        5, 3, px, interlace=True
    )


def test_deletion_neighborhood_pairs_distance2(spark):
    """SymSpell depth 2: a substitution+insertion compound (distance 2)
    is recovered via shared 2-deletion keys; a distance-3 pair that DOES
    share a 2-deletion key ('xyabcd'/'abcdq' both reach 'abcd') is a
    candidate the exact verify must drop; and the d1 pairs keep their
    dist=1 labels."""
    wf = spark.createDataFrame(
        [
            ("winter", 10),
            ("wintry", 4),    # delete e, substitute r->y: distance 2 from winter
            ("winters", 3),   # insertion (distance 1)
            ("xyabcd", 2),    # shares 2-del key 'abcd' with abcdq...
            ("abcdq", 2),     # ...but levenshtein = 3: candidate, dropped
            ("zebra", 5),     # unrelated
        ],
        "word string, f long",
    )
    out = {
        (r["w1"], r["w2"]): r["dist"]
        for r in dedup.deletion_neighborhood_pairs(
            wf, min_freq=1, min_len=3, max_len=20, max_distance=2
        ).collect()
    }
    assert out[("winter", "wintry")] == 2
    assert out[("winter", "winters")] == 1
    assert out[("winters", "wintry")] == 2  # delete e, substitute s->y
    assert ("abcdq", "xyabcd") not in out  # distance 3, verify drops it
    assert not any("zebra" in p for p in out)


def test_deletion_neighborhood_d2_superset_of_d1(spark):
    """Depth 2 returns every depth-1 pair with identical (f1, f2) and
    dist=1 — widening the index never loses the narrower tier."""
    wf = spark.createDataFrame(
        [("cat", 10), ("cut", 5), ("cats", 3), ("act", 2), ("dog", 7), ("dug", 1)],
        "word string, f long",
    )
    d1 = {
        (r["w1"], r["w2"]): (r["f1"], r["f2"], r["dist"])
        for r in dedup.deletion_neighborhood_pairs(
            wf, min_freq=1, min_len=3, max_len=20, max_distance=1
        ).collect()
    }
    d2 = {
        (r["w1"], r["w2"]): (r["f1"], r["f2"], r["dist"])
        for r in dedup.deletion_neighborhood_pairs(
            wf, min_freq=1, min_len=3, max_len=20, max_distance=2
        ).collect()
    }
    assert set(d1) <= set(d2)
    for k, v in d1.items():
        assert d2[k] == v
    # the transposition 'act'/'cat' is distance 2 — found at depth 2,
    # excluded at depth 1
    assert ("act", "cat") in d2 and ("act", "cat") not in d1
    assert d2[("act", "cat")][2] == 2


def test_decoder_corrupt_bytes_never_escape_valueerror():
    """r10 review regressions: every corrupt-byte shape that previously
    leaked IndexError (escaping the extract_pixel_stats ValueError
    quarantine) must surface as ValueError — a GIF cut right after the
    image descriptor, and a BMP whose pixel indices run past the
    declared color count."""
    import struct

    px = bytes(range(64))
    # GIF truncated immediately after the 10-byte image descriptor
    # (before the LZW minimum-code-size byte): 6 sig + 7 LSD + 768 GCT
    # + 10 descriptor.
    gif_cut = multimodal.encode_gif(4, 4, px)[: 6 + 7 + 768 + 10]
    with pytest.raises(ValueError):
        multimodal.decode_image_pixels(gif_cut)
    # BMP declaring a 16-color palette while carrying index 250.
    bmp = bytearray(multimodal.encode_bmp(4, 4, bytes([250]) * 16))
    bmp[46:50] = struct.pack("<I", 16)  # biClrUsed = 16
    with pytest.raises(ValueError):
        multimodal.decode_image_pixels(bytes(bmp))


def test_bmp_final_row_padding_optional():
    """Real-world writers may omit the LAST row's 4-byte alignment
    padding; such files decoded fine before the r10 bounds check and
    must keep decoding (the check requires only the final row's pixel
    bytes, not its padding)."""
    px = bytes(range(32))
    full = multimodal.encode_bmp(5, 4, px)
    stripped = full[:-3]  # drop the final row's 3 pad bytes (stride 8, w 5)
    assert multimodal.decode_image_pixels(stripped) == (
        multimodal.decode_image_pixels(full)
    )


def test_incremental_line_dedup_equals_full_rewrite(spark):
    """The daily-ingest form == line_dedup over the full corpus
    restricted to arrival docs — for BOTH input forms (history docs
    indexed inline, and the persisted line_support_index), including a
    line whose frequency crosses the threshold only when history and
    batch counts ADD."""
    bl = "accept all cookies"
    rows = (
        # history: 3 docs carry the boilerplate (df below threshold alone)
        [(i, f"{bl}\nhist unique {i}") for i in range(3)]
        + [(3, "hist only line")]
        # arrivals: 2 more carriers -> combined df 5 > 4; plus clean docs
        + [(10, f"arr unique a\n{bl}"), (11, f"{bl}\narr unique b"),
           (12, "arr clean\nsolo line")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    history = docs.filter("doc_id < 10")
    arrivals = docs.filter("doc_id >= 10")
    full = {
        r["doc_id"]: r
        for r in dedup.line_dedup(
            docs, "doc_id", "text", sep="\n", max_doc_freq=4
        ).collect()
        if r["doc_id"] >= 10
    }
    for kwargs in (
        {"history": history},
        {
            "history": None,
            "history_index": dedup.line_support_index(
                history, "doc_id", "text", sep="\n"
            ),
        },
    ):
        inc = {
            r["doc_id"]: r
            for r in dedup.incremental_line_dedup(
                arrivals=arrivals,
                id_col="doc_id",
                text_col="text",
                sep="\n",
                max_doc_freq=4,
                **kwargs,
            ).collect()
        }
        assert set(inc) == set(full)
        for did in full:
            assert tuple(inc[did]) == tuple(full[did]), (kwargs.keys(), did)
    # the threshold genuinely needed both sides' counts
    assert full[10]["n_dropped"] == 1 and full[11]["n_dropped"] == 1
    assert full[12]["n_dropped"] == 0


def test_incremental_line_dedup_input_contract(spark):
    """Exactly one of history/history_index; disjoint doc ids."""
    docs = spark.createDataFrame(
        [(1, "a\nb"), (2, "c\nd")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="exactly one"):
        dedup.incremental_line_dedup(None, docs, "doc_id", "text")
    with pytest.raises(ValueError, match="exactly one"):
        dedup.incremental_line_dedup(
            docs, docs, "doc_id", "text",
            history_index=dedup.line_support_index(docs, "doc_id", "text"),
        )
    with pytest.raises(ValueError, match="share doc ids"):
        dedup.incremental_line_dedup(docs, docs, "doc_id", "text")


def test_line_dedup_normalized_pools_trivial_variants(spark):
    """normalize=True (the CCNet form): case/punctuation variants of a
    boilerplate line pool their document frequencies — 'Subscribe
    NOW!!' and 'subscribe now' are one unit, removed everywhere once
    the pooled count crosses the threshold — while byte-exact hashing
    (the default) keeps them apart and below it. Removal always
    excises the ORIGINAL text, not the canonical form."""
    variants = [
        "Subscribe NOW!!", "subscribe now", "SUBSCRIBE  now",
        "subscribe now.", "Subscribe now", "subscribe NOW",
    ]
    rows = [(i, f"{v}\nunique {i}") for i, v in enumerate(variants)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = {
        r["doc_id"]: r["n_dropped"]
        for r in dedup.line_dedup(
            docs, "doc_id", "text", sep="\n", max_doc_freq=4
        ).collect()
    }
    assert all(v == 0 for v in plain.values())  # 6 distinct byte forms
    norm = {
        r["doc_id"]: r
        for r in dedup.line_dedup(
            docs, "doc_id", "text", sep="\n", max_doc_freq=4, normalize=True
        ).collect()
    }
    for i in range(6):
        assert norm[i]["n_dropped"] == 1
        assert norm[i]["clean_text"] == f"unique {i}"  # original text gone


def test_decode_audio_meta_parses_real_aiff():
    """AIFF encode→parse round-trip on genuine big-endian FORM bytes,
    including the 80-bit extended-float sample rate: every common rate
    plus awkward integers must survive _f80_encode→_f80_decode exactly,
    and the chunk walker must skip unknown odd-sized chunks with even
    padding."""
    import struct

    aiff = multimodal.encode_aiff(44100, 321, b"pcm", n_channels=2)
    assert multimodal.decode_audio_meta(aiff) == (44100, 2, 16, 321)
    assert len(aiff) == 54 + 321 * 4
    (form_size,) = struct.unpack(">I", aiff[4:8])
    assert form_size == len(aiff) - 8
    for rate in (1, 8000, 11025, 22050, 44100, 48000, 96000, 192000, 12345):
        assert multimodal._f80_decode(multimodal._f80_encode(rate)) == rate
        a = multimodal.encode_aiff(rate, 10)
        assert multimodal.decode_audio_meta(a)[0] == rate
    # unknown odd-length chunk before COMM, padded to even
    chunks = aiff[12:]
    odd = b"ANNO" + struct.pack(">I", 3) + b"abc" + b"\x00"
    padded = (
        b"FORM"
        + struct.pack(">I", 4 + len(odd) + len(chunks))
        + b"AIFF" + odd + chunks
    )
    assert multimodal.decode_audio_meta(padded) == (44100, 2, 16, 321)
    # truncated: FORM/AIFF but no COMM
    with pytest.raises(ValueError):
        multimodal.decode_audio_meta(b"FORM\x00\x00\x00\x04AIFF")


def test_png_adam7_interlaced_roundtrip():
    """Adam7-interlaced PNGs (the progressive-rendering real-world
    variant) store seven independently-filtered sub-images; the decoder
    must unfilter each pass and scatter it back — an interlaced file
    decodes to EXACTLY the same canonical raster as its progressive
    twin, for both filter modes, across dims that exercise empty
    passes (w or h < 8), single pixels, and single rows/columns."""
    px = bytes((k * 13 + 1) % 251 for k in range(97))
    for w, h in [(17, 23), (8, 8), (1, 1), (5, 1), (1, 7), (3, 2), (9, 5)]:
        for filters in ("none", "varied"):
            flat = multimodal.decode_image_pixels(
                multimodal.encode_png(w, h, px, filters=filters)
            )
            inter = multimodal.decode_image_pixels(
                multimodal.encode_png(
                    w, h, px, filters=filters, interlace=True
                )
            )
            assert inter == flat, (w, h, filters)
    # genuinely different bytes on disk, and the IHDR flag is set
    prog = multimodal.encode_png(9, 5, px)
    adam = multimodal.encode_png(9, 5, px, interlace=True)
    assert prog != adam and adam[28] == 1 and prog[28] == 0
    # meta parser reads dims regardless of interlace
    assert multimodal.decode_image_meta(adam) == (9, 5)


def test_audio_zero_rate_raises_valueerror():
    """A structurally-valid COMM/fmt chunk with a ZERO sample rate must
    be ValueError (the corrupt-asset contract), not a downstream
    ZeroDivisionError from the duration math (r10 review)."""
    import struct

    aiff = bytearray(multimodal.encode_aiff(44100, 10))
    # COMM rate field: 12 (FORM hdr) + 8 (chunk hdr) + 8 (ch/frames/bits)
    aiff[12 + 8 + 8 : 12 + 8 + 18] = b"\x00" * 10
    wav = bytearray(multimodal.encode_wav(16000, 10))
    wav[24:28] = struct.pack("<I", 0)  # fmt sample rate
    for bad in (bytes(aiff), bytes(wav)):
        with pytest.raises(ValueError):
            multimodal.decode_audio_meta(bad)


def test_incremental_line_dedup_rejects_normalize_mismatch(spark, tmp_path):
    """A persisted index built under one normalize setting must be
    REFUSED by a call using the other — the hash spaces never meet, so
    a silent mismatch would drop all history support (r10 review). The
    marker survives a parquet round-trip."""
    docs = spark.createDataFrame(
        [(1, "Aa!\nbb"), (2, "aa\ncc")], "doc_id long, text string"
    )
    arrivals = spark.createDataFrame(
        [(10, "aa\ndd")], "doc_id long, text string"
    )
    path = str(tmp_path / "line_index")
    dedup.line_support_index(
        docs, "doc_id", "text", normalize=True
    ).write.parquet(path)
    idx = spark.read.parquet(path)
    with pytest.raises(ValueError, match="normalize"):
        dedup.incremental_line_dedup(
            None, arrivals, "doc_id", "text",
            history_index=idx, normalize=False,
        )
    # Matching setting works and pools the normalized variants:
    # 'Aa!' (history, canonicalizes to 'aa') + 'aa' (history) + 'aa'
    # (arrival) -> df 3 > 2, so the arrival's 'aa' is excised.
    out = dedup.incremental_line_dedup(
        None, arrivals, "doc_id", "text",
        history_index=idx, max_doc_freq=2, normalize=True,
    ).collect()
    assert len(out) == 1
    assert out[0]["n_dropped"] == 1 and out[0]["clean_text"] == "dd"


def test_png_truecolor_roundtrip():
    """Color-type-2 (truecolor RGB) PNGs: the decoder's 3-byte-per-
    pixel filter arithmetic — left neighbor bpp bytes back in Sub/
    Average/Paeth — is only exercised through this path, across both
    filter modes and both storage orders (progressive and Adam7)."""
    px = bytes((k * 7 + 3) % 251 for k in range(101))
    for w, h in [(17, 23), (1, 1), (5, 1), (3, 2), (9, 5)]:
        tiled = multimodal._tile(px, w * h * 3)
        for filters in ("none", "varied"):
            for inter in (False, True):
                f = multimodal.encode_png(
                    w, h, px, filters=filters, interlace=inter, color="rgb"
                )
                assert multimodal.decode_image_pixels(f) == (w, h, 3, tiled), (
                    w, h, filters, inter,
                )
    # IHDR says color type 2 and meta parses dims
    f = multimodal.encode_png(9, 5, px, color="rgb")
    assert f[25] == 2 and multimodal.decode_image_meta(f) == (9, 5)
    with pytest.raises(ValueError):
        multimodal.encode_png(4, 4, px, color="cmyk")


def test_encode_jpeg_flat_scan_decodes_back():
    """The flat-JPEG encoder's entropy scan, verified by an independent
    test-only Huffman reader built from the file's OWN DHT segments:
    the first block carries exactly the quantized DC (round((level-128)
    / 2)), every later block a zero diff + EOB, stuffed 0xFF bytes
    unwind, and the tail pads with 1s — plus the header walk reads true
    dims and extensions of the corrupt-asset contract hold."""
    import struct

    def verify_scan(j, w, h, lv):
        i = 2
        huff = {}
        data = None
        while i < len(j):
            marker, ln = struct.unpack(">HH", j[i : i + 4])
            body = j[i + 4 : i + 2 + ln]
            if marker == 0xFFC4:
                tc_th = body[0]
                counts, syms = body[1:17], body[17:]
                code, k, table = 0, 0, {}
                for bit_len in range(1, 17):
                    for _ in range(counts[bit_len - 1]):
                        table[(bit_len, code)] = syms[k]
                        k += 1
                        code += 1
                    code <<= 1
                huff[tc_th >> 4] = table
            if marker == 0xFFDA:
                data = j[i + 2 + ln : -2]
                break
            i += 2 + ln
        bits = "".join(f"{b:08b}" for b in data.replace(b"\xff\x00", b"\xff"))
        pos = 0

        def read_code(table):
            nonlocal pos
            bit_len = code = 0
            while True:
                code = (code << 1) | int(bits[pos])
                pos += 1
                bit_len += 1
                if (bit_len, code) in table:
                    return table[(bit_len, code)]

        for i_mcu in range(((w + 7) // 8) * ((h + 7) // 8)):
            s = read_code(huff[0])
            if s:
                mag = int(bits[pos : pos + s], 2)
                pos += s
                diff = mag if mag >= 1 << (s - 1) else mag - (1 << s) + 1
            else:
                diff = 0
            if i_mcu == 0:
                assert diff == round((lv - 128) / 2), (diff, lv)
            else:
                assert diff == 0
            assert read_code(huff[1]) == 0x00  # EOB
        assert all(c == "1" for c in bits[pos:]), "tail must pad with 1s"

    for w, h, lv in [(16, 16, 128), (17, 23, 0), (63, 47, 255), (1, 1, 77), (24, 9, 37)]:
        j = multimodal.encode_jpeg_flat(w, h, lv)
        assert j[:2] == b"\xff\xd8" and j[-2:] == b"\xff\xd9"
        assert multimodal.decode_image_meta(j) == (w, h)
        verify_scan(j, w, h, lv)
    with pytest.raises(ValueError):
        multimodal.encode_jpeg_flat(4, 4, 300)


def test_jpeg_dc_only_pixel_decode_roundtrip():
    """decode_image_pixels reads flat JPEGs back through the DC-only
    decoder: dims exact, every pixel the lossy-reconstructed level
    (2*round_half_even((lv-128)/2) + 128, clamped at 255), RGB
    replicated — including the banker's-rounding odd-delta cases
    (127 and 129 both reconstruct to 128) and the level-255 clamp."""
    import numpy as np

    for w, h, lv in [
        (16, 16, 128), (17, 23, 0), (63, 47, 255), (1, 1, 77),
        (24, 9, 37), (8, 8, 129), (8, 8, 127), (9, 25, 255),
    ]:
        W, H, c, rgb = multimodal.decode_image_pixels(
            multimodal.encode_jpeg_flat(w, h, lv)
        )
        assert (W, H, c) == (w, h, 3)
        exp = min(255, max(0, 2 * round((lv - 128) / 2) + 128))
        arr = np.frombuffer(rgb, dtype=np.uint8)
        assert len(arr) == w * h * 3
        assert arr.min() == arr.max() == exp, (lv, exp)


def _jpeg_handbuilt(scan_bytes, ac_counts, ac_syms, w=8, h=8, quant=16):
    """A hand-assembled single-block-capable grayscale baseline JPEG
    with a caller-chosen AC Huffman table and raw scan bytes — the
    planted-bitstream rig for verifying the decoder against closed-form
    expectations computed independently of the product's DCT matrix."""
    import struct

    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body

    qt = bytes([0]) + bytes([quant] * 64)
    sof = struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0])
    dc_counts = [0] * 16
    dc_counts[3] = 12
    dht_dc = bytes([0x00]) + bytes(dc_counts) + bytes(range(12))
    dht_ac = bytes([0x10]) + bytes(ac_counts) + bytes(ac_syms)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8" + seg(0xFFDB, qt) + seg(0xFFC0, sof)
        + seg(0xFFC4, dht_dc) + seg(0xFFC4, dht_ac)
        + seg(0xFFDA, sos) + scan_bytes + b"\xff\xd9"
    )


def test_jpeg_planted_basis_blocks_decode_to_closed_form():
    """Planted DCT-basis bitstreams: hand-built scans place ONE known
    AC coefficient, and the decoded raster must equal the closed-form
    inverse DCT computed here with math.cos and the spec's hardcoded
    zigzag table — independent of the product's matrix, so agreement
    verifies the transform, the zigzag, ZRL run-length decode, and
    dequantization all at once."""
    import math

    import numpy as np

    def expected(u, v, val):  # closed-form f = D.T F D + 128, rounded
        def d(k, n):
            s = math.sqrt(0.125) if k == 0 else 0.5
            return s * math.cos((2 * n + 1) * k * math.pi / 16)

        px = np.empty((8, 8), dtype=np.uint8)
        for x in range(8):
            for y in range(8):
                f = val * d(u, x) * d(v, y) + 128
                # determinism guard: the planted values must sit well
                # clear of the .5 rounding boundary
                assert abs((f % 1) - 0.5) > 0.01, f"pattern near .5: {f}"
                px[x, y] = min(255, max(0, round(f)))
        return px

    def decoded(j):
        w, h, _, rgb = multimodal.decode_image_pixels(j)
        return np.frombuffer(rgb, dtype=np.uint8)[0::3].reshape(h, w)

    # --- AC at zigzag position 1 (natural (0,1)): table len-1 EOB,
    # len-2 code 10 → symbol 0x01. Scan: DC cat0 '0000', AC '10',
    # mag '1' (+1), EOB '0' → exactly one byte 0b00001010.
    j = _jpeg_handbuilt(
        bytes([0b00001010]),
        ac_counts=[1, 1] + [0] * 14,
        ac_syms=bytes([0x00, 0x01]),
    )
    # +1 quantized by 16 at natural (u=0, v=1)
    assert (decoded(j) == expected(0, 1, 16)).all()

    # --- ZRL path: AC at zigzag 21 → natural index 48 = (u=6, v=0)
    # (spec's table, hardcoded here on purpose). Table: len-1 '0' →
    # EOB, len-2 '10' → ZRL(0xF0), len-3 '110' → (run=4,size=2)=0x42.
    # Scan bits: DC cat0 '0000' · ZRL '10' (16 zeros) · 0x42 '110'
    # (4 more zeros, size 2) · mag '11' (+3) · EOB '0' = 12 bits,
    # 1-padded → bytes 0b00001011 0b01101111.
    j = _jpeg_handbuilt(
        bytes([0b00001011, 0b01101111]),
        ac_counts=[1, 1, 1] + [0] * 13,
        ac_syms=bytes([0x00, 0xF0, 0x42]),
    )
    assert (decoded(j) == expected(6, 0, 3 * 16)).all()


def test_jpeg_decoder_boundary_rejections(spark):
    """What stays behind an imaging library raises ValueError (never
    IndexError — the quarantine contract): progressive SOF2, a
    truncated scan, and the quarantine path itself."""
    # --- progressive SOF2 ---
    b = bytearray(multimodal.encode_jpeg_flat(8, 8, 100))
    b[b.index(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="baseline"):
        multimodal.decode_image_pixels(bytes(b))

    # --- sampling factors beyond 2 (e.g. 4:1:1's H=4) ---
    b41 = bytearray(multimodal.encode_jpeg_flat(8, 8, 100))
    sof_at = b41.index(b"\xff\xc0")
    b41[sof_at + 11] = 0x41  # component 1 H=4, V=1
    with pytest.raises(ValueError, match="sampling factors"):
        multimodal.decode_image_pixels(bytes(b41))

    # --- scan truncated mid-block (headers intact) ---
    full = multimodal.encode_jpeg_flat(64, 64, 200)
    sos_at = full.index(b"\xff\xda")
    cut = full[: sos_at + 10]  # SOS segment survives, scan bits do not
    with pytest.raises(ValueError):
        multimodal.decode_image_pixels(cut)

    # --- quarantine path: corrupt JPEG quarantines instead of failing
    # the job, alongside decodable PNG/JPEG neighbors ---
    ok_png = multimodal.encode_png(4, 4, bytes(range(16)))
    ok_jpg = multimodal.encode_jpeg_flat(8, 8, 37)
    rows = [(1, "image/png", ok_png), (2, "image/jpeg", ok_jpg),
            (3, "image/jpeg", bytes(b))]
    df = spark.createDataFrame(rows, "asset_id long, mime string, payload binary")
    out = {
        r["asset_id"]: r
        for r in multimodal.extract_pixel_stats(df, on_error="null").collect()
    }
    assert out[1]["decode_error"] is None and out[1]["n_px"] == 16
    assert out[2]["decode_error"] is None and out[2]["px_min"] == 36
    assert out[3]["n_px"] is None and "baseline" in out[3]["decode_error"]


def test_jpeg_full_codec_roundtrip_bounds():
    """The arbitrary-content codec end to end: at quant 1 the only
    loss is coefficient rounding (max error ≤ 2 on this fixed pattern;
    measured 1), at quant 16 the error grows but stays codec-plausible,
    and a flat raster survives EXACTLY at any quant that divides its
    DC cleanly. Also pins ZRL emission: the sparse high-frequency
    pattern forces >16-zero runs through the encoder."""
    import numpy as np

    pattern = bytes((i * 37 + (i * i) % 251) % 256 for i in range(123))
    for w, h in [(16, 16), (17, 23), (64, 48), (1, 1)]:
        tiled = multimodal._tile(pattern, w * h)
        dec_w, dec_h, _, rgb = multimodal.decode_image_pixels(
            multimodal.encode_jpeg(w, h, tiled, quant=1)
        )
        assert (dec_w, dec_h) == (w, h)
        err = np.abs(
            np.frombuffer(rgb, dtype=np.uint8)[0::3].astype(int)
            - np.frombuffer(tiled, dtype=np.uint8).astype(int)
        )
        assert err.max() <= 2, err.max()

    # quant=16: lossy but bounded (uniform table, worst coefficient
    # rounding error 8 per coeff → a loose ~32 gray-level ceiling)
    tiled = multimodal._tile(pattern, 32 * 32)
    _, _, _, rgb = multimodal.decode_image_pixels(
        multimodal.encode_jpeg(32, 32, tiled, quant=16)
    )
    err = np.abs(
        np.frombuffer(rgb, dtype=np.uint8)[0::3].astype(int)
        - np.frombuffer(tiled, dtype=np.uint8).astype(int)
    )
    assert err.max() <= 32, err.max()

    # flat rasters: exact at quant 1 (DC = 8*(lv-128) divides by 1)
    for lv in (0, 77, 128, 255):
        _, _, _, rgb = multimodal.decode_image_pixels(
            multimodal.encode_jpeg(24, 16, bytes([lv]), quant=1)
        )
        assert set(rgb) == {lv}

    # ZRL actually fires: a raster with one isolated bright pixel per
    # block has energy in every frequency — encode must survive runs
    # and size categories up to the spec ceiling
    spike = bytearray(64)
    spike[0] = 255
    _, _, _, rgb = multimodal.decode_image_pixels(
        multimodal.encode_jpeg(8, 8, bytes(spike), quant=1)
    )
    dec = np.frombuffer(rgb, dtype=np.uint8)[0::3]
    assert abs(int(dec[0]) - 255) <= 2
    assert np.abs(dec[1:].astype(int)).max() <= 2

    # color (4:4:4 YCbCr) round-trip: the BT.601 transform amplifies
    # coefficient rounding ~2x; a flat color block survives exactly
    import numpy as np  # noqa: F811 — local alias for clarity

    for w, h in [(16, 16), (17, 23), (1, 1)]:
        tiled = multimodal._tile(pattern, w * h * 3)
        dec_w, dec_h, _, rgb = multimodal.decode_image_pixels(
            multimodal.encode_jpeg(w, h, tiled, quant=1, color="rgb")
        )
        assert (dec_w, dec_h) == (w, h)
        err = np.abs(
            np.frombuffer(rgb, dtype=np.uint8).astype(int)
            - np.frombuffer(tiled, dtype=np.uint8).astype(int)
        )
        assert err.max() <= 4, err.max()
    _, _, _, rgb = multimodal.decode_image_pixels(
        multimodal.encode_jpeg(16, 16, bytes([200, 30, 60]), quant=1,
                               color="rgb")
    )
    flat = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
    assert (flat == (200, 30, 60)).all()

    # 4:2:0 — the real-world subsampled layout. Flat color survives
    # exactly; gray-valued RGB (constant chroma) round-trips within 2,
    # isolating the 4-luma-blocks-per-MCU geometry incl. partial MCUs
    # at odd dims; saturated-chroma detail is lossy BY DESIGN.
    _, _, _, rgb = multimodal.decode_image_pixels(
        multimodal.encode_jpeg(24, 24, bytes([200, 30, 60]), quant=1,
                               color="rgb420")
    )
    flat = np.frombuffer(rgb, dtype=np.uint8).reshape(-1, 3)
    assert (flat == (200, 30, 60)).all()
    for w, h in [(16, 16), (17, 23), (31, 31), (1, 1)]:
        g = multimodal._tile(pattern, w * h)
        src = bytes(b for px in g for b in (px, px, px))
        dec_w, dec_h, _, rgb = multimodal.decode_image_pixels(
            multimodal.encode_jpeg(w, h, src, quant=1, color="rgb420")
        )
        assert (dec_w, dec_h) == (w, h)
        err = np.abs(
            np.frombuffer(rgb, dtype=np.uint8).astype(int)
            - np.frombuffer(src, dtype=np.uint8).astype(int)
        )
        assert err.max() <= 2, (w, h, err.max())

    with pytest.raises(ValueError):
        multimodal.encode_jpeg(8, 8, b"", quant=0)
    with pytest.raises(ValueError):
        multimodal.encode_jpeg(8, 8, b"", color="cmyk")
    # both encoders share the uint16 dims contract — ValueError, never
    # a struct.error leak
    for bad_w, bad_h in [(0, 8), (8, 0), (70000, 8), (8, 70000)]:
        with pytest.raises(ValueError):
            multimodal.encode_jpeg(bad_w, bad_h, b"")
        with pytest.raises(ValueError):
            multimodal.encode_jpeg_flat(bad_w, bad_h, 100)

    # a corrupt file claiming huge dims must quarantine as ValueError,
    # not MemoryError (scan far too short for the claimed raster)
    big = bytearray(multimodal.encode_jpeg_flat(8, 8, 100))
    sof_at = big.index(b"\xff\xc0")
    big[sof_at + 5 : sof_at + 9] = (60000).to_bytes(2, "big") * 2
    with pytest.raises(ValueError, match="too short|ceiling"):
        multimodal.decode_image_pixels(bytes(big))
