"""Text-analysis kit on real documents; multimodal plumbing shapes."""

from __future__ import annotations

from pyspark.sql import functions as F

from zacks_estimates_financial_statements_spark.functions import text as T
from zacks_estimates_financial_statements_spark.operators import multimodal as M


def test_token_counts_and_quality(spark):
    df = spark.createDataFrame(
        [("the cat sat on the mat.",), ("",), ("a-b c_d 1,234!",)],
        "text string")
    out = df.select(
        T.whitespace_token_count(F.col("text")).alias("ws"),
        T.regex_token_count(F.col("text")).alias("rx"),
        T.quality_score(F.col("text")).alias("q")).collect()
    assert [r["ws"] for r in out] == [6, 0, 3]
    # "a-b c_d 1,234!": a,-,b,c,_,d,1,",",234,! -> 10 regex tokens
    assert [r["rx"] for r in out] == [7, 0, 10]
    assert out[0]["q"] > out[2]["q"]
    assert out[1]["q"] == 0.0


def test_detect_language_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog of the house",),
         ("der Hund und die Katze ist nicht da",),
         ("le chat est dans la maison les jours",),
         ("zzz qqq xxx",)], "text string")
    out = [r[0] for r in df.select(T.detect_language(F.col("text"))).collect()]
    assert out == ["en", "de", "fr", "und"]


def test_token_split_matches_duckdb_word_boundary(spark):
    # The panels count whole-word hits via one split on [^a-z0-9_]+ (the
    # ASCII \w class); the DuckDB oracles count \bword\b regexp matches
    # (RE2, ASCII \b). Pin the cross-engine equivalence on
    # boundary-hostile inputs: underscores and digits are word chars (no
    # boundary), punctuation and non-ASCII letters are boundaries.
    import duckdb

    rows = [("the cat, the_cat and the9 cats; don't it's a-b THE «the»",),
            ("éthe the|and__of 0the the0 the",), ("",), ("___ the ___",)]
    df = spark.createDataFrame(rows, "text string")
    words = sorted({w for ws in T.LANG_MARKERS.values() for w in ws}
                   | set(T._STOPWORDS_EN))
    toks = T.word_tokens(F.col("text"))
    spark_counts = df.select(F.array(*[
        F.size(F.filter(toks, lambda t: t == F.lit(w))) for w in words
    ]).alias("c")).collect()
    con = duckdb.connect()
    for i, (text,) in enumerate(rows):
        duck = [con.execute(
            "SELECT len(regexp_extract_all(lower(?), '\\b' || ? || '\\b'))",
            [text, w]).fetchone()[0] for w in words]
        assert list(spark_counts[i]["c"]) == duck, (i, text)


def test_fingerprint_invariance(spark):
    df = spark.createDataFrame(
        [("Hello,  World!",), ("hello world",), ("different",)], "t string")
    fps = [r[0] for r in df.select(T.fingerprint(F.col("t"))).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "t string")
    words = F.split(T.normalize_text(F.col("t")), " ")
    out = [r[0] for r in df.select(
        T.shingles_from_words(words, 3).alias("s")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == ["a b"]


def _media_df(spark):
    return spark.createDataFrame(
        [(1, "image", bytearray(b"\x01\x02\x03\x04"), "image/png", 2, 2, None),
         (2, "image", bytearray(b""), "image/png", 1, 1, None),
         (3, "video", bytearray(b"\xff" * 32), "video/mp4", 640, 480, 3500),
         (4, "audio", bytearray(b"\x00" * 8), "audio/wav", None, None, 2000)],
        M.MEDIA_SCHEMA)


def test_video_frame_sampling(spark):
    frames = M.sample_video_frames(_media_df(spark), every_ms=1000).collect()
    assert [(r["media_id"], r["frame_idx"], r["ts_ms"]) for r in frames] == \
        [(3, 0, 0), (3, 1, 1000), (3, 2, 2000), (3, 3, 3000)]


# ---------------------------------------------------------------------------
# Real codecs (PPM / BMP / WAV) inside the multimodal operators
# ---------------------------------------------------------------------------


def test_real_image_decode_ppm_and_bmp():
    import numpy as np
    import pytest

    from zacks_estimates_financial_statements_spark.functions import codecs

    img = np.zeros((4, 6, 3), dtype=np.uint8)
    img[:2] = 255  # top half white, bottom half black
    # all three encodings decode to the same pixels
    for enc in (codecs.encode_ppm, codecs.encode_bmp, codecs.encode_png):
        assert np.array_equal(codecs.decode_image(enc(img)), img)
    # no in-container codec -> NotImplementedError (callers stub/quarantine)
    with pytest.raises(NotImplementedError):
        codecs.decode_image(b"\x89PNG fake")
    # truncated PPM -> a decode error, not a silent image
    with pytest.raises(ValueError):
        codecs.decode_image(b"P6\n2 2\n255\n\x00")


def test_real_audio_decode_wav():
    import numpy as np

    from zacks_estimates_financial_statements_spark.functions import codecs

    wav = codecs.encode_wav(
        np.sin(2 * np.pi * 440 * np.arange(8000) / 8000.0), rate=8000)
    assert codecs.sniff(wav) == "wav"
    samples, rate = codecs.decode_wav(wav)
    assert rate == 8000 and samples.shape == (8000, 1)  # 1 s, mono
    mono = samples[:, 0]
    assert abs(np.sqrt((mono ** 2).mean()) - 0.7071) < 0.01  # 1/sqrt(2)
    assert abs(np.abs(mono).max() - 1.0) < 0.01
    # 440 Hz -> 880 zero crossings/s -> rate 880/8000
    zc = (np.signbit(mono[1:]) != np.signbit(mono[:-1])).mean()
    assert abs(zc - 0.11) < 0.005
    assert codecs.sniff(b"\x00" * 16) != "wav"


def test_codec_roundtrip_and_resize():
    import numpy as np

    from zacks_estimates_financial_statements_spark.functions import codecs

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, size=(5, 9, 3), dtype=np.uint8)
    assert (codecs.decode_ppm(codecs.encode_ppm(img)) == img).all()
    assert (codecs.decode_bmp(codecs.encode_bmp(img)) == img).all()
    small = codecs.resize_nn(img, 2, 3)
    assert small.shape == (2, 3, 3)
    x = rng.uniform(-1, 1, size=(100, 2))
    samples, rate = codecs.decode_wav(codecs.encode_wav(x, 44100))
    assert rate == 44100 and samples.shape == (100, 2)
    assert np.abs(samples - x).max() < 1e-3  # 16-bit quantization


def test_detect_language_widened_panel_and_tiebreak(spark):
    df = spark.createDataFrame(
        [("il cane che corre non sono di qui",),          # it
         ("os gatos com mais fome como sempre uma vez",), # pt
         ("der hund the dog",),                           # tie de/en -> de
         ("zzz qqq",)], "text string")
    out = [r[0] for r in df.select(T.detect_language(F.col("text"))).collect()]
    # "der hund": de score 1 ('der'); "the dog": en score 1 ('the') —
    # first-wins over sorted codes gives 'de'
    assert out == ["it", "pt", "de", "und"]


def test_png_codec_all_filters_and_color_types():
    """decode_png reverses every scanline filter (None/Sub/Up/Avg/Paeth)
    and resolves gray/palette/RGBA to RGB — against hand-filtered
    streams, not just our own filter-0 encoder."""
    import struct
    import zlib

    import numpy as np

    from zacks_estimates_financial_statements_spark.functions import codecs as C

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 17, 3), dtype=np.uint8)
    assert np.array_equal(C.decode_png(C.encode_png(img)), img)

    def chunk(t, b):
        return (struct.pack(">I", len(b)) + t + b
                + struct.pack(">I", zlib.crc32(t + b) & 0xFFFFFFFF))

    def png(w, h, depth, ctype, raw, extra=b""):
        return (C._PNG_MAGIC
                + chunk(b"IHDR",
                        struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0))
                + extra + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    # forward-filter each row with filter type y % 5, then decode back
    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride).astype(np.int32)
    raw, prev = b"", np.zeros(stride, np.int32)
    for y in range(h):
        ft, cur, f = y % 5, flat[y], flat[y].copy()
        for i in range(stride):
            a = cur[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) >> 1
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
            else:
                pred = 0
            f[i] = (cur[i] - pred) & 0xFF
        raw += bytes([ft]) + f.astype(np.uint8).tobytes()
        prev = cur
    assert np.array_equal(C.decode_png(png(w, h, 8, 2, raw)), img)

    # palette
    pal = rng.integers(0, 256, (4, 3), dtype=np.uint8)
    idxs = rng.integers(0, 4, (5, 6, 1), dtype=np.uint8)
    raw_p = b"".join(b"\x00" + idxs[y].tobytes() for y in range(5))
    out = C.decode_png(png(6, 5, 8, 3, raw_p, chunk(b"PLTE", pal.tobytes())))
    assert np.array_equal(out, pal[idxs[:, :, 0]])

    # RGBA drops alpha; 16-bit raises
    rgba = rng.integers(0, 256, (5, 6, 4), dtype=np.uint8)
    raw_a = b"".join(b"\x00" + rgba[y].tobytes() for y in range(5))
    assert np.array_equal(C.decode_png(png(6, 5, 8, 6, raw_a)),
                          rgba[:, :, :3])
    import pytest as _pytest
    with _pytest.raises(NotImplementedError):
        C.decode_png(png(6, 5, 16, 2, b"\x00" * 5 * 37))


def test_jpeg_baseline_roundtrip_and_real_file():
    """Baseline JPEG codec: flat blocks are exact (only DC survives
    quantization), smooth content round-trips at high PSNR, 4:2:0 and
    restart-marker streams decode, and a real-world baseline JPEG from
    this container parses to its header dimensions."""
    import numpy as np

    from zacks_estimates_financial_statements_spark.functions import codecs as C

    # flat color → exact reconstruction
    flat = np.full((16, 24, 3), 200, np.uint8)
    assert np.array_equal(C.decode_jpeg(C.encode_jpeg(flat)), flat)

    # smooth content: PSNR bounded by quantization only
    rng = np.random.default_rng(11)
    coarse = rng.integers(0, 256, (6, 8, 3)).astype(np.uint8)
    img = C.resize_nn(coarse, 48, 64)

    def psnr(a, b):
        mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
        return 10 * np.log10(255 ** 2 / mse)

    assert psnr(C.decode_jpeg(C.encode_jpeg(img)), img) > 35.0
    # restart markers resync the entropy stream to the same pixels
    with_rst = C.decode_jpeg(C.encode_jpeg(img, restart_interval=2))
    assert np.array_equal(with_rst, C.decode_jpeg(C.encode_jpeg(img)))

    # 4:2:2/4:2:0: gray content has flat chroma, so subsampling is
    # lossless in chroma and the luma path must round-trip at high PSNR
    gray3 = np.repeat(C.luma(img).astype(np.uint8)[:, :, None], 3, 2)
    for sub in ("422", "420"):
        got = C.decode_jpeg(C.encode_jpeg(gray3, subsampling=sub))
        assert psnr(got, gray3) > 35.0
        # odd (non-MCU-multiple) dims crop correctly
        odd = C.decode_jpeg(C.encode_jpeg(img[:37, :51], subsampling=sub))
        assert odd.shape == (37, 51, 3)

    import os
    real = ("/usr/lib/google-cloud-sdk/platform/gsutil/third_party/"
            "requests/ext/flower-of-life.jpg")
    if os.path.exists(real):  # real-corpus fixture when present
        with open(real, "rb") as fh:
            arr = C.decode_jpeg(fh.read())
        assert arr.shape == (161, 161, 3)
        assert 150 < arr.mean() < 250  # light background pattern


def test_jpeg_unsupported_variants_flagged():
    """Progressive JPEG raises NotImplementedError (→ quarantine path),
    garbage raises ValueError."""
    import numpy as np
    import pytest

    from zacks_estimates_financial_statements_spark.functions import codecs as C

    flat = np.full((8, 8, 3), 90, np.uint8)
    data = bytearray(C.encode_jpeg(flat))
    sof = data.find(b"\xff\xc0")
    data[sof + 1] = 0xC2                        # rewrite SOF0 → SOF2
    with pytest.raises(NotImplementedError):
        C.decode_jpeg(bytes(data))
    with pytest.raises(ValueError):
        C.decode_jpeg(b"\xff\xd8\xff\xe0garbage")
    assert C.sniff(C.encode_jpeg(flat)) == "jpeg"


def test_video_metadata_real_bmff_parse():
    import pytest

    from zacks_estimates_financial_statements_spark.functions import codecs as C

    good = C.encode_mp4_stub(640, 360, 12500, with_audio=True)
    v1 = C.encode_mp4_stub(1920, 1080, 98765, timescale=90000,
                           version=1, brand=b"mp42")
    r = C.parse_mp4_metadata(good)
    assert (r["brand"], r["duration_ms"], r["n_tracks"]) == ("isom", 12500, 2)
    assert (r["width"], r["height"]) == (640, 360)
    assert r["has_video"] and r["has_audio"]
    r1 = C.parse_mp4_metadata(v1)
    assert (r1["brand"], r1["duration_ms"]) == ("mp42", 98765)
    assert (r1["width"], r1["height"]) == (1920, 1080)
    assert r1["has_video"] and not r1["has_audio"]
    # junk raises (callers quarantine the row)
    with pytest.raises(ValueError):
        C.parse_mp4_metadata(b"not a movie at all")


def test_mp4_parser_handles_truncation_and_largesize():
    from zacks_estimates_financial_statements_spark.functions import codecs as C

    good = C.encode_mp4_stub(320, 240, 5000)
    # truncating mid-moov keeps it parseable up to the cut or rejects
    # cleanly — never crashes
    for cut in (10, 40, len(good) - 5):
        try:
            meta = C.parse_mp4_metadata(good[:cut])
            assert meta["duration_ms"] == 5000
        except ValueError:
            pass
    # 64-bit largesize box wrapping the same moov payload
    body = good[good.index(b"moov") - 4 + 8:]
    large = (1).to_bytes(4, "big") + b"moov" \
        + (16 + len(body)).to_bytes(8, "big") + body
    meta = C.parse_mp4_metadata(good[:good.index(b"moov") - 4] + large)
    assert meta["duration_ms"] == 5000 and meta["n_tracks"] == 1


def test_video_frame_schedule_from_parsed_container(spark):
    from zacks_estimates_financial_statements_spark.functions import codecs as C

    media = spark.createDataFrame(
        [(20, "video", bytearray(C.encode_mp4_stub(320, 240, 3500)),
          "video/mp4", None, None, None)],   # no duration metadata
        M.MEDIA_SCHEMA)
    frames = M.sample_video_frames(media, every_ms=1000).collect()
    # 3500 ms read from the real mvhd box → frames at 0/1000/2000/3000
    assert [(r["frame_idx"], r["ts_ms"]) for r in frames] == \
        [(0, 0), (1, 1000), (2, 2000), (3, 3000)]


def test_synthesize_decode_invariants_roundtrip(spark):
    import hashlib

    ids = spark.createDataFrame([(i,) for i in range(8)], ["media_id"])
    rows = {r.media_id: r
            for r in M.synthesize_decode_invariants(ids).collect()}
    assert len(rows) == 8
    fmts = {0: "ppm", 1: "bmp", 2: "png", 3: "wav"}
    for mid, r in rows.items():
        assert r.fmt == fmts[mid % 4]
        if r.fmt == "wav":
            n_samp = 200 + (mid % 7) * 37
            assert (r.width, r.height) == (None, None)
            assert r.duration_ms == n_samp * 1000 // 8000
            assert r.enc_len == 44 + n_samp * 2
            expect_hex = M._hex_chain(mid, n_samp * 2)
        else:
            w, h = 4 + mid % 5, 3 + mid % 4
            assert (r.width, r.height) == (w, h)
            assert r.duration_ms is None
            assert r.enc_len is None if r.fmt == "png" \
                else r.enc_len > w * h * 3
            expect_hex = M._hex_chain(mid, w * h * 3)
        # the md5 is over the DECODED content — equality proves the
        # encode→decode round trip is byte-exact
        assert r.content_md5 == hashlib.md5(
            expect_hex.encode()).hexdigest()


def test_mjpeg_mp4_real_frame_extraction(spark):
    import numpy as np

    from zacks_estimates_financial_statements_spark.functions import codecs as C

    # 6 frames at 2 fps = 3 s; each frame a distinct flat color so the
    # decoded pixels identify WHICH sample was extracted
    colors = [(20 + 40 * i) % 256 for i in range(6)]
    src = [np.full((16, 24, 3), c, dtype=np.uint8) for c in colors]
    mp4 = C.encode_mjpeg_mp4(src, fps=2)

    media = spark.createDataFrame(
        [(30, "video", bytearray(mp4), "video/mp4", None, None, None)],
        M.MEDIA_SCHEMA)
    rows = (M.sample_video_frames(media, every_ms=1000)
            .orderBy("frame_idx").collect())
    assert [r["source"] for r in rows] == ["mjpeg"] * 3
    assert [(r["frame_idx"], r["ts_ms"]) for r in rows] == \
        [(0, 0), (1, 1000), (2, 2000)]
    # ticks 0/1000/2000 ms at 2 fps land on samples 0, 2, 4 — decode the
    # extracted bytes and check the flat color round-trips exactly
    for r, want in zip(rows, (colors[0], colors[2], colors[4])):
        arr = C.decode_jpeg(bytes(r["frame_bytes"]))
        assert arr.shape == (16, 24, 3)
        assert int(arr[8, 12, 0]) == want

    # non-MJPEG codec → flagged stub rows
    stub = M.sample_video_frames(
        spark.createDataFrame(
            [(31, "video", bytearray(C.encode_mp4_stub(64, 48, 1500)),
              "video/mp4", None, None, None)], M.MEDIA_SCHEMA)).collect()
    assert all(r["source"].startswith("stub:") for r in stub)


def test_dhash_brightness_invariance_and_discrimination():
    import numpy as np

    from zacks_estimates_financial_statements_spark.functions import codecs

    rng = np.random.default_rng(7)
    img = rng.integers(0, 200, (32, 40, 3)).astype(np.uint8)
    h = codecs.dhash64(img)
    assert 0 <= h < 1 << 64
    # deterministic
    assert codecs.dhash64(img) == h
    # global brightness shift: gradients unchanged -> hamming ~0
    shifted = np.clip(img.astype(int) + 40, 0, 255).astype(np.uint8)
    assert bin(h ^ codecs.dhash64(shifted)).count("1") <= 2
    # a thumbnail of a SMOOTH image stays close (dHash reads gradients,
    # which survive resizing when the image has low-frequency structure;
    # pure noise would not — and need not)
    yy, xx = np.mgrid[0:32, 0:40]
    smooth = np.stack([(yy * 4) % 256, (xx * 3) % 256,
                       ((yy + xx) * 2) % 256], axis=2).astype(np.uint8)
    hs = codecs.dhash64(smooth)
    thumb = codecs.resize_nn(smooth, 16, 20)
    assert bin(hs ^ codecs.dhash64(thumb)).count("1") <= 8
    # a different image is far
    other = rng.integers(0, 200, (32, 40, 3)).astype(np.uint8)
    assert bin(h ^ codecs.dhash64(other)).count("1") >= 16


def test_media_near_dup_pairs_finds_planted_images(spark):
    from pyspark.sql import functions as F

    from zacks_estimates_financial_statements_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i, i % 4) for i in range(8)],
                                "media_id: long, content_key: long")
    media = M.synthesize_image_corpus(ids)
    # every payload decodes (real PPM roundtrip)
    ph = M.perceptual_hashes(media)
    assert ph.filter("decode_error is not null").count() == 0
    got = {(r.id_a, r.id_b): r.hamming
           for r in M.media_near_dup_pairs(media, max_hamming=4).collect()}
    assert got == {(i, i + 4): 0 for i in range(4)}

    # a corrupt payload quarantines instead of pairing or failing
    broken = media.limit(0).unionByName(spark.createDataFrame(
        [(99, "image", b"P6\nnot really", "image/x-ppm", None, None,
          None)], media.schema))
    ph2 = M.perceptual_hashes(broken)
    row = ph2.collect()[0]
    assert row.dhash is None and row.decode_error


def test_video_near_dup_pairs_flags_shared_clips(spark):
    """Two videos sharing most frames (one brightness-shifted — dHash
    invariant) are flagged; a structurally distinct video is not; stub
    frames never enter fingerprints."""
    import numpy as np
    import pandas as pd

    from zacks_estimates_financial_statements_spark.functions import codecs
    from zacks_estimates_financial_statements_spark.operators import multimodal as MM

    def pattern(k):
        # structured gradient unique per k (flat frames all dHash to 0)
        y, x = np.indices((32, 32))
        img = ((x * (k + 3) + y * (2 * k + 1)) % 128 * 2).astype(np.uint8)
        return np.stack([img] * 3, axis=-1)

    p = [pattern(k) for k in range(6)]
    vids = [
        (1, codecs.encode_mjpeg_mp4([p[0], p[1], p[2], p[3]], fps=2)),
        # clip of video 1, +20 brightness (dHash is gradient-based)
        (2, codecs.encode_mjpeg_mp4(
            [np.clip(f.astype(np.int16) + 20, 0, 255).astype(np.uint8)
             for f in (p[1], p[2], p[3])], fps=2)),
        (3, codecs.encode_mjpeg_mp4([p[4], p[5]], fps=2)),
    ]
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [v[0] for v in vids],
                      "kind": "video",
                      "payload": [v[1] for v in vids],
                      "mime": "video/mp4", "width": 32, "height": 32,
                      "duration_ms": None}),
        schema=MM.MEDIA_SCHEMA)

    fp = MM.video_fingerprints(media, every_ms=500)
    rows = fp.collect()
    assert all(r["decode_error"] is None for r in rows)
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r["media_id"], []).append(r["dhash"])
    assert len(by_vid[1]) == 4 and len(by_vid[2]) == 3 and len(by_vid[3]) == 2

    pairs = MM.video_near_dup_pairs(media, every_ms=500,
                                    max_hamming=6).collect()
    got = {(r["video_a"], r["video_b"]): r for r in pairs}
    assert (1, 2) in got
    assert got[(1, 2)]["overlap"] >= 2 / 3   # clip containment
    assert (1, 3) not in got and (2, 3) not in got


def test_audio_near_dup_pairs_volume_invariant_clips(spark):
    """A half-volume clip of the same audio matches (sign-of-difference
    hashes are invariant to uniform scaling); distinct audio does not;
    undecodable payloads quarantine."""
    import numpy as np
    import pandas as pd

    from zacks_estimates_financial_statements_spark.functions import codecs
    from zacks_estimates_financial_statements_spark.operators import multimodal as MM

    rate, win = 8000, 800  # frame_ms=100 -> 800-sample windows

    def signal(key, n_win):
        # seeded broadband noise: rich spectra, key-specific band shape
        x = np.random.RandomState(key).randn(n_win * win)
        return x / np.abs(x).max() * 0.8

    a = signal(1, 10)
    clip = a[2 * win:8 * win] * 0.5          # aligned clip, -6 dB
    c = signal(7, 10)
    rows = [(1, codecs.encode_wav(a, rate)),
            (2, codecs.encode_wav(clip, rate)),
            (3, codecs.encode_wav(c, rate)),
            (4, b"not a wav at all")]
    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [r[0] for r in rows], "kind": "audio",
                      "payload": [r[1] for r in rows], "mime": "audio/wav",
                      "width": None, "height": None, "duration_ms": None}),
        schema=MM.MEDIA_SCHEMA)

    fp = MM.audio_fingerprints(media, frame_ms=100)
    rows_fp = fp.collect()
    quarantined = [r for r in rows_fp if r["decode_error"] is not None]
    assert [r["media_id"] for r in quarantined] == [4]
    n_by = {}
    for r in rows_fp:
        if r["fp"] is not None:
            n_by[r["media_id"]] = n_by.get(r["media_id"], 0) + 1
    assert n_by == {1: 10, 2: 6, 3: 10}

    got = {(r["media_a"], r["media_b"]): r for r in
           MM.audio_near_dup_pairs(media, frame_ms=100,
                                   max_hamming=6).collect()}
    assert (1, 2) in got
    assert got[(1, 2)]["overlap"] >= 5 / 6    # clip containment
    assert all(3 not in k for k in got)


def test_hashable_corpora_closed_form_hashes(spark):
    """The hash-attestable synthesizers: the REAL decode→hash chain
    must land exactly on the closed-form prediction the SQL oracles
    compute (image dHash = pixel comparisons; video frame dHash =
    block comparisons through a JPEG round-trip; audio fingerprint =
    the rank-permutation sign bits), and planted same-key ids must
    collapse to hamming-0 duplicates."""
    import hashlib

    from zacks_estimates_financial_statements_spark.operators import multimodal as M

    def md5b(*parts):
        return int(hashlib.md5(
            ":".join(str(p) for p in parts).encode()).hexdigest()[:2], 16)

    def signed(h):
        return h - (1 << 64) if h >= 1 << 63 else h

    ids = spark.createDataFrame(
        [(i, i % 3) for i in range(6)], "media_id long, content_key long")

    # images: dhash == closed form, same-key ids identical
    got = {r["media_id"]: r["dhash"] for r in
           M.perceptual_hashes(M.synthesize_hashable_images(ids)).collect()}
    for mid in range(6):
        key = mid % 3
        pred = 0
        for r in range(8):
            for c in range(8):
                pred = (pred << 1) | int(
                    md5b(key, r, c) < md5b(key, r, c + 1))
        assert got[mid] == signed(pred), f"image {mid}"

    # video: per-frame dhash == block-value closed form
    vf = M.video_fingerprints(
        M.synthesize_hashable_videos(ids), every_ms=500).collect()
    assert all(r["decode_error"] is None for r in vf)
    for r in vf:
        key = r["media_id"] % 3
        pred = 0
        for rr in range(8):
            for cc in range(8):
                pred = (pred << 1) | int(
                    (md5b(key, r["frame_idx"], rr, cc) % 128) * 2
                    < (md5b(key, r["frame_idx"], rr, cc + 1) % 128) * 2)
        assert r["dhash"] == signed(pred), \
            f"video {r['media_id']} frame {r['frame_idx']}"
    # frame count follows 2 + key % 3
    from collections import Counter
    nf = Counter(r["media_id"] for r in vf)
    assert all(nf[m] == 2 + (m % 3) % 3 for m in range(6))

    # audio: fingerprints == rank-permutation sign bits, across volumes
    af = M.audio_fingerprints(
        M.synthesize_hashable_audio(ids), frame_ms=100).collect()
    assert all(r["decode_error"] is None for r in af)
    assert len(af) == 6 * 4
    for r in af:
        key, t = r["media_id"] % 3, r["frame_idx"]
        bs = [md5b(key, t, b) for b in range(65)]
        order = sorted(range(65), key=lambda b: (bs[b], b))
        rank = [0] * 65
        for i, b in enumerate(order):
            rank[b] = i
        pred = 0
        for b in range(64):
            pred = (pred << 1) | int(rank[b + 1] > rank[b])
        assert r["fp"] == signed(pred), \
            f"audio {r['media_id']} window {t}"


# -- non-MJPEG video ---------------------------------------------------

def _avc1_mp4(colors):
    """An MP4 whose stsd fourcc claims 'avc1' but whose samples are the
    JPEG bytes encode_mjpeg_mp4 wrote: a well-formed container whose
    video codec has no decoder in this process."""
    import numpy as np

    from zacks_estimates_financial_statements_spark.functions import codecs as C

    src = [np.full((16, 24, 3), c, dtype=np.uint8) for c in colors]
    mp4 = C.encode_mjpeg_mp4(src, fps=2)
    i = mp4.index(b"stsd")
    # stsd layout: type(4) + version/flags(4) + count(4) + entry size(4)
    # then the sample-entry fourcc
    assert mp4[i + 16:i + 20] == b"jpeg"
    return mp4[:i + 16] + b"avc1" + mp4[i + 20:]


def test_non_mjpeg_video_codec_quarantines(spark):
    """A video codec other than MJPEG raises NotImplementedError inside
    the frame sampler, and every sampled tick becomes a ``stub:`` row
    naming the codec."""
    mp4 = _avc1_mp4([20, 60, 100, 140])
    media = spark.createDataFrame(
        [(40, "video", bytearray(mp4), "video/mp4", None, None, None)],
        M.MEDIA_SCHEMA)
    rows = M.sample_video_frames(media, every_ms=1000).collect()
    assert rows and all(r["source"].startswith("stub:") for r in rows)
    assert any("avc1" in r["source"] for r in rows)
