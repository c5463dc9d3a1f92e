"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The Spark-side machinery (schemas, batching, partition sizing, UDF
signatures) is real and tested. Codec status per modality:

- **images** — REAL decode for baseline JPEG (huffman + IDCT,
  4:4:4/4:2:2/4:2:0, restart markers), PNG (8-bit non-interlaced,
  stdlib zlib inflate + scanline unfilter), PPM (P6) and uncompressed
  24-bit BMP (``functions/codecs.py``, pure numpy), feeding the
  perceptual hashes. Payloads without a codec here
  (progressive/arithmetic/12-bit JPEG; 16-bit/interlaced PNG) are
  quarantined with ``decode_error``.
- **audio** — REAL decode for PCM WAV (stdlib ``wave``), feeding the
  audio fingerprints and the decode-invariant round trip.
- **video** — container metadata is REAL (stdlib ISO-BMFF box walker:
  ftyp brand, mvhd duration v0/v1, tkhd dimensions, hdlr track
  classification — ``codecs.parse_mp4_metadata``), and frame extraction
  is REAL for MJPEG-in-MP4 (sample-table demux slices each scheduled
  tick's JPEG sample; the bytes decode with the baseline JPEG codec).
  Non-MJPEG codecs (H.264/HEVC) still fall back to a clearly-flagged
  stub marker row (``source = 'stub:…'``) — their decoders need
  libraries the package does not depend on.

Design notes for 100 TB:
- media rows are large; ``mapInPandas`` with a bounded
  ``arrow.maxRecordsPerBatch`` keeps worker memory flat;
- decode outputs are *narrow* (features/metadata), so the expensive scan
  emits small rows — project early, never carry the bytes past decode;
- binary payloads should live in their own column family / file group
  (Parquet stores them contiguously), so metadata-only queries prune the
  media column entirely.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: canonical multimodal row: opaque payload + typed metadata
MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType(), False),
    StructField("kind", StringType(), False),        # image|audio|video
    StructField("payload", BinaryType(), True),
    StructField("mime", StringType(), True),
    StructField("width", IntegerType(), True),       # images/video
    StructField("height", IntegerType(), True),
    StructField("duration_ms", LongType(), True),    # audio/video
])

FRAME_SAMPLE_SCHEMA = (
    "media_id long, frame_idx int, ts_ms long, frame_bytes binary, "
    "source string"
)

def sample_video_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video payloads → sampled frame rows.

    Frame extraction is REAL for MJPEG-in-MP4: the ISO-BMFF sample tables
    are demuxed (``codecs.parse_mp4_samples``) and each sampled tick emits
    the actual JPEG sample nearest-at-or-before it (``source = 'mjpeg'``;
    the bytes feed ``codecs.decode_jpeg`` directly). Payloads whose video
    codec is not MJPEG (H.264/HEVC …) fall back to a clearly-flagged
    deterministic stub marker (``source = 'stub:…'``); the sampling schedule
    stays real either way — when the ``duration_ms`` metadata column is null
    the duration comes from the payload's actual ``mvhd`` box."""
    import pandas as pd

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    cols = ["media_id", "frame_idx", "ts_ms", "frame_bytes", "source"]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from zacks_estimates_financial_statements_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid, payload, dur in zip(pdf["media_id"], pdf["payload"],
                                         pdf["duration_ms"]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    frames = codecs.extract_mjpeg_frames(payload)
                    # schedule end: metadata duration, else up to the
                    # last demuxed frame (same ticks the container
                    # duration would give)
                    end = (int(dur) if not pd.isna(dur)
                           else frames[-1][0] + 1)
                    # forward pointer over the decode-ordered samples:
                    # O(n_frames + n_ticks), and ticks BEFORE the first
                    # sample are skipped (there is no at-or-before frame
                    # to honestly emit for them)
                    fi = -1
                    for i, tick in enumerate(range(0, max(end, 1),
                                                   every_ms)):
                        while (fi + 1 < len(frames)
                               and frames[fi + 1][0] <= tick):
                            fi += 1
                        if fi < 0:
                            continue
                        rows.append({"media_id": mid, "frame_idx": i,
                                     "ts_ms": tick,
                                     "frame_bytes": frames[fi][1],
                                     "source": "mjpeg"})
                    continue
                except (ValueError, NotImplementedError) as exc:
                    reason = str(exc)
                if pd.isna(dur):
                    try:
                        dur = codecs.parse_mp4_metadata(payload)["duration_ms"]
                    except ValueError:
                        dur = 0
                dur = int(dur)
                for i, ts in enumerate(range(0, max(dur, 1), every_ms)):
                    # STUB frame: deterministic byte slice marker
                    rows.append({"media_id": mid, "frame_idx": i,
                                 "ts_ms": ts,
                                 "frame_bytes": payload[:16],
                                 "source": f"stub:{reason[:80]}"})
            yield pd.DataFrame(rows, columns=cols)

    return (media.filter(F.col("kind") == "video")
            .select("media_id", "payload", "duration_ms")
            .mapInPandas(fn, FRAME_SAMPLE_SCHEMA))


FRAME_INVARIANTS_SCHEMA = (
    "media_id long, frame_idx int, ts_ms long, fmt string, "
    "width int, height int, color int"
)


def synthesize_mjpeg_media(ids: DataFrame,
                           id_col: str = "media_id") -> DataFrame:
    """Deterministic MJPEG-in-MP4 corpus keyed by id: ``2 + id % 4``
    flat-color frames at 2 fps, ``width = 16 + (id % 3) * 8``,
    ``height = 16 + (id % 2) * 8``, frame *i* colored
    ``((id * 37 + i * 11) % 128) * 2`` — even levels only, which the
    Annex-K quantizer round-trips exactly, so decoded pixel values are
    closed-form predictable. Returns MEDIA_SCHEMA rows (null
    duration_ms: downstream must demux the real sample tables)."""
    import pandas as pd

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(ids.sparkSession)

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        from zacks_estimates_financial_statements_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                w, h = 16 + (mid % 3) * 8, 16 + (mid % 2) * 8
                frames = [
                    np.full((h, w, 3),
                            ((mid * 37 + i * 11) % 128) * 2,
                            dtype=np.uint8)
                    for i in range(2 + mid % 4)]
                rows.append({"media_id": mid, "kind": "video",
                             "payload": codecs.encode_mjpeg_mp4(
                                 frames, fps=2),
                             "mime": "video/mp4", "width": w,
                             "height": h, "duration_ms": None})
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA])

    return (ids.select(F.col(id_col).cast("long").alias("media_id"))
            .mapInPandas(fn, MEDIA_SCHEMA))


def frame_decode_invariants(frames: DataFrame) -> DataFrame:
    """Decode sampled frame bytes and emit what the decode recovered:
    sniffed format, true width/height, and the flat pixel value when
    the decoded frame is a constant color (NULL otherwise — any decoder
    defect flips the column). Pairs with ``synthesize_mjpeg_media`` to
    make the whole demux→extract→decode path oracle-checkable."""
    import pandas as pd

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(frames.sparkSession)

    cols = ["media_id", "frame_idx", "ts_ms", "fmt", "width", "height",
            "color"]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        from zacks_estimates_financial_statements_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid, idx, ts, fb in zip(pdf["media_id"], pdf["frame_idx"],
                                        pdf["ts_ms"], pdf["frame_bytes"]):
                fb = bytes(fb) if fb is not None else b""
                fmt = codecs.sniff(fb)
                width = height = color = None
                if fmt == "jpeg":
                    arr = codecs.decode_jpeg(fb)
                    height, width = int(arr.shape[0]), int(arr.shape[1])
                    if (arr == arr[0, 0, 0]).all():
                        color = int(arr[0, 0, 0])
                rows.append({"media_id": int(mid), "frame_idx": int(idx),
                             "ts_ms": int(ts), "fmt": fmt,
                             "width": width, "height": height,
                             "color": color})
            yield pd.DataFrame(rows, columns=cols)

    return (frames.select("media_id", "frame_idx", "ts_ms", "frame_bytes")
            .mapInPandas(fn, FRAME_INVARIANTS_SCHEMA))


MEDIA_ROUNDTRIP_SCHEMA = (
    "media_id long, fmt string, width int, height int, "
    "duration_ms long, enc_len long, content_md5 string"
)

#: format per media_id % 4 — three lossless image containers + PCM WAV
_ROUNDTRIP_FMTS = ("ppm", "bmp", "png", "wav")


def _hex_chain(media_id: int, n_bytes: int) -> str:
    """Deterministic content stream: concatenated md5 hexdigests of
    ``f"{media_id}:{block}"``, truncated to ``n_bytes`` worth of hex.
    The construction is reproducible in ANSI SQL
    (``string_agg(md5(id || ':' || b), '')`` over a generated series),
    which is what makes the decode invariants oracle-checkable."""
    import hashlib

    n_hex = n_bytes * 2
    blocks = (n_hex + 31) // 32
    return "".join(
        hashlib.md5(f"{media_id}:{b}".encode()).hexdigest()
        for b in range(blocks))[:n_hex]


def synthesize_decode_invariants(ids: DataFrame,
                                 id_col: str = "media_id") -> DataFrame:
    """Deterministic media corpus → encode → REAL decode → invariants.

    For each input id, generates content bytes from the md5 chain,
    encodes them into a real container (PPM/BMP/PNG by ``id % 4``, or
    16-bit mono PCM WAV), then runs the payload back through the
    package codecs and emits what the *decode* recovered: the sniffed
    container format, the parsed width/height (images) or duration
    (audio), the encoded byte length, and the md5 of the decoded
    content rendered as lowercase hex. Every output column has a
    closed-form SQL twin, so this is the driver-checkable correctness
    row for the multimodal codec path: a wrong sniff, a mis-parsed
    header, or a single wrong decoded byte flips a column.

    ``enc_len`` is NULL for PNG — the zlib-compressed length is
    implementation-defined, unlike the fixed-layout PPM/BMP/WAV
    containers. Everything else is exact.
    """
    import pandas as pd

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(ids.sparkSession)

    cols = ["media_id", "fmt", "width", "height", "duration_ms",
            "enc_len", "content_md5"]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import hashlib
        import struct

        import numpy as np

        from zacks_estimates_financial_statements_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                fmt = _ROUNDTRIP_FMTS[mid % 4]
                if fmt == "wav":
                    n_samp = 200 + (mid % 7) * 37
                    pcm = bytes.fromhex(_hex_chain(mid, n_samp * 2))
                    hdr = (b"RIFF" + struct.pack("<I", 36 + len(pcm))
                           + b"WAVE" + b"fmt "
                           + struct.pack("<IHHIIHH", 16, 1, 1, 8000,
                                         16000, 2, 16)
                           + b"data" + struct.pack("<I", len(pcm)))
                    payload = hdr + pcm
                    samples, rate = codecs.decode_wav(payload)
                    # sw=2 decode divides by 2^15, so *32768 is exact
                    raw = (samples * 32768.0).astype("<i2").tobytes()
                    rows.append({
                        "media_id": mid,
                        "fmt": codecs.sniff(payload),
                        "width": None, "height": None,
                        "duration_ms": samples.shape[0] * 1000 // rate,
                        "enc_len": len(payload),
                        "content_md5": hashlib.md5(
                            raw.hex().encode()).hexdigest(),
                    })
                else:
                    w, h = 4 + mid % 5, 3 + mid % 4
                    px = np.frombuffer(
                        bytes.fromhex(_hex_chain(mid, w * h * 3)),
                        dtype=np.uint8).reshape(h, w, 3)
                    payload = {"ppm": codecs.encode_ppm,
                               "bmp": codecs.encode_bmp,
                               "png": codecs.encode_png}[fmt](px)
                    arr = codecs.decode_image(payload)
                    rows.append({
                        "media_id": mid,
                        "fmt": codecs.sniff(payload),
                        "width": int(arr.shape[1]),
                        "height": int(arr.shape[0]),
                        "duration_ms": None,
                        "enc_len": None if fmt == "png" else len(payload),
                        "content_md5": hashlib.md5(
                            arr.tobytes().hex().encode()).hexdigest(),
                    })
            yield pd.DataFrame(rows, columns=cols)

    return (ids.select(F.col(id_col).cast("long").alias("media_id"))
            .mapInPandas(fn, MEDIA_ROUNDTRIP_SCHEMA))


PHASH_SCHEMA = "media_id long, dhash long, decode_error string"


def perceptual_hashes(media: DataFrame) -> DataFrame:
    """64-bit dHash per image payload (REAL decode via
    ``functions/codecs.py``; Krawetz difference hash — brightness-shift
    invariant, robust to re-encode/resize). Rows whose payload has no
    in-container codec or fails to decode carry a NULL hash and the
    ``decode_error`` — quarantined, never silently hashed from bytes.
    One bounded ``mapInPandas`` projection; the hash is emitted as a
    SIGNED 64-bit long (two's complement) so downstream xor/bit_count
    banding matches the simhash convention."""
    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from zacks_estimates_financial_statements_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                payload = bytes(payload) if payload is not None else b""
                try:
                    h = codecs.dhash64(codecs.decode_image(payload))
                    if h >= 1 << 63:
                        h -= 1 << 64
                    rows.append({"media_id": mid, "dhash": h,
                                 "decode_error": None})
                except Exception as exc:  # noqa: BLE001 — quarantine row
                    rows.append({"media_id": mid, "dhash": None,
                                 "decode_error":
                                 f"{type(exc).__name__}: {exc}"[:200]})
            yield pd.DataFrame(rows,
                               columns=["media_id", "dhash",
                                        "decode_error"])

    return (media.filter(F.col("kind") == "image")
            .select("media_id", "payload")
            .mapInPandas(fn, PHASH_SCHEMA))


def media_near_dup_pairs(media: DataFrame, max_hamming: int = 4,
                         max_bucket_size: int | None = 10000) -> DataFrame:
    """Near-duplicate IMAGE pairs: perceptual dHash sketches paired by
    the shared pigeonhole banding engine
    (``dedup.hamming_near_dup_pairs`` — block-value equi-join with
    exact recall inside the hamming budget, never an all-pairs scan).
    Returns ``(id_a, id_b, hamming)``; undecodable payloads drop out
    of pairing (their quarantine rows live in ``perceptual_hashes``).
    The multimodal tier of the dedup ladder: the same crawl image
    re-encoded, brightness-shifted or thumbnailed collapses to the
    same (or near-same) dHash while distinct photos stay ~32 bits
    apart."""
    from zacks_estimates_financial_statements_spark.operators import dedup

    sketches = (perceptual_hashes(media)
                .filter(F.col("dhash").isNotNull())
                .select("media_id", "dhash"))
    return dedup.hamming_near_dup_pairs(
        sketches, "media_id", "dhash", max_hamming=max_hamming,
        max_bucket_size=max_bucket_size)


def synthesize_image_corpus(ids: DataFrame, id_col: str = "media_id",
                            content_key_col: str = "content_key",
                            width: int = 24, height: int = 16) -> DataFrame:
    """Deterministic PPM image corpus for pipeline tests/queries: pixel
    bytes come from the md5 chain of the CONTENT KEY (not the id), so
    distinct ids sharing a key are planted exact-duplicate images.
    Returns MEDIA_SCHEMA rows."""
    import pandas as pd  # noqa: F401 — engine requirement for mapInPandas

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(ids.sparkSession)
    n = width * height * 3

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from zacks_estimates_financial_statements_spark.functions import codecs  # noqa: F401

        for pdf in batches:
            rows = []
            for mid, key in zip(pdf[id_col], pdf[content_key_col]):
                content = bytes.fromhex(_hex_chain(int(key), n))
                payload = (b"P6\n%d %d\n255\n" % (width, height)) + content
                rows.append({"media_id": int(mid), "kind": "image",
                             "payload": payload, "mime": "image/x-ppm",
                             "width": width, "height": height,
                             "duration_ms": None})
            yield pd.DataFrame(rows,
                               columns=[f.name for f in MEDIA_SCHEMA])

    return (ids.select(F.col(id_col), F.col(content_key_col))
            .mapInPandas(fn, MEDIA_SCHEMA))


VIDEO_FP_SCHEMA = ("media_id long, frame_idx int, ts_ms long, "
                   "dhash long, decode_error string")

#: frame index headroom inside the surrogate frame id (media_id * this
#: + frame_idx) — 1e6 sampled frames is ~11 days of video at 1 fps
_FRAME_ID_SPAN = 1_000_000


def video_fingerprints(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Per-video perceptual fingerprint: the sampled-frame sequence
    hashed frame-by-frame with the same dHash the image tier uses.
    Only REAL decoded frames are hashed (``source = 'mjpeg'``) — stub
    frames from codecs this process cannot decode are excluded, never
    silently hashed from byte slices. Failed frame decodes quarantine with ``decode_error``. One
    bounded ``mapInPandas`` over the demuxed frames; upstream sampling
    bounds rows at duration/every_ms per video."""
    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)
    frames = (sample_video_frames(media, every_ms)
              .filter(~F.col("source").startswith("stub:")))

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        from zacks_estimates_financial_statements_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid, fi, ts, fb in zip(pdf["media_id"], pdf["frame_idx"],
                                       pdf["ts_ms"], pdf["frame_bytes"]):
                try:
                    h = codecs.dhash64(codecs.decode_jpeg(bytes(fb)))
                    if h >= 1 << 63:
                        h -= 1 << 64
                    rows.append({"media_id": mid, "frame_idx": fi,
                                 "ts_ms": ts, "dhash": h,
                                 "decode_error": None})
                except Exception as exc:  # noqa: BLE001 — quarantine row
                    rows.append({"media_id": mid, "frame_idx": fi,
                                 "ts_ms": ts, "dhash": None,
                                 "decode_error":
                                 f"{type(exc).__name__}: {exc}"[:200]})
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx",
                                              "ts_ms", "dhash",
                                              "decode_error"])

    return (frames.select("media_id", "frame_idx", "ts_ms", "frame_bytes")
            .mapInPandas(fn, VIDEO_FP_SCHEMA))


def video_near_dup_pairs(media: DataFrame, every_ms: int = 1000,
                         max_hamming: int = 4) -> DataFrame:
    """Cross-VIDEO near-duplicate detection: two videos are near-dups
    when a large share of the shorter one's sampled frames each have a
    perceptual near-match in the other (containment overlap — catches
    clips and re-encodes, not just full-length copies).

    Frame hashes pair through the SAME pigeonhole hamming banding the
    text (simhash) and image (dHash) tiers use — an equi-join on band
    values, never |frames|² — via a surrogate frame id
    ``media_id * 1e6 + frame_idx``. Matched frame pairs then aggregate
    per video pair (map-side combined), and overlap compares matched
    distinct frames against each side's frame count. Output:
    ``(video_a, video_b, matched_a, matched_b, n_a, n_b, overlap)``
    with ``video_a < video_b``, filtered to ``overlap >= MIN_OVERLAP``.
    The banding/overlap tail is the shared ``sequence_near_dup_pairs``
    (audio reuses it over its own frame hashes).
    """
    out = sequence_near_dup_pairs(
        video_fingerprints(media, every_ms), "dhash",
        max_hamming=max_hamming)
    return (out.withColumnRenamed("media_a", "video_a")
            .withColumnRenamed("media_b", "video_b"))


AUDIO_FP_SCHEMA = ("media_id long, frame_idx int, fp long, "
                   "decode_error string")


def audio_fingerprints(media: DataFrame, frame_ms: int = 100) -> DataFrame:
    """Per-window robust audio hash (the spectral-shape half of
    Haitsma & Kalker 2002's scheme): the signal is framed into
    ``frame_ms`` windows, each window's spectrum is split into
    65 contiguous energy bands, and bit ``b`` is the sign of
    the adjacent-band energy difference ``E[b+1] - E[b]``. Signs of
    differences are invariant to uniform volume scaling and robust to
    re-encode noise, which is the point: the same clip at -6 dB or
    transcoded hashes nearly identically, distinct audio does not.
    (The paper's additional time-derivative term is deliberately
    dropped: on stationary signals it measures numerical noise and
    collapses every hash toward 0 — measured here — while the spatial
    term alone keeps per-window discrimination.)

    REAL decode only (PCM WAV via ``functions/codecs.py``); rows whose
    payload cannot decode quarantine with ``decode_error``. One bounded
    ``mapInPandas``; the 64 difference bits per frame fill one long for
    the same pigeonhole hamming banding as every other sketch tier."""
    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(media.sparkSession)
    n_bands = 65

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from zacks_estimates_financial_statements_spark.functions import codecs

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    x, rate = codecs.decode_wav(
                        bytes(payload) if payload is not None else b"")
                    mono = x.mean(axis=1)
                    win = max(int(rate * frame_ms / 1000), n_bands * 2)
                    nf = len(mono) // win
                    for t in range(nf):
                        seg = mono[t * win:(t + 1) * win]
                        mag = np.abs(np.fft.rfft(seg)) ** 2
                        bands = np.array_split(mag[1:], n_bands)
                        e = np.array([b.sum() for b in bands])
                        bits = (np.diff(e) > 0).astype(np.uint64)
                        h = 0
                        for bit in bits:
                            h = (h << 1) | int(bit)
                        if h >= 1 << 63:
                            h -= 1 << 64
                        rows.append({"media_id": mid, "frame_idx": t,
                                     "fp": h, "decode_error": None})
                except Exception as exc:  # noqa: BLE001 — quarantine row
                    rows.append({"media_id": mid, "frame_idx": -1,
                                 "fp": None, "decode_error":
                                 f"{type(exc).__name__}: {exc}"[:200]})
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx",
                                              "fp", "decode_error"])

    return (media.filter(F.col("kind") == "audio")
            .select("media_id", "payload")
            .mapInPandas(fn, AUDIO_FP_SCHEMA))


#: share of the shorter sequence's frames that must match for a near-dup
MIN_OVERLAP = 0.5


def sequence_near_dup_pairs(fp: DataFrame, hash_col: str,
                            max_hamming: int = 4) -> DataFrame:
    """Shared tail of the video/audio near-dup detectors: per-frame
    64-bit hashes ``(media_id, frame_idx, <hash_col>)`` → banded
    hamming frame pairs (surrogate id, equi-join on band values) →
    per-media-pair containment overlap. See ``video_near_dup_pairs``
    for the scale argument; audio reuses it verbatim."""
    from pyspark.sql.functions import broadcast

    from zacks_estimates_financial_statements_spark.operators import dedup

    fp = (fp.filter(F.col(hash_col).isNotNull())
          .select("media_id", "frame_idx", hash_col)
          .localCheckpoint(eager=True))
    counts = fp.groupBy("media_id").agg(F.count(F.lit(1)).alias("n"))
    fid = (F.col("media_id") * _FRAME_ID_SPAN
           + F.col("frame_idx")).alias("fid")
    fpairs = dedup.hamming_near_dup_pairs(
        fp.select(fid, hash_col), "fid", hash_col,
        max_hamming=max_hamming)
    va = F.expr(f"id_a DIV {_FRAME_ID_SPAN}")
    vb = F.expr(f"id_b DIV {_FRAME_ID_SPAN}")
    agg = (fpairs
           .select(va.alias("media_a"), vb.alias("media_b"),
                   F.col("id_a").alias("fa"), F.col("id_b").alias("fb"))
           .filter(F.col("media_a") != F.col("media_b"))
           .groupBy("media_a", "media_b")
           .agg(F.countDistinct("fa").alias("matched_a"),
                F.countDistinct("fb").alias("matched_b")))
    out = (agg
           .join(broadcast(counts.select(F.col("media_id").alias("media_a"),
                                         F.col("n").alias("n_a"))), "media_a")
           .join(broadcast(counts.select(F.col("media_id").alias("media_b"),
                                         F.col("n").alias("n_b"))), "media_b"))
    overlap = F.round(F.greatest(F.col("matched_a") / F.col("n_a"),
                                 F.col("matched_b") / F.col("n_b")), 6)
    return (out.select("media_a", "media_b", "matched_a", "matched_b",
                       "n_a", "n_b", overlap.alias("overlap"))
            .filter(F.col("overlap") >= MIN_OVERLAP))


def audio_near_dup_pairs(media: DataFrame, frame_ms: int = 100,
                         max_hamming: int = 6) -> DataFrame:
    """Cross-AUDIO near-duplicate detection: the audio tier of the
    dedup ladder — same containment-overlap contract as
    ``video_near_dup_pairs`` over the Haitsma-Kalker frame hashes."""
    return sequence_near_dup_pairs(
        audio_fingerprints(media, frame_ms), "fp",
        max_hamming=max_hamming)


# ---------------------------------------------------------------------------
# Hash-attestable corpora: synthesized media whose PERCEPTUAL HASHES are
# closed-form functions of the content key, so the decoder-backed dedup
# queries get full SQL oracle twins (value-hash attestation) instead of
# rows-only checks. The decode paths stay 100% real — PPM/JPEG/WAV bytes
# go through functions/codecs.py exactly like crawl media would; what
# changes is that the CONTENT is constructed so the decode→hash chain
# has a provable result:
#
# - images: 8×9 grayscale pixels (dHash's own grid, so nearest-neighbor
#   resize is the identity) with per-pixel md5-derived bytes → dHash bit
#   (r,c) is exactly  pix(r,c) < pix(r,c+1);
# - video frames: 64×72 images built from flat 8×8 blocks of EVEN
#   values — baseline JPEG round-trips block-flat even values exactly
#   (DC-only blocks, quant 16 divides 8·(v−128) for even v), and the
#   9×8 NN-resize lands on one pixel per block → per-frame dHash is the
#   block-value comparison;
# - audio: each 100 ms window is a sum of 65 tones, one per analysis
#   band (tones at exact integer FFT bins → zero leakage), with
#   amplitudes 2+rank where rank is the md5-byte ordering of the bands
#   → band-energy order IS the rank order, so every Haitsma-Kalker sign
#   bit is  rank[b+1] > rank[b]  (ties impossible by construction, and
#   the ≥5-amplitude-unit energy gaps dwarf int16 quantization noise).
# ---------------------------------------------------------------------------


def _md5_byte(*parts) -> int:
    import hashlib

    return int(hashlib.md5(
        ":".join(str(p) for p in parts).encode()).hexdigest()[:2], 16)


def synthesize_hashable_images(ids: DataFrame, id_col: str = "media_id",
                               content_key_col: str = "content_key"
                               ) -> DataFrame:
    """8×9 grayscale PPM corpus whose 64-bit dHash is closed-form:
    pixel (r,c) = first md5 byte of ``key:r:c``, image size equals the
    dHash grid so ``resize_nn`` is the identity and grayscale luma is
    strictly monotone in the byte → hash bit (r,c) = pix(r,c) <
    pix(r,c+1), row-major from the MSB. Ids sharing a content key are
    exact duplicates (hamming 0); distinct keys give independent
    64-bit hashes. SQL twin: the same md5 bytes via
    ``('0x'||substr(md5(key||':'||r||':'||c),1,2))::INT``."""
    import pandas as pd  # noqa: F401 — engine requirement for mapInPandas

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(ids.sparkSession)

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for mid, key in zip(pdf[id_col], pdf[content_key_col]):
                key = int(key)
                content = bytearray()
                for r in range(8):
                    for c in range(9):
                        v = _md5_byte(key, r, c)
                        content += bytes([v, v, v])
                rows.append({"media_id": int(mid), "kind": "image",
                             "payload": b"P6\n9 8\n255\n" + bytes(content),
                             "mime": "image/x-ppm", "width": 9,
                             "height": 8, "duration_ms": None})
            yield pd.DataFrame(rows,
                               columns=[f.name for f in MEDIA_SCHEMA])

    return (ids.select(F.col(id_col), F.col(content_key_col))
            .mapInPandas(fn, MEDIA_SCHEMA))


def synthesize_hashable_videos(ids: DataFrame, id_col: str = "media_id",
                               content_key_col: str = "content_key"
                               ) -> DataFrame:
    """MJPEG-in-MP4 corpus whose per-frame dHashes are closed-form:
    each frame is 64×72, built from flat 8×8 blocks of even grayscale
    values ``(md5_byte(key:f:r:c) % 128) * 2``. Baseline JPEG
    round-trips block-flat even values exactly (each block is DC-only;
    the Annex-K DC quant 16 divides 8·(v−128) when v is even, and DC
    differential coding is lossless), and ``resize_nn`` from (64,72) to
    the (8,9) dHash grid samples pixel (8r, 8c) — one per block — so
    frame f's dHash bit (r,c) = block(f,r,c) < block(f,r,c+1). Videos
    have ``2 + key % 3`` frames at 2 fps; ids sharing a key are exact
    duplicate clips."""
    import pandas as pd  # noqa: F401 — engine requirement for mapInPandas

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(ids.sparkSession)

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from zacks_estimates_financial_statements_spark.functions import codecs

        def frame(key: int, f: int) -> "np.ndarray":
            img = np.zeros((64, 72, 3), np.uint8)
            for r in range(8):
                for c in range(9):
                    img[r * 8:(r + 1) * 8, c * 8:(c + 1) * 8, :] = \
                        (_md5_byte(key, f, r, c) % 128) * 2
            return img

        for pdf in batches:
            rows = []
            for mid, key in zip(pdf[id_col], pdf[content_key_col]):
                key = int(key)
                frames = [frame(key, f) for f in range(2 + key % 3)]
                rows.append({"media_id": int(mid), "kind": "video",
                             "payload": codecs.encode_mjpeg_mp4(
                                 frames, fps=2),
                             "mime": "video/mp4", "width": 72,
                             "height": 64, "duration_ms": None})
            yield pd.DataFrame(rows,
                               columns=[f.name for f in MEDIA_SCHEMA])

    return (ids.select(F.col(id_col), F.col(content_key_col))
            .mapInPandas(fn, MEDIA_SCHEMA))


#: first rfft bin of each of the 65 analysis bands for an 800-sample
#: window: np.array_split puts the 400 % 65 = 10 remainder bins in the
#: first 10 bands (size 7), the rest are size 6
def _band_start_bin(b: int) -> int:
    return (7 * b if b < 10 else 70 + 6 * (b - 10)) + 1


def synthesize_hashable_audio(ids: DataFrame, id_col: str = "media_id",
                              content_key_col: str = "content_key",
                              n_windows: int = 4) -> DataFrame:
    """PCM-WAV corpus whose Haitsma-Kalker frame hashes are closed-form:
    window t carries 65 tones — one at the FIRST rfft bin of each
    analysis band (integer cycles → zero spectral leakage) — with
    amplitude ``2 + rank`` where rank is the position of the band's
    md5 byte ``md5_byte(key:t:b)`` in the (byte, band)-ordered
    permutation of all 65 bands. Band-energy order therefore equals
    rank order with ≥5-unit energy gaps (≫ int16 quantization noise,
    measured), so sign bit b of the fingerprint is exactly
    ``rank[b+1] > rank[b]``. Ids sharing a key render at different
    volumes (``0.4 + 0.1·(id % 5)``) — the volume invariance the
    detector banks on — and are planted duplicate clips."""
    import pandas as pd  # noqa: F401 — engine requirement for mapInPandas

    from zacks_estimates_financial_statements_spark.util import ensure_package_on_executors

    ensure_package_on_executors(ids.sparkSession)
    rate, win = 8000, 800

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from zacks_estimates_financial_statements_spark.functions import codecs

        n = np.arange(win)
        basis = np.stack([np.cos(2 * np.pi * _band_start_bin(b) * n / win)
                          for b in range(65)])

        for pdf in batches:
            rows = []
            for mid, key in zip(pdf[id_col], pdf[content_key_col]):
                mid, key = int(mid), int(key)
                segs = []
                for t in range(n_windows):
                    bs = [_md5_byte(key, t, b) for b in range(65)]
                    order = sorted(range(65), key=lambda b: (bs[b], b))
                    amp = np.empty(65)
                    for i, b in enumerate(order):
                        amp[b] = 2 + i
                    segs.append(amp @ basis)
                x = np.concatenate(segs)
                x = x / np.abs(x).max() * (0.4 + 0.1 * (mid % 5))
                rows.append({"media_id": mid, "kind": "audio",
                             "payload": codecs.encode_wav(x, rate),
                             "mime": "audio/wav", "width": None,
                             "height": None,
                             "duration_ms": 1000 * n_windows // 10})
            yield pd.DataFrame(rows,
                               columns=[f.name for f in MEDIA_SCHEMA])

    return (ids.select(F.col(id_col), F.col(content_key_col))
            .mapInPandas(fn, MEDIA_SCHEMA))
