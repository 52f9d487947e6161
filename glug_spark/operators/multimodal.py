"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The engine treats image/audio/video as ``binary`` columns with typed
metadata, processed by Arrow-batched ``mapInPandas`` stages. Two
formats have REAL pure-stdlib decoders (no image/audio libs in this
container): 24-bit uncompressed BMP (``decode_bmp`` — file/info header
parse, bottom-up BGR rows, 4-byte row padding) and 16-bit PCM WAV
(``decode_wav`` — RIFF chunk walk). The synthetic corpus emits VALID
payloads of both (``encode_bmp``/``encode_wav`` over md5-derived
pixels/samples), so the decode step is exercised end-to-end and
oracle-checked: the decoded bytes' digest and channel/sample statistics
have closed forms over ``md5(page)`` that DuckDB reproduces. Formats
without a decoder here (jpeg/png/...) still raise
``NotImplementedError``; ``fake=True`` substitutes a deterministic
md5-derived feature vector for any payload.

The synthetic binary corpus derives from the documents table (the HTML
wrapper bytes), so metadata extraction is oracle-comparable.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from glug_spark import corpus

FEATURE_DIM = 16

MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("media_type", T.StringType()),
    T.StructField("n_bytes", T.LongType()),
])


def media_table(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary, media_type, n_bytes) — deterministic
    synthetic binary column (the HTML page bytes)."""
    url = F.expr(corpus.url_sql())
    page = F.encode(
        F.concat(
            F.lit("<html><head><title>"), url,
            F.lit("</title></head><body><pre>"), F.col("text"),
            F.lit("</pre></body></html>"),
        ),
        "UTF-8",
    )
    return docs.select(
        "doc_id",
        page.alias("payload"),
        F.lit("text/html").alias("media_type"),
        F.length(page).cast("long").alias("n_bytes"),
    )


MEDIA_METADATA_SQL = f"""
WITH w AS ({corpus.WEBTEXT_SQL})
SELECT doc_id,
       'text/html' AS media_type,
       CAST(strlen(page) AS BIGINT) AS n_bytes,  -- strlen = BYTE length
       CASE WHEN page LIKE '<html>%' THEN 'html' ELSE 'unknown' END AS sniffed
FROM w
"""


def media_metadata(docs: DataFrame) -> DataFrame:
    """Metadata + magic-byte sniff — pure column ops, oracle-checked."""
    m = media_table(docs)
    text = F.decode(F.col("payload"), "UTF-8")
    return m.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.when(text.startswith("<html>"), "html").otherwise("unknown").alias("sniffed"),
    )


# --- real pure-stdlib codecs: 24-bit BMP + 16-bit PCM WAV ---------------

#: synthetic image/audio geometry. Width 5 deliberately makes the BMP
#: row stride (15 bytes) NOT a multiple of 4 so the padding path is
#: exercised on every payload.
IMG_W, IMG_H = 5, 4
WAV_N, WAV_RATE = 64, 8000


def encode_bmp(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24bpp uncompressed BMP (BITMAPINFOHEADER,
    bottom-up BGR rows, rows padded to 4 bytes)."""
    import struct

    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    stride = (w * 3 + 3) & ~3
    img_size = stride * h
    header = struct.pack("<2sIHHI", b"BM", 54 + img_size, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size,
                       2835, 2835, 0, 0)
    rows = []
    pad = b"\x00" * (stride - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        rows.append(pixels[y, :, ::-1].tobytes() + pad)  # RGB → BGR
    return header + info + b"".join(rows)


def decode_bmp(payload: bytes) -> np.ndarray:
    """24bpp uncompressed BMP → (h, w, 3) uint8 RGB (top-down)."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload (missing 'BM' magic)")
    (_, _, _, _, data_off) = struct.unpack_from("<2sIHHI", payload, 0)
    (hdr_size, w, h, planes, bpp, comp) = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40 or planes != 1:
        raise ValueError(f"unsupported BMP header (size={hdr_size})")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"only 24bpp uncompressed BMP supported (bpp={bpp}, "
            f"compression={comp})"
        )
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3
    out = np.empty((h, w, 3), dtype=np.uint8)
    for i in range(h):
        off = data_off + i * stride
        row = np.frombuffer(payload, np.uint8, w * 3, off).reshape(w, 3)
        out[h - 1 - i if bottom_up else i] = row[:, ::-1]  # BGR → RGB
    return out


def encode_wav(samples: np.ndarray, sample_rate: int = WAV_RATE) -> bytes:
    """int16 mono PCM → RIFF/WAVE bytes (fmt + data chunks)."""
    import struct

    assert samples.dtype == np.int16
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE 16-bit PCM mono → (int16 samples, sample_rate). Walks
    the chunk list (tolerates extra chunks before/after fmt/data)."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos:pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", body, 0
            )
            if audio_fmt != 1 or bits != 16 or channels != 1:
                raise NotImplementedError(
                    f"only 16-bit mono PCM supported (fmt={audio_fmt}, "
                    f"bits={bits}, channels={channels})"
                )
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    return np.frombuffer(data, dtype="<i2"), rate


def doc_pixels(payload: bytes) -> np.ndarray:
    """Deterministic (IMG_H, IMG_W, 3) RGB derived from md5(payload):
    the digest hex repeated, decoded to bytes — the closed form the
    oracle reproduces as ``unhex(substr(repeat(md5(page), 4), 1, 120))``."""
    hx = hashlib.md5(payload).hexdigest()
    raw = bytes.fromhex((hx * 4)[: IMG_W * IMG_H * 3 * 2])
    return np.frombuffer(raw, np.uint8).reshape(IMG_H, IMG_W, 3).copy()


def doc_samples(payload: bytes) -> np.ndarray:
    """Deterministic int16 PCM (little-endian byte pairs of the repeated
    md5(payload) digest) — oracle closed form over repeat(md5(page), 8)."""
    hx = hashlib.md5(payload).hexdigest()
    raw = bytes.fromhex(hx * 8)[: WAV_N * 2]
    return np.frombuffer(raw, dtype="<i2").copy()


def decode_payload(
    payload: bytes, media_type: str
) -> np.ndarray | tuple[np.ndarray, int]:
    """Dispatch to the real decoder for supported formats; raise for
    the rest (jpeg/png/mp3/... have no pure-stdlib decoder here)."""
    if media_type == "image/bmp":
        return decode_bmp(bytes(payload))
    if media_type == "audio/wav":
        return decode_wav(bytes(payload))
    raise NotImplementedError(
        f"no decoder for {media_type} in this environment; "
        "use extract_features(fake=True) for deterministic stand-ins"
    )


def _fake_features(payload: bytes) -> np.ndarray:
    """Deterministic md5-derived stand-in feature vector in [0, 1)."""
    raw = hashlib.md5(payload).digest()
    ext = (raw * ((FEATURE_DIM // len(raw)) + 1))[:FEATURE_DIM]
    return np.frombuffer(bytes(ext), dtype=np.uint8).astype(np.float32) / 256.0


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """(doc_id, frame_idx, frame binary) — deterministic fixed-stride
    "frame sampling" over the opaque payload: the video-analog plumbing
    (one input row → n output rows, binary slices, stable ordering).
    A real decoder would replace the byte-slicing with keyframe
    extraction; schema, batching, and explode shape are the contract.
    """
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                stride = max(1, len(raw) // n_frames)
                for i in range(n_frames):
                    rows.append({
                        "doc_id": int(doc_id),
                        "frame_idx": i,
                        "frame": raw[i * stride : i * stride + stride],
                    })
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(batches, schema=schema)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """(doc_id, feat array<float>) via Arrow-batched mapInPandas.

    Batch shape is the real contract: each pandas batch holds many
    payloads; a real decoder would be vectorized over the batch exactly
    like the fake one.
    """
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("feat", T.ArrayType(T.FloatType())),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not fake:
                for p, mt in zip(pdf["payload"], pdf["media_type"]):
                    decode_payload(p, mt)  # raises
            feats = [
                _fake_features(bytes(p)).tolist() for p in pdf["payload"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feat": feats})

    return media.select("doc_id", "payload", "media_type").mapInPandas(
        batches, schema=schema
    )


def feature_rows(media: DataFrame) -> DataFrame:
    """(doc_id, dim, value) — :func:`extract_features` exploded to a
    hashable relational shape (one row per vector component, rounded
    doubles). This is the oracle-checked projection; the array form
    stays available for pipeline composition."""
    f = extract_features(media)
    return f.select(
        "doc_id",
        F.posexplode(F.col("feat").cast("array<double>")).alias("dim", "value"),
    ).select("doc_id", "dim", F.round("value", 6).alias("value"))


#: oracle twin of feature_rows: the fake features are the md5 digest
#: bytes of the payload / 256 — digest byte d is hex chars 2d+1..2d+2.
FEATURE_ROWS_SQL = f"""
WITH w AS ({corpus.WEBTEXT_SQL})
SELECT doc_id,
       CAST(j AS INT) AS dim,
       round((('0x' || substr(md5(page), CAST(j * 2 + 1 AS INT), 2))::INT)
             / 256.0, 6) AS value
FROM w CROSS JOIN range({FEATURE_DIM}) t(j)
"""


RESIZE_SAMPLES = 64


def resize_media(media: DataFrame, n_samples: int = RESIZE_SAMPLES) -> DataFrame:
    """(doc_id, resized binary) — the image-resize plumbing analog:
    deterministic fixed-stride downsampling of the opaque payload to at
    most ``n_samples`` bytes. A real decoder would replace the byte
    stride with pixel-space interpolation; the mapInPandas batch shape,
    1→1 row contract and binary output schema are the real contract.
    """
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("resized", T.BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = bytes(payload)
                stride = max(1, len(raw) // n_samples)
                out.append({
                    "doc_id": int(doc_id),
                    "resized": raw[::stride][:n_samples],
                })
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(batches, schema=schema)


def resize_digests_sql(n_samples: int = RESIZE_SAMPLES) -> str:
    """Oracle twin (ASCII corpus: VARCHAR char == byte)."""
    return f"""
WITH w AS ({corpus.WEBTEXT_SQL}),
s AS (SELECT doc_id, page, greatest(1, strlen(page) // {n_samples}) AS stride
      FROM w),
samp AS (
    SELECT doc_id,
           string_agg(substr(page, CAST(1 + i * stride AS BIGINT), 1),
                      '' ORDER BY i) AS r
    FROM s CROSS JOIN range({n_samples}) t(i)
    WHERE 1 + i * stride <= strlen(page)
    GROUP BY doc_id
)
SELECT doc_id, md5(r) AS resized_md5, CAST(strlen(r) AS BIGINT) AS resized_len
FROM samp
"""


def frame_digests(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """(doc_id, frame_idx, frame_md5, frame_len) — :func:`sample_frames`
    projected to a hashable shape (binary slices digested)."""
    fr = sample_frames(media, n_frames)
    return fr.select(
        "doc_id",
        "frame_idx",
        F.md5("frame").alias("frame_md5"),
        F.length("frame").cast("long").alias("frame_len"),
    )


def media_pipeline(media: DataFrame, n_frames: int = 4,
                   n_samples: int = RESIZE_SAMPLES) -> DataFrame:
    """(doc_id, stage, idx, digest, metric) — the media stages
    (feature extract / frame sample / resize / REAL BMP decode / REAL
    WAV decode) FUSED into one ``mapInPandas`` pass: each payload is
    read once and yields every stage's rows, instead of a per-stage
    union that scans the corpus once per stage (the 100 TB concern;
    the per-stage functions remain for individual use and their
    outputs are asserted identical by the oracle row).

    The ``bmp`` stage generates a VALID 24bpp BMP (md5-derived pixels,
    width 5 → padded 16-byte rows), round-trips it through
    :func:`decode_bmp`, and emits the decoded pixels' hex digest
    (idx 0, metric = n_pixels) plus per-channel means (idx 1..3) —
    closed forms the oracle reproduces from ``repeat(md5(page), 4)``.
    The ``wav`` stage does the same through :func:`encode_wav` /
    :func:`decode_wav` (idx 0: PCM hex digest, metric = sample_rate;
    idx 1: mean sample). ``digest`` is '' (not NULL) on metric-only
    rows so the cross-engine value hash never depends on NULL
    ordering."""
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("stage", T.StringType()),
        T.StructField("idx", T.IntegerType()),
        T.StructField("digest", T.StringType()),
        T.StructField("metric", T.DoubleType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                doc_id = int(doc_id)
                raw = bytes(payload)
                feats = _fake_features(raw)
                rows += [
                    # HALF_UP at 6 dp (Spark's F.round / DuckDB round);
                    # Python's round() is half-to-even and diverges on
                    # the exact .5 ties byte/256.0 produces
                    {"doc_id": doc_id, "stage": "feature", "idx": j,
                     "digest": "",
                     "metric": math.floor(float(v) * 1e6 + 0.5) / 1e6}
                    for j, v in enumerate(feats.astype(np.float64))
                ]
                stride = max(1, len(raw) // n_frames)
                for i in range(n_frames):
                    fr = raw[i * stride : i * stride + stride]
                    rows.append({
                        "doc_id": doc_id, "stage": "frame", "idx": i,
                        "digest": hashlib.md5(fr).hexdigest(),
                        "metric": float(len(fr)),
                    })
                rs = max(1, len(raw) // n_samples)
                rez = raw[::rs][:n_samples]
                rows.append({
                    "doc_id": doc_id, "stage": "resize", "idx": 0,
                    "digest": hashlib.md5(rez).hexdigest(),
                    "metric": float(len(rez)),
                })
                # REAL decode round trips (generate valid payloads,
                # parse with the real decoders, digest what came OUT)
                dec = decode_bmp(encode_bmp(doc_pixels(raw)))
                rows.append({
                    "doc_id": doc_id, "stage": "bmp", "idx": 0,
                    "digest": hashlib.md5(
                        dec.tobytes().hex().encode("ascii")
                    ).hexdigest(),
                    "metric": float(dec.shape[0] * dec.shape[1]),
                })
                rows += [
                    {"doc_id": doc_id, "stage": "bmp", "idx": c + 1,
                     "digest": "",
                     "metric": round(
                         float(int(dec[:, :, c].astype(np.int64).sum())
                               / (IMG_W * IMG_H)), 6)}
                    for c in range(3)
                ]
                smp, rate = decode_wav(encode_wav(doc_samples(raw)))
                rows.append({
                    "doc_id": doc_id, "stage": "wav", "idx": 0,
                    "digest": hashlib.md5(
                        smp.astype("<i2").tobytes().hex().encode("ascii")
                    ).hexdigest(),
                    "metric": float(rate),
                })
                rows.append({
                    "doc_id": doc_id, "stage": "wav", "idx": 1,
                    "digest": "",
                    "metric": round(
                        float(int(smp.astype(np.int64).sum()) / WAV_N), 6),
                })
            yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        batches, schema=schema
    )


def media_pipeline_sql() -> str:
    return f"""
SELECT doc_id, 'feature' AS stage, idx, digest, metric FROM (
    SELECT doc_id, dim AS idx, '' AS digest, value AS metric
    FROM ({FEATURE_ROWS_SQL}))
UNION ALL
SELECT doc_id, 'frame' AS stage, idx, digest, metric FROM (
    SELECT doc_id, frame_idx AS idx, frame_md5 AS digest,
           CAST(frame_len AS DOUBLE) AS metric
    FROM ({frame_digests_sql()}))
UNION ALL
SELECT doc_id, 'resize' AS stage, idx, digest, metric FROM (
    SELECT doc_id, CAST(0 AS INT) AS idx, resized_md5 AS digest,
           CAST(resized_len AS DOUBLE) AS metric
    FROM ({resize_digests_sql()}))
UNION ALL
SELECT doc_id, 'bmp' AS stage, CAST(0 AS INT) AS idx,
       md5(substr(repeat(md5(page), 4), 1, {IMG_W * IMG_H * 3 * 2}))
           AS digest,
       CAST({IMG_W * IMG_H} AS DOUBLE) AS metric
FROM ({corpus.WEBTEXT_SQL})
UNION ALL
SELECT doc_id, 'bmp' AS stage, CAST(j % 3 + 1 AS INT) AS idx,
       '' AS digest,
       round(avg(('0x' || substr(repeat(md5(page), 4),
                                 CAST(2 * j + 1 AS BIGINT), 2))::INT),
             6) AS metric
FROM ({corpus.WEBTEXT_SQL}) CROSS JOIN range({IMG_W * IMG_H * 3}) t(j)
GROUP BY doc_id, j % 3
UNION ALL
SELECT doc_id, 'wav' AS stage, CAST(0 AS INT) AS idx,
       md5(repeat(md5(page), 8)) AS digest,
       CAST({WAV_RATE} AS DOUBLE) AS metric
FROM ({corpus.WEBTEXT_SQL})
UNION ALL
SELECT doc_id, 'wav' AS stage, CAST(1 AS INT) AS idx, '' AS digest,
       round(avg(CASE WHEN v >= 32768 THEN v - 65536 ELSE v END), 6)
           AS metric
FROM (
    SELECT doc_id,
           ('0x' || substr(repeat(md5(page), 8),
                           CAST(4 * i + 1 AS BIGINT), 2))::INT
           + 256 * ('0x' || substr(repeat(md5(page), 8),
                                   CAST(4 * i + 3 AS BIGINT), 2))::INT AS v
    FROM ({corpus.WEBTEXT_SQL}) CROSS JOIN range({WAV_N}) t(i)
)
GROUP BY doc_id
"""


def frame_digests_sql(n_frames: int = 4) -> str:
    """Oracle twin of frame_digests. The corpus is pure ASCII (asserted
    by the extract_roundtrip invariant + strlen==length on the data), so
    VARCHAR substr slicing equals the Spark-side byte slicing."""
    return f"""
WITH w AS ({corpus.WEBTEXT_SQL}),
s AS (SELECT doc_id, page, greatest(1, strlen(page) // {n_frames}) AS stride
      FROM w)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       md5(substr(page, CAST(i * stride + 1 AS BIGINT), stride)) AS frame_md5,
       CAST(strlen(substr(page, CAST(i * stride + 1 AS BIGINT), stride))
            AS BIGINT) AS frame_len
FROM s CROSS JOIN range({n_frames}) t(i)
"""
