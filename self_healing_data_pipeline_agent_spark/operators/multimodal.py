"""Multimodal column plumbing: opaque ``binary`` payloads with typed
metadata, processed via Arrow-batched ``mapInPandas`` (SURVEY.md §2.B
extension ring).

The container has no image/audio codecs, so the *decode* step is stubbed
(``decode_image`` raises ``NotImplementedError`` unless given the
deterministic fake format) — but everything Spark-side is real and tested:
the binary column representation, the mapInPandas batch iteration, the
output schema contract, and the byte-level feature extraction (which needs
no codec).

At 100 TB: payloads stay in columnar storage next to their metadata;
mapInPandas streams Arrow batches through Python workers, so memory is
bounded by batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``),
and the extraction is embarrassingly parallel — no shuffle at all.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, DoubleType, LongType, StructField, StructType,
)

from ..functions.carving import carving_study
from ..sources.tables import load_table

if TYPE_CHECKING:
    import pandas as pd

ORACLES: dict[str, str] = {}

N_HIST_BINS = 16

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("byte_histogram", ArrayType(DoubleType())),
    ]
)


def with_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize an opaque binary payload column (utf-8 bytes of the
    text — the documents table's stand-in for image/audio bytes)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "utf-8"))


def q_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata pass: byte length + content hash, fully
    JVM-side.  The schema/partitioning pattern for any blob column."""
    df = with_payload(load_table(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.octet_length(F.col("payload")).cast("bigint").alias("n_bytes"),
        F.sha2(F.col("payload"), 256).alias("sha"),
    )


ORACLES["payload_stats"] = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha
FROM documents
"""


# --- pluggable codec registry ------------------------------------------------
#
# Real media decoding is environment-dependent (libjpeg/ffmpeg/PIL are not
# in this container), so the decode step is a REGISTRY, not a hardcoded
# function: deployments register their codecs at import time, kernels
# dispatch by name, and an unavailable codec fails with the list of what
# IS available instead of a bare stub error.

_CODECS: dict = {}


def register_codec(name: str, fn) -> None:
    """Register ``fn(payload: bytes) -> bytes`` as codec ``name``.
    Decoders must be deterministic and picklable (they ship to executors
    inside the mapInPandas closure)."""
    _CODECS[name] = fn


def decode_payload(payload: bytes, codec: str = "fakeimg") -> bytes:
    """Decode a binary payload via a registered codec."""
    try:
        fn = _CODECS[codec]
    except KeyError:
        raise NotImplementedError(
            f"codec {codec!r} not registered in this environment; "
            f"available: {sorted(_CODECS)}. Register one with "
            "register_codec(name, fn)."
        ) from None
    return fn(payload)


def _fakeimg_decode(payload: bytes) -> bytes:
    """Deterministic test codec: ``b'FAKEIMG:' + pixels`` passes through;
    real-format bytes raise NotImplementedError — this environment has no
    media libraries, and the error should say so rather than imply a
    malformed payload."""
    if payload.startswith(b"FAKEIMG:"):
        return payload[len(b"FAKEIMG:"):]
    raise NotImplementedError(
        "image codecs unavailable in this environment; payload must use "
        "the deterministic FAKEIMG test format (or register a real codec "
        "with register_codec)"
    )


register_codec("fakeimg", _fakeimg_decode)

# Real codecs register only where their libraries exist (none do in this
# container — the registry keeps the Spark-side plumbing identical either
# way, which is the part under test).
try:  # pragma: no cover - exercised only where PIL is installed
    import io

    from PIL import Image  # noqa: F401

    def _pil_decode(payload: bytes) -> bytes:
        return Image.open(io.BytesIO(payload)).convert("RGB").tobytes()

    register_codec("image", _pil_decode)
except ImportError:
    pass


def decode_image(payload: bytes) -> bytes:
    """Back-compat alias for the default test codec."""
    return decode_payload(payload, "fakeimg")


# --- real-codec path: uncompressed binary PPM (P6) ---------------------------
#
# The registry gate had only ever dispatched the FAKEIMG pass-through
# (r5-r7), so the real-codec contract — parse an actual image container,
# fail on malformed bytes — was untested plumbing (VERDICT r7 #6).  PPM
# P6 is an uncompressed, spec-published format decodable in pure Python
# (no libraries), so it can exercise the full registry path end-to-end in
# this container: header parse, dimension extraction, raster validation.

PPM_W = 16
PPM_H = 16
PPM_MAXVAL = 255
PPM_RASTER_BYTES = PPM_W * PPM_H * 3


def _ppm_header(payload: bytes) -> tuple[int, int, int, int]:
    """Parse a binary-PPM (P6) header: returns (width, height, maxval,
    raster_offset).  Spec-correct: header tokens are separated by
    whitespace, ``#`` comments run to end-of-line, and exactly ONE
    whitespace byte separates maxval from the raster."""
    if payload[:2] != b"P6":
        raise ValueError(f"not a P6 PPM (magic {payload[:2]!r})")
    # the magic is a token too: a whitespace (or comment) byte must
    # separate it from the width, else "P64 ..." would silently parse
    # the 4 as the width's first digit
    if payload[2:3] not in (b" ", b"\t", b"\r", b"\n", b"#"):
        raise ValueError("PPM magic not followed by whitespace")
    pos, tokens = 2, []
    while len(tokens) < 3:
        if pos >= len(payload):
            raise ValueError("truncated PPM header")
        c = payload[pos: pos + 1]
        if c in b" \t\r\n":
            pos += 1
        elif c == b"#":
            pos = payload.index(b"\n", pos) + 1
        elif c.isdigit():
            start = pos
            while pos < len(payload) and payload[pos: pos + 1].isdigit():
                pos += 1
            tokens.append(int(payload[start:pos]))
        else:
            raise ValueError(f"bad PPM header byte {c!r} at {pos}")
    if payload[pos: pos + 1] not in b" \t\r\n":
        raise ValueError("PPM maxval not followed by whitespace")
    w, h, maxval = tokens
    if w <= 0 or h <= 0:
        raise ValueError(f"PPM dimensions {w}x{h} out of range")
    if not (0 < maxval < 65536):
        raise ValueError(f"PPM maxval {maxval} out of range")
    return w, h, maxval, pos + 1


def _ppm_decode(payload: bytes) -> bytes:
    """Decode uncompressed binary PPM (P6) to raw RGB bytes — a real
    container parse in pure Python, registered through the same gate a
    libjpeg/ffmpeg codec would use.  Only maxval <= 255 (1 byte/sample)
    is supported, matching what the encoder side emits."""
    w, h, maxval, off = _ppm_header(payload)
    if maxval > 255:
        raise ValueError("2-byte-per-sample PPM not supported")
    raster = payload[off: off + w * h * 3]
    if len(raster) != w * h * 3:
        raise ValueError(
            f"PPM raster truncated: {len(raster)} of {w * h * 3} bytes"
        )
    return raster


register_codec("ppm", _ppm_decode)


def ppm_payload(text_col: str = "text") -> F.Column:
    """Build a deterministic, VALID 16x16 P6 payload from a document's
    text: fixed header + the first 768 text bytes as the RGB raster,
    right-padded with spaces.  Pure built-in concat/rpad — the encode
    side never leaves the JVM; only the decode kernel runs Python."""
    header = f"P6\n{PPM_W} {PPM_H}\n{PPM_MAXVAL}\n".encode()
    return F.concat(
        F.lit(header),
        F.encode(
            F.rpad(
                F.substring(F.col(text_col), 1, PPM_RASTER_BYTES),
                PPM_RASTER_BYTES, " ",
            ),
            "utf-8",
        ),
    )


PPM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("maxval", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _ppm_kernel(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas kernel: registry-dispatched PPM decode + per-channel
    exact integer pixel sums (float-free contract).  Dimensions come from
    the container header, not assumed constants — the decode is real."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, maxval, _ = _ppm_header(payload)
            arr = np.frombuffer(decode_payload(payload, "ppm"), dtype=np.uint8)
            rows.append(
                (
                    doc_id, w, h, maxval, w * h,
                    int(arr[0::3].sum()), int(arr[1::3].sum()),
                    int(arr[2::3].sum()),
                )
            )
        yield pd.DataFrame(rows, columns=[f.name for f in PPM_SCHEMA.fields])


def q_multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-codec decode ring: encode each document as a valid binary
    PPM image JVM-side, then decode it back through the codec REGISTRY in
    an Arrow-batched kernel and report container dimensions + exact
    per-channel pixel sums.  Same no-shuffle scale shape as the other
    multimodal kernels — memory bounded by the Arrow batch, decode
    embarrassingly parallel; at 100 TB the encode step is replaced by
    reading stored blobs and the registry dispatches libjpeg/ffmpeg
    instead, with this exact plumbing."""
    df = load_table(spark, sf_dir, "documents").select(
        "doc_id", ppm_payload().alias("payload")
    )
    return df.mapInPandas(_ppm_kernel, schema=PPM_SCHEMA)


# Analytic twin: the raster IS the space-padded 768-char text prefix
# (pure-ASCII corpus, tripwired, so char == byte and ascii() gives the
# pixel value); channel c holds raster positions 3i+c+1 (1-based).
ORACLES["multimodal_decode_ppm"] = f"""
WITH r AS (
  SELECT doc_id,
         rpad(substr(text, 1, {PPM_RASTER_BYTES}), {PPM_RASTER_BYTES}, ' ')
           AS raster
  FROM documents
)
SELECT doc_id,
       CAST({PPM_W} AS BIGINT) AS width,
       CAST({PPM_H} AS BIGINT) AS height,
       CAST({PPM_MAXVAL} AS BIGINT) AS maxval,
       CAST({PPM_W * PPM_H} AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(range({PPM_W * PPM_H}),
            i -> ascii(substr(raster, CAST(i * 3 + 1 AS INT), 1))))
            AS BIGINT) AS sum_r,
       CAST(list_sum(list_transform(range({PPM_W * PPM_H}),
            i -> ascii(substr(raster, CAST(i * 3 + 2 AS INT), 1))))
            AS BIGINT) AS sum_g,
       CAST(list_sum(list_transform(range({PPM_W * PPM_H}),
            i -> ascii(substr(raster, CAST(i * 3 + 3 AS INT), 1))))
            AS BIGINT) AS sum_b
FROM r
"""


def extract_features(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas kernel: per-payload byte histogram (16 bins, L1
    normalized) — a codec-free, deterministic feature extractor with the
    exact batch shape a real image featurizer would use."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        feats = []
        for payload in pdf["payload"]:
            arr = np.frombuffer(payload, dtype=np.uint8)
            hist = np.bincount(arr >> 4, minlength=N_HIST_BINS).astype("float64")
            total = hist.sum()
            feats.append((hist / total if total else hist).tolist())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(len).astype("int64"),
                "byte_histogram": feats,
            }
        )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column,
    exploded to scalar ``(doc_id, n_bytes, bin_id, weight)`` rows so the
    result is hash-checkable (list columns are not canonicalizable by the
    oracle harness — r2 ERR).  16 rows per doc, all bins emitted including
    zero-weight ones, so the schema is stable and the oracle can generate
    the same grid."""
    df = with_payload(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "payload"
    )
    feats = df.mapInPandas(extract_features, schema=FEATURE_SCHEMA)
    return feats.select(
        "doc_id",
        "n_bytes",
        F.posexplode("byte_histogram").alias("bin_id", "weight"),
    ).select(
        "doc_id",
        "n_bytes",
        F.col("bin_id").cast("bigint").alias("bin_id"),
        "weight",
    )


# The high nibble of each payload byte is exactly every odd-position char
# of hex(payload) — byte-exact histogram bins without any blob indexing.
# weight = count/n is an exact-int IEEE division in both engines, so the
# doubles are bit-identical.
ORACLES["multimodal_features"] = """
WITH h AS (
  SELECT doc_id, upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), nib AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(hx) + 1, 2),
                i -> strpos('0123456789ABCDEF', substr(hx, CAST(i AS INT), 1)) - 1)
         ) AS bin_id
  FROM h
), cnt AS (
  SELECT doc_id, bin_id, COUNT(*) AS c FROM nib GROUP BY doc_id, bin_id
)
SELECT h.doc_id,
       CAST(h.n AS BIGINT) AS n_bytes,
       CAST(b.bin_id AS BIGINT) AS bin_id,
       CASE WHEN h.n = 0 THEN 0.0
            ELSE CAST(COALESCE(cnt.c, 0) AS DOUBLE) / h.n END AS weight
FROM h
CROSS JOIN (SELECT unnest(range(16)) AS bin_id) b
LEFT JOIN cnt ON cnt.doc_id = h.doc_id AND cnt.bin_id = b.bin_id
"""


# --- resize / frame-sample plumbing -----------------------------------------

RESIZE_TARGET = 64  # output "pixels" per payload
FRAME_SIZE = 32     # bytes per fake video frame
FRAME_STRIDE = 4    # keep every 4th frame

RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("resized", BinaryType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("sampled", BinaryType()),
    ]
)


def resize_payload(pixels: bytes, target: int = RESIZE_TARGET) -> bytes:
    """Nearest-neighbor 1-D "resize" of decoded pixel bytes to ``target``
    samples — the codec-free stand-in for an image resize kernel (real
    deployments swap in PIL/cv2 here; the Spark plumbing is identical)."""
    if not pixels:
        return b""
    n = len(pixels)
    return bytes(pixels[(i * n) // target] for i in range(target))


def sample_frames(
    payload: bytes, frame_size: int = FRAME_SIZE, stride: int = FRAME_STRIDE
) -> tuple[int, int, bytes]:
    """Fixed-size frame segmentation + every-``stride``-th frame sampling —
    the codec-free stand-in for video frame extraction (ffmpeg would
    replace the segmentation; batch shape and output contract hold)."""
    frames = [
        payload[i: i + frame_size] for i in range(0, len(payload), frame_size)
    ]
    sampled = frames[::stride]
    return len(frames), len(sampled), b"".join(sampled)


def _resize_kernel(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    import pandas as pd

    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(len).astype("int64"),
                "resized": pdf["payload"].map(resize_payload),
            }
        )


def _frame_kernel(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    import pandas as pd

    for pdf in batches:
        out = pdf["payload"].map(sample_frames)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_frames": out.map(lambda t: t[0]).astype("int64"),
                "n_sampled": out.map(lambda t: t[1]).astype("int64"),
                "sampled": out.map(lambda t: t[2]),
            }
        )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched resize over the binary payload column.  Narrow map —
    no shuffle; memory bounded by the Arrow batch size.  The query surface
    hex-encodes the resized bytes so the oracle harness can hash-compare
    (binary columns canonicalize differently across engines); the kernel
    itself stays binary-in/binary-out."""
    df = with_payload(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "payload"
    )
    out = df.mapInPandas(_resize_kernel, schema=RESIZE_SCHEMA)
    return out.select(
        "doc_id", "n_bytes", F.hex(F.col("resized")).alias("resized_hex")
    )


# resize = indexed gather: output byte i is input byte (i*n)//64, i.e. the
# hex pair starting at char (i*n)//64 * 2 + 1 of hex(payload).
ORACLES["multimodal_resize"] = f"""
WITH h AS (
  SELECT doc_id, upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CASE WHEN n = 0 THEN ''
            ELSE array_to_string(
                   list_transform(range({RESIZE_TARGET}),
                     i -> substr(hx, CAST((i * n // {RESIZE_TARGET}) * 2 + 1 AS INT), 2)),
                   '')
       END AS resized_hex
FROM h
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched frame sampling over the binary payload column (video
    stand-in).  Same no-shuffle scale shape as q_multimodal_resize; hex at
    the query surface for oracle hashability."""
    df = with_payload(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "payload"
    )
    out = df.mapInPandas(_frame_kernel, schema=FRAME_SCHEMA)
    return out.select(
        "doc_id",
        "n_frames",
        "n_sampled",
        F.hex(F.col("sampled")).alias("sampled_hex"),
    )


# frames = fixed-width substrings of hex(payload): frame j is the 64-char
# slice at j*64+1; sampling keeps every FRAME_STRIDE-th frame.
ORACLES["multimodal_frame_sample"] = f"""
WITH h AS (
  SELECT doc_id, upper(hex(encode(text))) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), f AS (
  SELECT doc_id, hx, n,
         CAST((n + {FRAME_SIZE - 1}) // {FRAME_SIZE} AS BIGINT) AS n_frames
  FROM h
)
SELECT doc_id,
       n_frames,
       CAST((n_frames + {FRAME_STRIDE - 1}) // {FRAME_STRIDE} AS BIGINT) AS n_sampled,
       CASE WHEN n = 0 THEN ''
            ELSE array_to_string(
                   list_transform(range(0, n_frames, {FRAME_STRIDE}),
                     j -> substr(hx, CAST(j * {FRAME_SIZE * 2} + 1 AS INT), {FRAME_SIZE * 2})),
                   '')
       END AS sampled_hex
FROM f
"""


# --- content-hash payload dedup ----------------------------------------------

# Fixed-size dedup block in bytes.  The r7 whole-payload variant found
# zero duplicate payloads below sf0.1, so its driver green was a vacuous
# empty-set hash (VERDICT r7 #2); block-level dedup — what storage
# systems actually run — finds 15/12/191 duplicated blocks at
# sf0.001/0.01/0.1.  The corpus is pure printable ASCII (tripwired in
# tests), so char offsets ARE byte offsets and the oracle can slice with
# substr on the text.
PAYLOAD_BLOCK_BYTES = 256


def q_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level binary dedup summary: split every payload into fixed
    256-byte blocks, hash each block, report blocks stored more than
    once (with how many copies and how many distinct payloads carry
    them) — how a blob store dedups image/audio bytes at any scale.
    The shuffle carries 32-byte digests, never payloads; block explode
    is a map-side ``posexplode`` over in-row slices, so the operator is
    partitionable regardless of blob size and the dedup ratio is exact."""
    df = with_payload(load_table(spark, sf_dir, "documents"))
    bs = PAYLOAD_BLOCK_BYTES
    # explode block INDEXES, then slice in the projection — substring
    # stays in whole-stage codegen (a transform() lambda building the
    # slices would be interpreted per row).  The >0 guard matters:
    # Spark's sequence(0, -1) DESCENDS ([0, -1]), it is not empty.
    blocks = (
        df.filter(F.octet_length("payload") > 0)
        .select(
            "doc_id", "payload",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.ceil(F.octet_length("payload") / F.lit(float(bs)))
                    .cast("int") - 1,
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.sha2(
                F.expr(f"substring(payload, i * {bs} + 1, {bs})"), 256
            ).alias("sha"),
        )
    )
    return (
        blocks.groupBy("sha")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy(F.desc("n_copies"), F.asc("sha"))
    )


ORACLES["payload_dedup"] = f"""
WITH blocks AS (
  SELECT doc_id,
         sha256(substr(text, (i - 1) * {PAYLOAD_BLOCK_BYTES} + 1,
                       {PAYLOAD_BLOCK_BYTES})) AS sha
  FROM documents,
       UNNEST(range(1, CAST(ceil(length(text) / {PAYLOAD_BLOCK_BYTES}.0)
                            AS BIGINT) + 1)) AS t(i)
  WHERE length(text) > 0
)
SELECT sha, COUNT(*) AS n_copies, COUNT(DISTINCT doc_id) AS n_docs
FROM blocks
GROUP BY sha
HAVING COUNT(*) > 1
ORDER BY n_copies DESC, sha ASC
"""


# --- real-codec path #2: RIFF/WAVE 16-bit PCM audio --------------------------
#
# The PPM ring (above) proves the registry's real-container path for
# IMAGES; this is the audio twin, using the standard library's `wave`
# parser — an actual RIFF chunk walker, not hand-rolled — behind the
# same gate an ffmpeg codec would use.  Each document is encoded
# JVM-side as a valid 44-byte-header mono 16-bit PCM file whose samples
# are the document's text bytes (printable-ASCII corpus -> every sample
# positive and < 32768), and the kernel decodes it back and reports
# exact integer amplitude stats.

WAV_SR = 8000
WAV_N_SAMPLES = 256
WAV_DATA_BYTES = WAV_N_SAMPLES * 2  # 16-bit mono


def _wav_header() -> bytes:
    """Canonical 44-byte RIFF/WAVE header for the fixed encode params
    (PCM fmt 1, mono, 16-bit, WAV_SR Hz, WAV_N_SAMPLES frames)."""
    import struct

    return (
        b"RIFF" + struct.pack("<I", 36 + WAV_DATA_BYTES) + b"WAVE"
        + b"fmt " + struct.pack(
            "<IHHIIHH", 16, 1, 1, WAV_SR, WAV_SR * 2, 2, 16
        )
        + b"data" + struct.pack("<I", WAV_DATA_BYTES)
    )


def _wav_decode(payload: bytes) -> bytes:
    """Decode RIFF/WAVE to raw PCM bytes via the stdlib ``wave`` chunk
    parser.  Only mono 16-bit PCM is supported (what the encoder side
    emits); malformed containers and other layouts raise ValueError —
    the same fail-on-bad-bytes contract as the PPM codec."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            if w.getnchannels() != 1 or w.getsampwidth() != 2:
                raise ValueError(
                    f"unsupported WAV layout: {w.getnchannels()} ch x "
                    f"{w.getsampwidth() * 8}-bit (need mono 16-bit)"
                )
            n = w.getnframes()
            pcm = w.readframes(n)
    except wave.Error as e:
        raise ValueError(f"malformed WAV container: {e}") from None
    if len(pcm) != n * 2:
        raise ValueError(f"WAV data truncated: {len(pcm)} of {n * 2} bytes")
    return pcm


register_codec("wav", _wav_decode)


def wav_payload(text_col: str = "text") -> F.Column:
    """Valid mono 16-bit PCM WAV from a document's text: fixed header +
    the first 512 text bytes (space-padded) as little-endian samples.
    JVM-side concat/rpad, like ``ppm_payload``."""
    return F.concat(
        F.lit(_wav_header()),
        F.encode(
            F.rpad(
                F.substring(F.col(text_col), 1, WAV_DATA_BYTES),
                WAV_DATA_BYTES, " ",
            ),
            "utf-8",
        ),
    )


WAV_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_amp", LongType()),
        StructField("min_amp", LongType()),
        StructField("max_amp", LongType()),
    ]
)


def _wav_kernel(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas kernel: registry-dispatched WAV decode + exact
    integer amplitude stats.  Rate and frame count come from the parsed
    container, not assumed constants."""
    import io
    import wave

    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            with wave.open(io.BytesIO(payload)) as w:
                rate, n = w.getframerate(), w.getnframes()
            samples = np.frombuffer(
                decode_payload(payload, "wav"), dtype="<i2"
            ).astype(np.int64)
            rows.append(
                (doc_id, rate, n, int(samples.sum()),
                 int(samples.min()), int(samples.max()))
            )
        yield pd.DataFrame(rows, columns=[f.name for f in WAV_SCHEMA.fields])


def q_multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of ``q_multimodal_decode_ppm``: encode JVM-side as a
    valid RIFF/WAVE PCM file, decode through the codec registry (stdlib
    ``wave`` chunk parser) in an Arrow-batched kernel, report exact
    amplitude stats.  No shuffle; batch-bounded memory; at 100 TB the
    encode is replaced by stored blobs and the registry dispatches a
    real audio codec with this exact plumbing."""
    df = load_table(spark, sf_dir, "documents").select(
        "doc_id", wav_payload().alias("payload")
    )
    return df.mapInPandas(_wav_kernel, schema=WAV_SCHEMA)


# Analytic twin: sample i is text byte 2i (lo) + 256 * text byte 2i+1
# (hi) of the space-padded 512-char prefix; the pure-printable-ASCII
# corpus (tripwired) keeps every sample in [0x2020, 0x7e7e] — positive,
# so the signed-int16 reinterpretation is the identity.
ORACLES["multimodal_decode_wav"] = f"""
WITH r AS (
  SELECT doc_id,
         list_transform(range({WAV_N_SAMPLES}), i ->
           ascii(substr(rpad(substr(text, 1, {WAV_DATA_BYTES}),
                             {WAV_DATA_BYTES}, ' '),
                        CAST(i * 2 + 1 AS INT), 1))
           + 256 * ascii(substr(rpad(substr(text, 1, {WAV_DATA_BYTES}),
                                     {WAV_DATA_BYTES}, ' '),
                                CAST(i * 2 + 2 AS INT), 1))) AS samples
  FROM documents
)
SELECT doc_id,
       CAST({WAV_SR} AS BIGINT) AS sample_rate,
       CAST({WAV_N_SAMPLES} AS BIGINT) AS n_samples,
       CAST(list_sum(samples) AS BIGINT) AS sum_amp,
       CAST(list_min(samples) AS BIGINT) AS min_amp,
       CAST(list_max(samples) AS BIGINT) AS max_amp
FROM r
"""


# --- real-codec path #3: multi-image PNM stream (the video twin) -------------
#
# Netpbm defines that a PNM file may contain MULTIPLE images back to
# back — the classic uncompressed frame-stream format (what
# ppmtoy4m-style tooling consumes).  That makes it the one VIDEO-shaped
# container this environment can parse for real: the kernel walks the
# stream with the same header parser the still-image codec uses,
# extracts every frame's raster, and keeps every FRAME_STEP-th frame —
# frame subsampling (multimodal_frame_sample's semantics) against a real
# container instead of a fake payload.

STREAM_FRAMES = 4
STREAM_W = 8
STREAM_H = 8
STREAM_FRAME_BYTES = STREAM_W * STREAM_H * 3  # 192
FRAME_STEP = 2  # keep frames 0, 2, ...


def _ppm_stream_decode(payload: bytes) -> list[bytes]:
    """Split a concatenated-P6 stream into per-frame rasters, validating
    every header and raster length; trailing bytes that are not a valid
    frame raise (a real stream parser must not silently drop them)."""
    frames, pos = [], 0
    while pos < len(payload):
        w, h, maxval, off = _ppm_header(payload[pos:])
        if maxval > 255:
            raise ValueError("2-byte-per-sample PPM stream not supported")
        raster = payload[pos + off: pos + off + w * h * 3]
        if len(raster) != w * h * 3:
            raise ValueError(
                f"PPM stream frame {len(frames)} truncated: "
                f"{len(raster)} of {w * h * 3} bytes"
            )
        frames.append(raster)
        pos += off + w * h * 3
    return frames


def ppm_stream_payload(text_col: str = "text") -> F.Column:
    """STREAM_FRAMES concatenated 8x8 P6 frames from consecutive slices
    of the document's text (space-padded) — JVM-side concat/rpad."""
    header = F.lit(f"P6\n{STREAM_W} {STREAM_H}\n{PPM_MAXVAL}\n".encode())
    padded = F.rpad(
        F.substring(F.col(text_col), 1, STREAM_FRAMES * STREAM_FRAME_BYTES),
        STREAM_FRAMES * STREAM_FRAME_BYTES, " ",
    )
    parts = []
    for f in range(STREAM_FRAMES):
        parts.append(header)
        parts.append(
            F.encode(
                F.substring(padded, f * STREAM_FRAME_BYTES + 1,
                            STREAM_FRAME_BYTES),
                "utf-8",
            )
        )
    return F.concat(*parts)


STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _ppm_stream_kernel(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas kernel: parse the frame stream, subsample every
    FRAME_STEP-th frame, report exact per-channel sums over the KEPT
    frames only (the decode-then-subsample dataflow of a video
    ingestion job)."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            frames = _ppm_stream_decode(payload)
            kept = frames[::FRAME_STEP]
            arr = np.frombuffer(b"".join(kept), dtype=np.uint8)
            rows.append(
                (
                    doc_id, len(frames), len(kept),
                    int(arr[0::3].sum()), int(arr[1::3].sum()),
                    int(arr[2::3].sum()),
                )
            )
        yield pd.DataFrame(rows, columns=[f.name for f in STREAM_SCHEMA.fields])


def q_multimodal_decode_ppm_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video twin of the PPM/WAV decode rings: a concatenated-P6 frame
    stream parsed frame-by-frame in the kernel, every FRAME_STEP-th
    frame kept, exact channel sums over the kept frames.  No shuffle;
    at 100 TB the stream bytes come from storage and the same walker
    dispatches a real demuxer."""
    df = load_table(spark, sf_dir, "documents").select(
        "doc_id", ppm_stream_payload().alias("payload")
    )
    return df.mapInPandas(_ppm_stream_kernel, schema=STREAM_SCHEMA)


# Analytic twin: kept frame f covers padded-text positions
# [f*192, (f+1)*192); channel c is every 3rd byte starting at c.
ORACLES["multimodal_decode_ppm_stream"] = f"""
WITH r AS (
  SELECT doc_id,
         rpad(substr(text, 1, {STREAM_FRAMES * STREAM_FRAME_BYTES}),
              {STREAM_FRAMES * STREAM_FRAME_BYTES}, ' ') AS padded
  FROM documents
),
kept AS (
  SELECT doc_id, padded, unnest(range(0, {STREAM_FRAMES}, {FRAME_STEP})) AS f
  FROM r
),
sums AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range({STREAM_W * STREAM_H}), i ->
              ascii(substr(padded,
                CAST(f * {STREAM_FRAME_BYTES} + i * 3 + 1 AS INT), 1))))
              AS BIGINT) AS fr,
         CAST(list_sum(list_transform(range({STREAM_W * STREAM_H}), i ->
              ascii(substr(padded,
                CAST(f * {STREAM_FRAME_BYTES} + i * 3 + 2 AS INT), 1))))
              AS BIGINT) AS fg,
         CAST(list_sum(list_transform(range({STREAM_W * STREAM_H}), i ->
              ascii(substr(padded,
                CAST(f * {STREAM_FRAME_BYTES} + i * 3 + 3 AS INT), 1))))
              AS BIGINT) AS fb
  FROM kept
)
SELECT doc_id,
       CAST({STREAM_FRAMES} AS BIGINT) AS n_frames,
       CAST({(STREAM_FRAMES + FRAME_STEP - 1) // FRAME_STEP} AS BIGINT)
         AS n_sampled,
       CAST(SUM(fr) AS BIGINT) AS sum_r,
       CAST(SUM(fg) AS BIGINT) AS sum_g,
       CAST(SUM(fb) AS BIGINT) AS sum_b
FROM sums GROUP BY doc_id
"""


# --- real-codec path #4: PNG (the first genuinely COMPRESSED container) ------
#
# PPM/WAV/PNM-stream prove the registry's real-container paths, but all
# three are uncompressed — byte-slicing formats.  PNG closes that gap
# with zero new dependencies (VERDICT r11 #6): stdlib zlib inflates the
# IDAT stream, and the decoder implements the full spec surface an
# 8-bit-RGB image needs — signature check, chunk walk with CRC32
# validation, IHDR parse, multi-IDAT concatenation, and ALL FIVE scanline
# unfilters (None/Sub/Up/Average/Paeth).  The encoder deliberately
# cycles the filter type per row (y % 5) and splits the compressed
# stream across two IDAT chunks, so every decode path is exercised by
# every payload.  No kernel compares the decoded raster with the source
# bytes: the DuckDB twin's exact channel sums over the source text check
# the round trip.  A bad CRC, inflate or filter byte raises in the decode
# kernel; an unfilter bug shows as a channel-sum mismatch with the twin.
#
# Both directions code a whole Arrow batch at once in NumPy: the
# filters and the None/Sub/Up unfilters are one array expression per
# filter type across every image, and Average/Paeth (whose prediction
# reads the pixel just decoded) step over pixel columns on (n, 3)
# slices.  Only png_parse and zlib run per payload.  Temporaries stay
# uint8/int16: every intermediate lies in -510..510.

PNG_W = 16
PNG_H = 16
PNG_RASTER_BYTES = PNG_W * PNG_H * 3
PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a, b, c):
    """The Paeth predictor (PNG spec 9.4), elementwise on int16 arrays:
    the nearest of left/up/up-left to a + b - c, ties to left, then up."""
    import numpy as np

    pa, pb, pc = np.abs(b - c), np.abs(a - c), np.abs(a + b - 2 * c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    )


def png_encode_batch(rasters) -> list[bytes]:
    """Encode an ``(n, h, w, 3)`` uint8 array of RGB rasters as REAL
    8-bit-RGB PNGs: per-row filters cycling through all five spec types
    (row y uses type y % 5), zlib-compressed, CRC'd, and the IDAT stream
    split across two chunks (multi-IDAT is spec-legal and a classic
    decoder trap)."""
    import struct
    import zlib

    import numpy as np

    n, h, w, _ = rasters.shape
    # one zero-padded copy: a zero row above, a zero pixel to the left
    pad = np.zeros((n, h + 1, w * 3 + 3), np.uint8)
    pad[:, 1:, 3:] = rasters.reshape(n, h, w * 3)
    x, up = pad[:, 1:, 3:], pad[:, :-1, 3:]
    left, upleft = pad[:, 1:, :-3], pad[:, :-1, :-3]
    filtered = np.empty((n, h, w * 3 + 1), np.uint8)
    filtered[..., 0] = np.arange(h) % 5
    body = filtered[..., 1:]
    # uint8 subtraction wraps mod 256, which is the spec's & 0xFF
    body[:, 0::5] = x[:, 0::5]
    body[:, 1::5] = x[:, 1::5] - left[:, 1::5]
    body[:, 2::5] = x[:, 2::5] - up[:, 2::5]
    a, b = (v[:, 3::5].astype(np.int16) for v in (left, up))
    body[:, 3::5] = x[:, 3::5] - ((a + b) >> 1).astype(np.uint8)
    a, b, c = (v[:, 4::5].astype(np.int16) for v in (left, up, upleft))
    body[:, 4::5] = x[:, 4::5] - _paeth(a, b, c).astype(np.uint8)
    head = PNG_SIG + _png_chunk(
        b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    )
    tail = _png_chunk(b"IEND", b"")
    payloads = []
    for scanlines in filtered:
        z = zlib.compress(scanlines.tobytes())
        half = len(z) // 2
        payloads.append(
            head + _png_chunk(b"IDAT", z[:half])
            + _png_chunk(b"IDAT", z[half:]) + tail
        )
    return payloads


def png_encode(raster: bytes, w: int = PNG_W, h: int = PNG_H) -> bytes:
    """Encode raw RGB bytes as one PNG: the one-payload case of
    ``png_encode_batch``."""
    import numpy as np

    if len(raster) != w * h * 3:
        raise ValueError(
            f"raster {len(raster)} bytes, want {w * h * 3}. The synthetic "
            "raster is built from a space-padded text prefix, so this "
            "usually means the corpus broke the single-byte-per-char "
            "(ASCII) invariant the raster twin depends on — a multi-byte "
            "character inflates the encoded prefix past the pixel count "
            "(tripwired at test_llm_data_ops.py: corpus must stay ASCII)."
        )
    return png_encode_batch(
        np.frombuffer(raster, np.uint8).reshape(1, h, w, 3)
    )[0]


def png_parse(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """Parse a PNG container: validate the signature and every chunk
    CRC, walk to IEND, concatenate IDAT data.  Returns (width, height,
    bit_depth, color_type, idat_bytes).  Only what the decoder below
    supports is accepted (8-bit RGB, no interlace) — anything else
    raises, the registry's fail-on-bad-bytes contract."""
    import struct
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError(f"not a PNG (signature {payload[:8]!r})")
    pos, idat, ihdr = 8, b"", None
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated PNG chunk header")
        (length,) = struct.unpack(">I", payload[pos: pos + 4])
        typ = payload[pos + 4: pos + 8]
        data = payload[pos + 8: pos + 8 + length]
        if len(data) != length:
            raise ValueError(f"truncated {typ!r} chunk")
        if pos + 12 + length > len(payload):
            # data complete but the 4-byte CRC field cut off — same
            # ValueError contract as every other truncation branch
            raise ValueError(f"truncated {typ!r} chunk CRC")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length: pos + 12 + length]
        )
        if zlib.crc32(typ + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise ValueError(
            f"unsupported PNG layout: depth={depth} color={ctype} "
            f"interlace={interlace} (need 8-bit RGB, no interlace)"
        )
    return w, h, depth, ctype, idat


def _png_unfilter(raw):
    """``(n, h, 3w + 1)`` scanlines (filter byte first) -> ``(n, h, 3w)``
    raw bytes.  Rows decode in order, since Up/Average/Paeth read the row
    above; within a row each filter type present runs once over the
    images that use it."""
    import numpy as np

    n, h, width = raw.shape
    stride, w = width - 1, (width - 1) // 3
    ftypes = raw[..., 0]
    bad = np.argwhere(ftypes > 4)
    if len(bad):
        i, y = bad[0]
        raise ValueError(f"bad PNG filter type {ftypes[i, y]} on row {y}")
    out = np.empty((n, h, stride), np.uint8)
    prev = np.zeros((n, stride), np.uint8)
    for y in range(h):
        kinds = np.unique(ftypes[:, y])
        for ft in kinds:
            sel = slice(None) if len(kinds) == 1 else ftypes[:, y] == ft
            line, up = raw[sel, y, 1:], prev[sel]
            m = len(line)
            if ft == 0:
                row = line
            elif ft == 1:  # Sub: a running sum per channel, mod 256
                row = np.cumsum(
                    line.reshape(m, w, 3), axis=1, dtype=np.uint8
                ).reshape(m, stride)
            elif ft == 2:  # Up
                row = line + up
            else:  # Average / Paeth read the pixel just decoded
                x = line.reshape(m, w, 3).astype(np.int16)
                b = up.reshape(m, w, 3).astype(np.int16)
                px = np.empty(x.shape, np.uint8)
                a = c = np.zeros_like(x[:, 0])
                for col in range(w):
                    if ft == 3:
                        pred = (a + b[:, col]) >> 1
                    else:
                        pred = _paeth(a, b[:, col], c)
                    a = px[:, col] = (x[:, col] + pred) & 0xFF
                    c = b[:, col]
                row = px.reshape(m, stride)
            out[sel, y] = row
        prev = out[:, y]
    return out


def png_decode_batch(payloads) -> list:
    """Decode 8-bit RGB PNGs: per payload the chunk walk + CRC checks
    (png_parse) and the stdlib-zlib inflate, then the five spec
    unfilters over the whole batch.  Returns one ``(rows, rasters)``
    pair per distinct ``(w, h)``: ``rows`` indexes ``payloads`` and
    ``rasters`` is the ``(len(rows), h, w, 3)`` uint8 array of theirs.
    An empty batch returns ``[]``."""
    import zlib

    import numpy as np

    groups: dict = {}
    for i, payload in enumerate(payloads):
        w, h, _depth, _ctype, idat = png_parse(payload)
        try:
            raw = zlib.decompress(idat)
        except zlib.error as e:
            raise ValueError(f"PNG IDAT inflate failed: {e}") from None
        if len(raw) != h * (w * 3 + 1):
            raise ValueError(
                f"PNG scanline data {len(raw)} bytes, want {h * (w * 3 + 1)}"
            )
        rows, raws = groups.setdefault((w, h), ([], []))
        rows.append(i)
        raws.append(raw)
    out = []
    for (w, h), (rows, raws) in groups.items():
        scanlines = np.frombuffer(b"".join(raws), np.uint8).reshape(
            len(rows), h, w * 3 + 1
        )
        rasters = _png_unfilter(scanlines).reshape(len(rows), h, w, 3)
        out.append((np.array(rows), rasters))
    return out


def _png_decode(payload: bytes) -> bytes:
    """Decode one PNG to raw raster bytes: the one-payload case of
    ``png_decode_batch``."""
    ((_rows, rasters),) = png_decode_batch([payload])
    return rasters.tobytes()


register_codec("png", _png_decode)


PNG_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bit_depth", LongType()),
        StructField("color_type", LongType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def _png_encode_kernel(
    batches: "Iterator[pd.DataFrame]",
) -> "Iterator[pd.DataFrame]":
    """mapInPandas kernel: text -> real PNG bytes (the blob-ingest side;
    at 100 TB this stage is replaced by reading stored blobs).

    ASCII invariant (r14 ADVICE): the whole image ring's Spark/DuckDB
    equivalence rests on the raster prefix being SINGLE-BYTE text — the
    DuckDB twins slice by CHARACTER (substr/rpad/ascii) while this
    kernel slices by character then encodes to BYTES, so one non-ASCII
    char in the first PNG_RASTER_BYTES chars would make the two rasters
    diverge (and the byte length overflow).  The corpus is verified
    all-ASCII at every SF (test_char_lm_corpus_is_pure_ascii), and the
    check below turns a future corpus change into a named failure here
    instead of a bare raster-length ValueError downstream."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        raws = []
        for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
            prefix = t[:PNG_RASTER_BYTES].ljust(PNG_RASTER_BYTES)
            raw = prefix.encode("utf-8")
            if len(raw) != PNG_RASTER_BYTES:
                raise ValueError(
                    f"doc {doc_id}: non-ASCII text in the first "
                    f"{PNG_RASTER_BYTES} chars ({len(raw)} utf-8 bytes) — "
                    "the image ring's character/byte equivalence with its "
                    "DuckDB twin no longer holds for this corpus"
                )
            raws.append(raw)
        rasters = np.frombuffer(b"".join(raws), np.uint8).reshape(
            len(raws), PNG_H, PNG_W, 3
        )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": png_encode_batch(rasters)}
        )


def _png_decode_kernel(
    batches: "Iterator[pd.DataFrame]",
) -> "Iterator[pd.DataFrame]":
    """mapInPandas kernel: batch PNG decode + exact integer channel
    sums.  Dimensions come from the parsed IHDR (png_parse admits only
    8-bit RGB); every raster passes CRC + inflate + unfilter before any
    stat is read."""
    import numpy as np
    import pandas as pd

    for pdf in batches:
        n = len(pdf)
        dims = np.zeros((n, 2), np.int64)
        sums = np.zeros((n, 3), np.int64)
        for rows, rasters in png_decode_batch(pdf["payload"]):
            m, h, w, _ = rasters.shape
            dims[rows] = (w, h)
            sums[rows] = rasters.reshape(m, h * w, 3).sum(
                axis=1, dtype=np.int64
            )
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": dims[:, 0],
                "height": dims[:, 1],
                "bit_depth": np.full(n, 8, np.int64),
                "color_type": np.full(n, 2, np.int64),
                "n_pixels": dims[:, 0] * dims[:, 1],
                "sum_r": sums[:, 0],
                "sum_g": sums[:, 1],
                "sum_b": sums[:, 2],
            }
        )


def q_multimodal_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-codec decode ring: each document encodes to a REAL
    8-bit-RGB PNG (zlib-compressed, CRC'd, mixed per-row filters, two
    IDAT chunks) in one Arrow-batched kernel, then decodes the batch
    back in a second — signature/CRC validation, IDAT inflate, and all
    five unfilters on every payload — reporting IHDR dimensions + exact
    channel sums.  Two chained map-only kernels, no shuffle,
    batch-bounded memory; at 100 TB the encode stage is replaced by
    stored blobs and the same batch decode reads them."""
    df = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = df.mapInPandas(
        _png_encode_kernel,
        schema=StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )
    return payloads.mapInPandas(_png_decode_kernel, schema=PNG_SCHEMA)


# Analytic twin: compression is lossless, so the decoded raster IS the
# space-padded 768-char text prefix (pure-ASCII corpus, tripwired) —
# identical sums to the PPM ring's, plus the IHDR constants.
ORACLES["multimodal_decode_png"] = f"""
WITH r AS (
  SELECT doc_id,
         rpad(substr(text, 1, {PNG_RASTER_BYTES}), {PNG_RASTER_BYTES}, ' ')
           AS raster
  FROM documents
)
SELECT doc_id,
       CAST({PNG_W} AS BIGINT) AS width,
       CAST({PNG_H} AS BIGINT) AS height,
       CAST(8 AS BIGINT) AS bit_depth,
       CAST(2 AS BIGINT) AS color_type,
       CAST({PNG_W * PNG_H} AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(range({PNG_W * PNG_H}),
            i -> ascii(substr(raster, CAST(i * 3 + 1 AS INT), 1))))
            AS BIGINT) AS sum_r,
       CAST(list_sum(list_transform(range({PNG_W * PNG_H}),
            i -> ascii(substr(raster, CAST(i * 3 + 2 AS INT), 1))))
            AS BIGINT) AS sum_g,
       CAST(list_sum(list_transform(range({PNG_W * PNG_H}),
            i -> ascii(substr(raster, CAST(i * 3 + 3 AS INT), 1))))
            AS BIGINT) AS sum_b
FROM r
"""


# --- X43: image near-dup — perceptual dHash over decoded rasters -------------

# Hamming threshold for the verify stage.  3 is EXACTLY the 4-band
# pigeonhole bound: a pair differing in all four 16-bit bands has
# Hamming >= 4, so every pair at <= 3 agrees bit-exactly on at least one
# band and banded blocking loses nothing — recall is exact among pairs
# whose agreeing band is informative (nonzero; see IMG_BANDS note).
# Corpus-calibrated so the verify provably bites (candidates -> kept:
# 354->45 / 400->37 / 41712->2102 at sf0.001/0.01/0.1).
IMG_HAM_MAX = 3
IMG_BANDS = 4
IMG_BLOCK_GRID = 8  # 8x8 gradient grid -> 64-bit hash

IMG_HASH_SCHEMA = StructType(
    [StructField("doc_id", LongType())]
    + [StructField(f"b{k}", LongType()) for k in range(IMG_BANDS)]
)


def _img_hash_kernel(
    batches: "Iterator[pd.DataFrame]",
) -> "Iterator[pd.DataFrame]":
    """mapInPandas kernel: PNG payload -> batch decode -> 8x8 block
    dHash, emitted as four 16-bit band values (BIGINT-safe, no sign
    games).  All integer: gray = r+g+b per pixel (no division), block =
    sum of its 2x2 pixel grays, bit(y,x) = block[y][(x+1)%8] >
    block[y][x] (horizontal gradient, wraparound).  A mean-threshold
    aHash collapses on this corpus (blank/padded regions pin most bits);
    the gradient form keeps per-band entropy, which is what banded
    blocking needs."""
    import numpy as np
    import pandas as pd

    g = IMG_BLOCK_GRID
    powers = 1 << np.arange(g * g // IMG_BANDS, dtype=np.int64)
    for pdf in batches:
        bands = np.zeros((len(pdf), IMG_BANDS), np.int64)
        for rows, rasters in png_decode_batch(pdf["payload"]):
            m, h, w, _ = rasters.shape
            gray = rasters.sum(axis=3, dtype=np.int16)
            blocks = gray.reshape(m, g, h // g, g, w // g).sum(
                axis=(2, 4), dtype=np.int32
            )
            bits = np.roll(blocks, -1, axis=2) > blocks
            bands[rows] = bits.reshape(m, IMG_BANDS, -1) @ powers
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"]}
            | {f"b{k}": bands[:, k] for k in range(IMG_BANDS)}
        )


def _img_hash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, b0..b3) perceptual-hash table — the image
    ring's index artifact.  The encode/decode/hash kernels are the BUILD
    pass and run exactly once per corpus snapshot: the near-dup query
    consumes this table three times (band explode + both verify sides),
    and without the store the Python decode would re-run per consumer —
    at 100 TB that is re-decoding the image corpus three times per
    query.  Stored rows are 40-byte codes; the rasters never persist."""
    from ..sources.index_store import ensure_index
    from ..sources.tables import spread

    return ensure_index(
        spark, sf_dir, "img_dhash",
        f"dhash|{IMG_BLOCK_GRID}|{IMG_BANDS}",
        lambda: _img_hashed(
            spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
        ),
        source_table="documents",
    )


def _img_hashed(docs: DataFrame) -> DataFrame:
    """text -> PNG -> batch decode -> dHash bands: the two chained
    map-only Arrow kernels, shared by the full-corpus artifact build and
    the refresh operator's batch side (ONE code path, so the incremental
    table is hash-identical to a full rebuild by construction)."""
    payloads = docs.mapInPandas(
        _png_encode_kernel,
        schema=StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )
    return payloads.mapInPandas(_img_hash_kernel, schema=IMG_HASH_SCHEMA)


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs over the IMAGE modality — the dedup
    ring's missing member (X8 covers text shingles, X9 embeddings; the
    X35 codec ring decodes rasters but nothing dedups them): every
    document encodes to a real PNG, decodes back through the PNG codec
    (CRC + inflate + unfilter — the hash is computed from
    DECODED bytes, so the round-trip is on the verified path), and hashes
    to a 64-bit block-gradient dHash carried as four 16-bit bands.

    Blocking is the simhash_near_dup_blocked posture: band-value
    equi-join, verify = exact Hamming over the four band XORs,
    <= IMG_HAM_MAX.  A band participates in blocking only if it is
    INFORMATIVE (nonzero): an all-zero band is a zero-gradient blank
    region — padding, margins — shared by most of any real corpus, i.e.
    the classic LSH hot bucket that turns banded blocking back into the
    quadratic all-pairs join (measured here: with zero bands kept, EVERY
    pair collides at every SF).  The documented recall trade: a pair
    whose ONLY agreeing band is blank (two near-empty images) is not
    surfaced — blank regions carry no identity.

    Scale shape: the hash table is a STORED index artifact (build = two
    chained map-only Arrow kernels, once per corpus snapshot; see
    ``_img_hash_index``), so the query moves only 40-byte hash rows —
    band explode, equi-join on (band, value), pair distinct, two keyed
    joins back to the hash table for the verify.  The raster bytes never
    shuffle and never decode twice."""
    hashes = _img_hash_index(spark, sf_dir)
    keys = hashes.select(
        "doc_id",
        F.posexplode(F.array(*[F.col(f"b{k}") for k in range(IMG_BANDS)])).alias(
            "k", "v"
        ),
    ).filter(F.col("v") != 0)
    a, b = keys.alias("a"), keys.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{k}").alias(f"xa{k}") for k in range(IMG_BANDS)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{k}").alias(f"xb{k}") for k in range(IMG_BANDS)],
    )
    ham = sum(
        F.expr(f"bit_count(xa{k} ^ xb{k})") for k in range(IMG_BANDS)
    ).cast("bigint")
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= IMG_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


# Analytic twin: the codec is lossless (tripwired by multimodal_decode_png),
# so the decoded raster IS the space-padded 768-char text prefix and the
# whole hash is exact integer arithmetic on character codes.  j in 0..11
# encodes (dy = j//6, dx = (j%6)//3, c = j%3) of a block's 2x2x3 bytes.
# Shared band CTE chain (text -> raster -> blocks -> dHash bits -> four
# 16-bit band values), used by both image-ring oracles so the near-dup
# check and the refresh check can never disagree on the hash.
_DUCK_IMG_BANDS_CTES = f"""r AS (
  SELECT doc_id,
         rpad(substr(text, 1, {PNG_RASTER_BYTES}), {PNG_RASTER_BYTES}, ' ')
           AS raster
  FROM documents
),
blk AS (
  SELECT doc_id,
         list_transform(range(64), b ->
           list_sum(list_transform(range(12), j ->
             ascii(substr(raster,
               CAST(((2 * (b // 8) + j // 6) * {PNG_W}
                     + 2 * (b % 8) + (j % 6) // 3) * 3 + j % 3 + 1 AS INT),
               1))))) AS blocks
  FROM r
),
bits AS (
  SELECT doc_id,
         list_transform(range(64), b ->
           CASE WHEN blocks[CAST((b // 8) * 8 + ((b % 8) + 1) % 8 AS INT) + 1]
                     > blocks[CAST(b AS INT) + 1]
                THEN 1 ELSE 0 END) AS bits
  FROM blk
),
bands AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(16),
           j -> bits[CAST(j AS INT) + 1] * (1 << CAST(j AS INT))))
           AS BIGINT) AS b0,
         CAST(list_sum(list_transform(range(16),
           j -> bits[CAST(j AS INT) + 17] * (1 << CAST(j AS INT))))
           AS BIGINT) AS b1,
         CAST(list_sum(list_transform(range(16),
           j -> bits[CAST(j AS INT) + 33] * (1 << CAST(j AS INT))))
           AS BIGINT) AS b2,
         CAST(list_sum(list_transform(range(16),
           j -> bits[CAST(j AS INT) + 49] * (1 << CAST(j AS INT))))
           AS BIGINT) AS b3
  FROM bits
)"""

# bands -> informative-band blocking -> Hamming verify, shared by the
# near-dup oracle and the cluster oracle (one chain, they cannot drift).
_DUCK_IMG_PAIRS_CTES = f"""{_DUCK_IMG_BANDS_CTES},
keys AS (
  SELECT * FROM (
    SELECT doc_id, k,
           CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2 ELSE b3 END AS v
    FROM bands, range(4) t(k)
  ) WHERE v <> 0
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys a JOIN keys b ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id
),
verified AS (
  SELECT doc_a, doc_b,
         CAST(bit_count(xor(xa.b0, xb.b0)) + bit_count(xor(xa.b1, xb.b1))
            + bit_count(xor(xa.b2, xb.b2)) + bit_count(xor(xa.b3, xb.b3))
            AS BIGINT) AS hamming
  FROM cand
  JOIN bands xa ON cand.doc_a = xa.doc_id
  JOIN bands xb ON cand.doc_b = xb.doc_id
)"""

ORACLES["image_near_dup"] = f"""
WITH {_DUCK_IMG_PAIRS_CTES}
SELECT doc_a, doc_b, hamming FROM verified WHERE hamming <= {IMG_HAM_MAX}
"""


# Every IMG_REFRESH_MOD-th doc is "the ingest batch" for the refresh
# operator (the lsh_index_refresh convention: a deterministic 10% carve,
# so the incremental path is hash-checked against a full recompute).
IMG_REFRESH_MOD = 10


def q_image_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, b0..b3) perceptual hashes for the FULL corpus, assembled
    incrementally — ``lsh_index_refresh``'s posture on the image ring:
    stored hashes for the standing slice (doc_id % IMG_REFRESH_MOD != 0,
    persisted once per corpus snapshot) unioned with freshly
    encoded/decoded/hashed rows for the ingest batch (doc_id %
    IMG_REFRESH_MOD == 0).

    Scale shape: the standing side is a pure 40-byte-row artifact scan —
    the rasters are never re-decoded; the batch side runs the two Arrow
    kernels over ONLY the new documents (map-only, no shuffle, cost
    proportional to the batch).  At 100 TB this is the image-ingest
    steady state: decode and hash the arriving blobs, append to the hash
    table, leave the billions of standing rows untouched.  Both sides
    share ``_img_hashed`` — one code path, so the incremental table is
    bit-identical to a full rebuild by construction (the oracle
    recomputes everything and the driver hash-checks)."""
    from ..sources.index_store import ensure_index
    from ..sources.tables import spread

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = ensure_index(
        spark, sf_dir, "img_dhash_base",
        f"dhash|{IMG_BLOCK_GRID}|{IMG_BANDS}|{IMG_REFRESH_MOD}",
        lambda: _img_hashed(
            spread(docs.filter(F.col("doc_id") % IMG_REFRESH_MOD != 0))
        ),
        source_table="documents",
    )
    batch = _img_hashed(docs.filter(F.col("doc_id") % IMG_REFRESH_MOD == 0))
    return base.unionByName(batch)


ORACLES["image_index_refresh"] = f"""
WITH {_DUCK_IMG_BANDS_CTES}
SELECT doc_id, b0, b1, b2, b3 FROM bands
"""


def q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs -> duplicate CLUSTERS — the image ring's
    dedup-report member, completing the modality's build/serve/maintain/
    report story the text ring already has (duplicate_clusters /
    dup_cluster_stats): a dedup pipeline keys on one representative per
    cluster, not per pair.

    Edges are ``q_image_near_dup``'s banded-and-verified pairs (served
    from the stored hash artifact); clustering is the shared iterative
    min-label fixpoint (``text._connected_components`` — one shuffle per
    round, O(cluster diameter) rounds, convergence driver-checked, never
    a recursive CTE on the Spark side).  The DuckDB twin recomputes the
    SAME pair chain and clusters it with a recursive CTE, so the
    iterative operator stays fully value-checked."""
    from .text import _connected_components

    pairs = q_image_near_dup(spark, sf_dir).select("doc_a", "doc_b")
    return _connected_components(pairs)


ORACLES["image_dup_clusters"] = f"""
WITH RECURSIVE {_DUCK_IMG_PAIRS_CTES},
pairs AS (
  SELECT doc_a, doc_b FROM verified WHERE hamming <= {IMG_HAM_MAX}
),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs
),
reach (doc_id, peer) AS (
  SELECT doc_a, doc_b FROM edges
  UNION
  SELECT r.doc_id, e.doc_b FROM reach r JOIN edges e ON r.peer = e.doc_a
),
clusters AS (
  SELECT doc_id, LEAST(doc_id, MIN(peer)) AS cluster_id
  FROM reach GROUP BY doc_id
)
SELECT doc_id, cluster_id FROM clusters
"""


# --- X46: cross-modality dedup agreement report ------------------------------
#
# The dedup ring detects duplicates in three id-joinable modality spaces
# (text shingles -> MinHash-LSH, embeddings -> hyperplane LSH, image
# rasters -> dHash bands).  A curation pipeline wants them TOGETHER:
# a document flagged by text but not by image is template reuse (same
# words, different rendering); flagged by image but not text is the OCR-
# variant class (same rendering, garbled words); flagged only in
# embedding space is semantic-only duplication.  This report joins the
# three membership sets into one per-doc agreement table.


def q_cross_modal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document modality-agreement report over the three near-dup
    rings: ``dup_text`` / ``dup_embed`` / ``dup_image`` flag membership
    in at least one verified near-dup pair of that modality, and
    ``agreement`` names the curation class (cross_confirmed /
    template_reuse / ocr_variant / semantic_only / unique).

    All three pair sources are the SERVE paths — stored artifacts, not
    rebuilds: text pairs from the persisted MinHash signature table
    (``q_minhash_lsh_serve``), embedding pairs from the stored
    ``lsh_codes`` hyperplane signatures (``q_embedding_near_dup_serve``),
    image pairs from the stored 40-byte dHash table
    (``q_image_near_dup``).  Membership per modality is one explode +
    distinct over pairs (KB-sized at any scale: pairs, not corpus); the
    report is three keyed left joins from ``documents`` — broadcastable
    at 100 TB since dup membership is corpus-sublinear — plus the
    embeddings id scan that distinguishes "not a dup in embedding space"
    from "has no embedding" (``dup_embed`` is NULL for docs without an
    embedding row; the id spaces share doc_id = vec_id by construction
    of the synthetic corpus, asserted by the testdata manifest).

    Deliberately membership-level, not cluster-id-level: the agreement
    classes need only "is doc in any pair", which keeps the DuckDB twin
    a pure composition of the three pair chains — no recursive-CTE
    transitive closure (the engine-hostile shape ``leakage_safe_split``
    measured at ~39 s vs 1.9 s)."""
    from .similarity import q_embedding_near_dup_serve
    from .text import q_minhash_lsh_serve

    def members(pairs: DataFrame, a: str, b: str) -> DataFrame:
        return (
            pairs.select(
                F.explode(F.array(F.col(a), F.col(b))).alias("doc_id")
            )
            .distinct()
            .withColumn("hit", F.lit(True))
        )

    tdup = members(q_minhash_lsh_serve(spark, sf_dir), "doc_a", "doc_b")
    edup = members(
        q_embedding_near_dup_serve(spark, sf_dir), "vec_a", "vec_b"
    )
    idup = members(q_image_near_dup(spark, sf_dir), "doc_a", "doc_b")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    emb_ids = (
        load_table(spark, sf_dir, "embeddings")
        .select(F.col("vec_id").alias("doc_id"))
        .withColumn("has_emb", F.lit(True))
    )
    joined = (
        docs.join(tdup.withColumnRenamed("hit", "t_hit"), "doc_id", "left")
        .join(emb_ids, "doc_id", "left")
        .join(edup.withColumnRenamed("hit", "e_hit"), "doc_id", "left")
        .join(idup.withColumnRenamed("hit", "i_hit"), "doc_id", "left")
    )
    dup_text = F.coalesce(F.col("t_hit"), F.lit(False))
    dup_embed = F.when(
        F.col("has_emb").isNull(), F.lit(None).cast("boolean")
    ).otherwise(F.coalesce(F.col("e_hit"), F.lit(False)))
    dup_image = F.coalesce(F.col("i_hit"), F.lit(False))
    agreement = (
        F.when(dup_text & dup_image, "cross_confirmed")
        .when(dup_text, "template_reuse")
        .when(dup_image, "ocr_variant")
        .when(F.coalesce(dup_embed, F.lit(False)), "semantic_only")
        .otherwise("unique")
    )
    return joined.select(
        "doc_id",
        dup_text.alias("dup_text"),
        dup_embed.alias("dup_embed"),
        dup_image.alias("dup_image"),
        agreement.alias("agreement"),
    )


def _cross_modal_oracle() -> str:
    """Compose the three pair chains (each already a standalone
    WITH..SELECT oracle) as derived tables — membership per modality is
    explode+distinct over each chain's pairs, the report three left
    joins.  Built lazily at import via the sibling modules' ORACLES so
    the twin can never drift from the per-modality oracles it reuses."""
    from .similarity import ORACLES as _SIM_ORACLES
    from .text import ORACLES as _TEXT_ORACLES

    def member_cte(name: str, sql: str, a: str, b: str) -> str:
        return f"""{name} AS (
  SELECT DISTINCT doc_id FROM (
    SELECT unnest([{a}, {b}]) AS doc_id FROM (
{sql}
    ) pairs_q
  ) ids_q
)"""

    return f"""
WITH {member_cte("tdup", _TEXT_ORACLES["minhash_lsh_pairs"], "doc_a", "doc_b")},
{member_cte("edup", _SIM_ORACLES["embedding_near_dup_mp"], "vec_a", "vec_b")},
{member_cte("idup", ORACLES["image_near_dup"], "doc_a", "doc_b")}
SELECT d.doc_id,
       (t.doc_id IS NOT NULL) AS dup_text,
       CASE WHEN ev.vec_id IS NULL THEN NULL
            ELSE (e.doc_id IS NOT NULL) END AS dup_embed,
       (i.doc_id IS NOT NULL) AS dup_image,
       CASE WHEN t.doc_id IS NOT NULL AND i.doc_id IS NOT NULL
              THEN 'cross_confirmed'
            WHEN t.doc_id IS NOT NULL THEN 'template_reuse'
            WHEN i.doc_id IS NOT NULL THEN 'ocr_variant'
            WHEN e.doc_id IS NOT NULL THEN 'semantic_only'
            ELSE 'unique' END AS agreement
FROM documents d
LEFT JOIN tdup t ON d.doc_id = t.doc_id
LEFT JOIN embeddings ev ON d.doc_id = ev.vec_id
LEFT JOIN edup e ON d.doc_id = e.doc_id
LEFT JOIN idup i ON d.doc_id = i.doc_id
"""


ORACLES["cross_modal_dedup"] = _cross_modal_oracle()


# --- X43+: image banding study — the dHash carving trade, measured -----------
#
# The tuning member the text and embedding rings already have
# (minhash_band_tuning, embedding_lsh_tuning): the SAME stored 64-bit
# dHash admits several band carvings, and the choice trades candidate
# volume against blocking recall.  Coarse bands (2x32) collide only on
# near-identical halves; fine bands (8x8) collide often (8-bit values,
# plus a stronger pigeonhole: ham<=3 => >=5 identical bands) but feed
# the verify stage more pairs; the production 4x16 sits between.  The
# nonzero-band guard applies to every carving — an all-zero band is the
# blank-region hot bucket at ANY width.

IMG_TUNE_CARVINGS = [
    ("2x32", 2),
    ("4x16", 4),
    ("8x8", 8),
]


def _img_carved_bands(nb: int) -> list:
    """Band-value columns for an ``nb``-band carving of the stored four
    16-bit band columns — pure integer recombination/splitting, no
    64-bit recombine (b3<<48 would overflow signed BIGINT)."""
    b = [F.col(f"b{k}") for k in range(IMG_BANDS)]
    if nb == 4:
        return b
    if nb == 8:
        out = []
        for k in range(IMG_BANDS):
            out += [b[k] % 256, (b[k] / 256).cast("bigint")]
        return out
    if nb == 2:
        return [b[0] + b[1] * 65536, b[2] + b[3] * 65536]
    raise ValueError(nb)


def q_image_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per carving: candidate-pair volume, blocking recall against the
    EXACT Hamming<=IMG_HAM_MAX truth set, and the truth size — the
    measured basis for the production 4x16 choice (the
    minhash_band_tuning posture on the image ring).

    What the numbers say on this corpus (sf0.001): the ham<=3 truth is
    846 pairs but MOST agree only on blank (all-zero) bands — the
    near-empty-raster mass the nonzero guard exists for — so 4x16
    surfaces 45 at 354 candidates, 2x32 only 37 at 163, and 8x8 gets
    125 at 3422 (narrow bands are nonzero more often, so the guard
    bites less — the recall/volume dial, measured).  The study
    QUANTIFIES the guard's documented recall trade rather than
    asserting it.

    Scale shape: ONE stored hash artifact feeds everything (40-byte
    rows; the rasters never decode here); the truth set is an all-pairs
    popcount join — quadratic BY DESIGN, the study's ground truth, run
    at study time only, never in the serving path (the same role the
    exact truth join plays in minhash_band_tuning); the three carvings'
    banded keys ride ``carving_study``'s one tagged dataflow, and the
    report stays lazy with nothing cached.  All counts exact BIGINTs;
    recall in 1e-4 units via integer division, NULL for an empty truth
    set (DuckDB's integer division by zero)."""
    hashes = _img_hash_index(spark, sf_dir)
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{k}").alias(f"xa{k}") for k in range(IMG_BANDS)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{k}").alias(f"xb{k}") for k in range(IMG_BANDS)],
    )
    ham = sum(
        F.expr(f"bit_count(xa{k} ^ xb{k})") for k in range(IMG_BANDS)
    )
    truth = (
        ha.join(hb, F.col("doc_a") < F.col("doc_b"))
        .filter(ham <= IMG_HAM_MAX)
        .select("doc_a", "doc_b")
    )
    keys = [
        hashes.select(
            "doc_id", F.posexplode(F.array(*_img_carved_bands(nb)))
        ).filter(F.col("col") != 0)
        for _name, nb in IMG_TUNE_CARVINGS
    ]
    configs = [{"carving": name, "n_bands": nb}
               for name, nb in IMG_TUNE_CARVINGS]
    return carving_study(configs, keys, truth).select(
        "carving",
        "n_bands",
        F.col("n_candidates").alias("n_cand"),
        "n_truth",
        F.col("n_hits").alias("n_caught"),
        F.expr("n_hits * 10000 DIV nullif(n_truth, 0)").alias("recall_units"),
    )


def _img_tuning_oracle() -> str:
    carve_sql = {
        2: ["b0 + b1 * 65536", "b2 + b3 * 65536"],
        4: ["b0", "b1", "b2", "b3"],
        8: [
            e
            for k in range(4)
            for e in (f"b{k} % 256", f"b{k} // 256")
        ],
    }
    parts = []
    for name, nb in IMG_TUNE_CARVINGS:
        parts.append(f"""
SELECT '{name}' AS carving, CAST({nb} AS BIGINT) AS n_bands,
       (SELECT COUNT(*) FROM cand_{nb}) AS n_cand,
       (SELECT COUNT(*) FROM truth) AS n_truth,
       (SELECT COUNT(*) FROM truth t
        WHERE EXISTS (SELECT 1 FROM cand_{nb} c
                      WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
         AS n_caught,
       (SELECT COUNT(*) FROM truth t
        WHERE EXISTS (SELECT 1 FROM cand_{nb} c
                      WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
         * 10000 // (SELECT COUNT(*) FROM truth) AS recall_units""")
    cand_ctes = []
    for name, nb in IMG_TUNE_CARVINGS:
        keys = " UNION ALL ".join(
            f"SELECT doc_id, {i} AS k, {expr} AS v FROM bands"
            for i, expr in enumerate(carve_sql[nb])
        )
        cand_ctes.append(f"""keys_{nb} AS (
  {keys}
),
cand_{nb} AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM keys_{nb} a JOIN keys_{nb} b
    ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id
  WHERE a.v <> 0
)""")
    return f"""
WITH {_DUCK_IMG_BANDS_CTES},
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
      + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
      <= {IMG_HAM_MAX}
),
{",".join(cand_ctes)}
{" UNION ALL ".join(parts)}
"""


ORACLES["image_band_tuning"] = _img_tuning_oracle()
