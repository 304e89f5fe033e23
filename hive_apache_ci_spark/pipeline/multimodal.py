"""Multimodal column plumbing (SURVEY.md §2.11).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs; the Spark-side machinery — schema, partitioning, Arrow batch
transfer, UDF signatures — is real and tested, while the actual codec step
is a deterministic STUB (no image/audio libraries exist in this
environment): ``fake_decode_features`` derives stable pseudo-features from
the md5 of the payload bytes. Swapping in a real decoder changes only the
function body, not the pipeline topology.

Scale notes: ``mapInPandas`` processes Arrow record batches (vectorized
transfer, bounded memory per batch); binary payloads never pass through
Python row-at-a-time. At 100 TB the payloads live in their own parquet
column chunks, so metadata-only queries never read the bytes (columnar
pruning), and ``spark.read.format('binaryFile')`` ingests raw media dirs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as Ty

from ..helpers import T
from ..registry import query
from .similarity import dot_fold


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Synthesize an opaque binary payload + typed metadata from text (the
    testdata has no real media; payload bytes stand in for an image blob)."""
    return df.select(
        "doc_id",
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.octet_length(F.encode(F.col(text_col), "utf-8")).alias("n_bytes"),
            F.md5(F.col(text_col)).alias("checksum"),
        ).alias("meta"),
    )


@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text)                  AS checksum,
           'image/png'                AS mime
    FROM documents
    """,
)
def multimodal_binary_meta(spark, sf_dir):
    """Metadata-only scan over a binary-payload table: reads the meta
    struct, never the payload column (columnar pruning is the point)."""
    d = with_binary_payload(T(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.checksum").alias("checksum"),
        F.col("meta.mime").alias("mime"),
    )


_FEATURES_SCHEMA = Ty.StructType(
    [
        Ty.StructField("doc_id", Ty.LongType()),
        Ty.StructField("width", Ty.IntegerType()),
        Ty.StructField("height", Ty.IntegerType()),
        Ty.StructField("mean_intensity", Ty.DoubleType()),
        Ty.StructField("n_bytes", Ty.IntegerType()),
    ]
)


def _digest_dims(h: bytes) -> tuple[int, int]:
    """(width, height) from digest bytes 0/1 — the ONE place the stub
    geometry formula lives (decode and resize both derive through it, so
    the stubs and their oracles cannot drift apart)."""
    return 64 + h[0] % 192, 64 + h[1] % 192  # 64..255


def fake_decode_features(payload: bytes) -> tuple[int, int, float]:
    """STUB decoder: derives (width, height, mean_intensity) deterministically
    from the payload's md5. A real implementation would be e.g.
    ``PIL.Image.open(io.BytesIO(payload))`` — unavailable in this container.
    """
    h = hashlib.md5(payload).digest()
    width, height = _digest_dims(h)
    mean_intensity = round(sum(h) / (len(h) * 255.0), 6)
    return width, height, mean_intensity


def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow record batches in, feature frames out."""
    for pdf in batches:
        feats = pdf["payload"].map(fake_decode_features)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": [f[0] for f in feats],
                "height": [f[1] for f in feats],
                "mean_intensity": [f[2] for f in feats],
                "n_bytes": pdf["payload"].map(len),
            }
        )


@query(
    "multimodal_decode_stub",
    oracle="""
    WITH d AS (
      SELECT doc_id, md5(text) AS hx,
             octet_length(encode(text)) AS nb
      FROM documents
    ),
    b AS (
      SELECT doc_id, nb,
             list_transform(range(0, 16), k ->
               (strpos('0123456789abcdef', substring(hx, 2*k + 1, 1)) - 1) * 16
               + (strpos('0123456789abcdef', substring(hx, 2*k + 2, 1)) - 1)
             ) AS bytes
      FROM d
    )
    SELECT doc_id,
           CAST(64 + bytes[1] % 192 AS INTEGER)            AS width,
           CAST(64 + bytes[2] % 192 AS INTEGER)            AS height,
           round(list_sum(bytes) / (16 * 255.0), 6)        AS mean_intensity,
           CAST(nb AS INTEGER)                             AS n_bytes
    FROM b
    """,
)
def multimodal_decode_stub(spark, sf_dir):
    """Decode/feature-extract over binary payloads via Arrow-batched
    ``mapInPandas`` (deterministic stub codec — fake_decode_features).
    Full hash oracle since round 6 (retires the registry's last rows-only
    entry): the stub's output is a pure function of the payload's md5
    digest bytes, so DuckDB replays it exactly — digest bytes recovered by
    hex-digit arithmetic over md5(text), width/height from bytes 0/1,
    mean_intensity = sum(bytes)/(16*255) (no 6-dp rounding ties exist:
    sum*12500/51 is never half-integer, checked analytically). What the
    oracle validates is the Spark-side PLUMBING — Arrow batch transfer,
    UDF signature, schema, row alignment — which is exactly the part that
    stays when a real codec replaces the stub body."""
    d = with_binary_payload(T(spark, sf_dir, "documents"))
    return d.select("doc_id", "payload").mapInPandas(
        decode_batch, schema=_FEATURES_SCHEMA
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, frame_idx,
           md5(concat(text, '#', CAST(frame_idx AS VARCHAR))) AS frame_key
    FROM (
      SELECT doc_id, text, unnest(range(0, 1 + n_chars % 4)) AS frame_idx
      FROM documents WHERE doc_id < 100
    )
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling topology for video-like payloads: one row per sampled
    frame index (payload-derived count), frame keys for downstream joins.
    The explode happens before any decode — at scale you sample indices
    first and decode only sampled frames."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    frames = d.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_chars") % 4).cast("int"))
        ).alias("frame_idx"),
    )
    return frames.select(
        "doc_id",
        "frame_idx",
        F.md5(
            F.concat(F.col("text"), F.lit("#"), F.col("frame_idx").cast("string"))
        ).alias("frame_key"),
    )


_BCHUNK = 64  # bytes per chunk


@query(
    "multimodal_chunk_bytes",
    oracle=f"""
    SELECT doc_id,
           CAST((s - 1) / {_BCHUNK} AS INT)               AS chunk_idx,
           CAST(length(substring(text, s, {_BCHUNK})) AS INT) AS n_bytes,
           md5(substring(text, s, {_BCHUNK}))            AS chunk_md5
    FROM documents,
         unnest(range(1, length(text) + 1, {_BCHUNK})) AS t(s)
    """,
)
def multimodal_chunk_bytes(spark, sf_dir):
    """Fixed-size byte chunking of binary payloads (the blob-sharding step
    before per-chunk upload/decode fan-out — e.g. video segments, audio
    frames): explode byte offsets, slice the payload with binary
    ``substring``, fingerprint each chunk. Narrow transform, zero
    shuffles; chunks carry (doc_id, chunk_idx) so reassembly order is
    explicit. The md5-per-chunk makes the byte-level slicing
    hash-verified cross-engine (DuckDB cannot slice BLOBs, so the oracle
    slices the VARCHAR — equivalent because the testdata text is pure
    ASCII, asserted below; the Spark side slices true payload bytes)."""
    d = with_binary_payload(T(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", "payload", F.octet_length("payload").alias("nb"))
        .select(
            "doc_id",
            "payload",
            F.explode(F.sequence(F.lit(1), F.col("nb"), F.lit(_BCHUNK))).alias("s"),
        )
        .select(
            "doc_id",
            ((F.col("s") - 1) / _BCHUNK).cast("int").alias("chunk_idx"),
            F.octet_length(
                F.expr(f"substring(payload, s, {_BCHUNK})")
            ).alias("n_bytes"),
            F.md5(F.expr(f"substring(payload, s, {_BCHUNK})")).alias("chunk_md5"),
        )
    )


@query(
    "multimodal_dedup_exact",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(text) AS checksum,
             octet_length(encode(text)) AS n_bytes
      FROM documents
    )
    SELECT checksum,
           CAST(min(n_bytes) AS BIGINT) AS n_bytes,
           CAST(count(*) AS BIGINT)     AS n_copies,
           CAST(min(doc_id) AS BIGINT)  AS keep_id
    FROM h GROUP BY checksum
    """,
)
def multimodal_dedup_exact(spark, sf_dir):
    """Exact media dedup by payload checksum — the first pass every
    multimodal pipeline runs (identical bytes = identical asset,
    whatever the filename): group by the content hash, keep the smallest
    id per group, report every group with its copy count (n_copies > 1 =
    removable duplicates; the full table doubles as the asset manifest). Uses the meta.checksum column only —
    the payload bytes are never read (columnar pruning), which at 100 TB
    of media is the entire point: dedup cost is metadata-sized. One
    hash-keyed shuffle with map-side partial counts."""
    d = with_binary_payload(T(spark, sf_dir, "documents"))
    return (
        d.select(
            "doc_id",
            F.col("meta.checksum").alias("checksum"),
            F.col("meta.n_bytes").alias("n_bytes"),
        )
        .groupBy("checksum")
        .agg(
            F.min("n_bytes").cast("bigint").alias("n_bytes"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
            F.min("doc_id").cast("bigint").alias("keep_id"),
        )
    )


# ---- round 6: resize stub (digest-replay oracle, like the decode stub) ---

_RESIZE_W, _RESIZE_H = 64, 64

_RESIZE_SCHEMA = Ty.StructType(
    [
        Ty.StructField("doc_id", Ty.LongType()),
        Ty.StructField("src_w", Ty.IntegerType()),
        Ty.StructField("src_h", Ty.IntegerType()),
        Ty.StructField("dst_w", Ty.IntegerType()),
        Ty.StructField("dst_h", Ty.IntegerType()),
        Ty.StructField("scale_x", Ty.DoubleType()),
        Ty.StructField("scale_y", Ty.DoubleType()),
        Ty.StructField("out_checksum", Ty.StringType()),
    ]
)


def fake_resize(payload: bytes) -> tuple[int, int, float, float, str]:
    """STUB resize: source dims via the SAME derivation as
    fake_decode_features (shared call, so the two stubs and their oracles
    can never drift apart), output checksum = md5 of the source digest
    hex + the target geometry tag — a pure function of the stored bytes,
    so the transform chain (decode → resize → re-checksum) is replayable.
    A real implementation would be PIL's Image.resize."""
    m = hashlib.md5(payload)  # payload hashed ONCE per row
    src = m.hexdigest()
    src_w, src_h = _digest_dims(m.digest())
    out = hashlib.md5(f"{src}#{_RESIZE_W}x{_RESIZE_H}".encode()).hexdigest()
    return (
        src_w,
        src_h,
        round(_RESIZE_W / src_w, 6),
        round(_RESIZE_H / src_h, 6),
        out,
    )


def _resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        feats = pdf["payload"].map(fake_resize)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "src_w": [f[0] for f in feats],
                "src_h": [f[1] for f in feats],
                "dst_w": _RESIZE_W,
                "dst_h": _RESIZE_H,
                "scale_x": [f[2] for f in feats],
                "scale_y": [f[3] for f in feats],
                "out_checksum": [f[4] for f in feats],
            }
        )


@query(
    "multimodal_resize_stub",
    oracle=f"""
    WITH d AS (SELECT doc_id, md5(text) AS hx FROM documents),
    b AS (
      SELECT doc_id, hx,
             (strpos('0123456789abcdef', substring(hx, 1, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(hx, 2, 1)) - 1) AS b0,
             (strpos('0123456789abcdef', substring(hx, 3, 1)) - 1) * 16
             + (strpos('0123456789abcdef', substring(hx, 4, 1)) - 1) AS b1
      FROM d
    )
    SELECT doc_id,
           CAST(64 + b0 % 192 AS INTEGER) AS src_w,
           CAST(64 + b1 % 192 AS INTEGER) AS src_h,
           CAST({_RESIZE_W} AS INTEGER)   AS dst_w,
           CAST({_RESIZE_H} AS INTEGER)   AS dst_h,
           round({_RESIZE_W} / (64.0 + b0 % 192), 6) AS scale_x,
           round({_RESIZE_H} / (64.0 + b1 % 192), 6) AS scale_y,
           md5(hx || '#{_RESIZE_W}x{_RESIZE_H}')     AS out_checksum
    FROM b
    """,
)
def multimodal_resize_stub(spark, sf_dir):
    """Resize step of the media pipeline (decode → resize → re-encode) as
    an Arrow-batched mapInPandas transform over binary payloads, with the
    codec stubbed (no image libs in this container) but — like the round-6
    decode oracle — every output a pure function of the stored bytes, so
    DuckDB replays the full transform chain including the re-checksum of
    the resized artifact (md5 of source-digest + geometry tag). What the
    oracle pins is the per-row transform plumbing: batch shape, schema,
    scale-factor arithmetic, and that the output artifact identity derives
    deterministically from the input identity — the contract a real
    PIL/ffmpeg body must also satisfy. Narrow transform, zero shuffles."""
    d = with_binary_payload(T(spark, sf_dir, "documents"))
    return d.select("doc_id", "payload").mapInPandas(
        _resize_batch, schema=_RESIZE_SCHEMA
    )


# ---- cross-modal retrieval (stub encoders) ---------------------------------

_XM_DOCS = 40    # "image" side: first docs
_XM_CAPS = 50    # "caption" side: first embedding vectors
_XM_DIM = 8      # stub image-embedding dims (first 8 dims of the text side)


def _xm_encode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas stub image encoder: 8 pseudo-embedding dims from the
    payload's md5 digest bytes, centered to [-1, 1]."""
    for pdf in batches:
        embs = []
        for payload in pdf["payload"]:
            dg = hashlib.md5(bytes(payload)).digest()
            embs.append([(dg[k] - 127.5) / 127.5 for k in range(_XM_DIM)])
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "iemb": embs})


_XM_COS = (
    "list_sum(list_transform(list_zip(iemb, temb), p -> p[1] * p[2]))"
    " / (sqrt(list_sum(list_transform(iemb, x -> x * x)))"
    " * sqrt(list_sum(list_transform(temb, x -> x * x))))"
)

_XM_SQL = f"""
WITH img AS (
  SELECT doc_id,
         list_transform(range(0, {_XM_DIM}), k ->
           (((strpos('0123456789abcdef', substring(md5(text), 2*k + 1, 1)) - 1)
              * 16
             + (strpos('0123456789abcdef', substring(md5(text), 2*k + 2, 1))
                - 1)) - 127.5) / 127.5
         ) AS iemb
  FROM documents WHERE doc_id < {_XM_DOCS}
),
cap AS (
  SELECT vec_id, label,
         list_transform(embedding[1:{_XM_DIM}], x -> CAST(x AS DOUBLE))
           AS temb
  FROM embeddings WHERE vec_id < {_XM_CAPS}
),
scored AS (
  SELECT i.doc_id, c.vec_id, c.label,
         round({_XM_COS} + 1e-9, 6) AS sim
  FROM img i CROSS JOIN cap c
)
SELECT doc_id, vec_id AS best_caption, label AS best_label, sim
FROM (
  SELECT doc_id, vec_id, label, sim,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY sim DESC, vec_id) AS rk
  FROM scored
)
WHERE rk = 1
"""


@query("multimodal_crossmodal_match", oracle=_XM_SQL)
def multimodal_crossmodal_match(spark, sf_dir):
    """Cross-modal retrieval (CLIP-style topology, stub encoders): a
    mapInPandas image encoder derives an `_XM_DIM`-dim pseudo-embedding from
    each binary payload's md5 digest bytes; the caption side is the first
    `_XM_DIM` dims of the embeddings table; every image matches its best
    caption by cosine. The stub bodies are swappable for real CLIP
    towers — what the oracle certifies is the TOPOLOGY: Arrow-batched
    encode, broadcast caption tower, pairwise cosine over the candidate
    block, per-image argmax with id tie-break.

    Determinism: digest-byte image embeddings are exact integers scaled
    by exact constants; cosine folds run in identical sequential order;
    sim 6dp-shift-rounded before the cut.

    100 TB: the caption tower broadcasts (or LSH-buckets, as in
    contamination_embedding, when it outgrows a broadcast); the encode is
    columnar Arrow batches; the match block is map-side. The deliberate
    `_XM_DOCS`x`_XM_CAPS` dense block here stands in for the per-bucket block of the
    bucketed form."""
    d = with_binary_payload(
        T(spark, sf_dir, "documents").filter(F.col("doc_id") < _XM_DOCS)
    )
    img = d.select("doc_id", "payload").mapInPandas(
        _xm_encode_batch, schema="doc_id bigint, iemb array<double>"
    )
    cap = (
        T(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _XM_CAPS)
        .select(
            "vec_id",
            "label",
            F.transform(
                F.slice(F.col("embedding"), 1, _XM_DIM),
                lambda x: x.cast("double"),
            ).alias("temb"),
        )
    )
    dot = dot_fold("iemb", "temb")
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(
            F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    scored = img.crossJoin(F.broadcast(cap)).select(
        "doc_id",
        "vec_id",
        "label",
        F.round(
            dot / (nrm(F.col("iemb")) * nrm(F.col("temb"))) + F.lit(1e-9), 6
        ).alias("sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("sim"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "doc_id",
            F.col("vec_id").alias("best_caption"),
            F.col("label").alias("best_label"),
            "sim",
        )
    )


# ---- round 9: REAL image-header decode (pure-Python PNG/JPEG parser) -------
#
# The digest stubs above stand in for pixel-level codecs (no media libs in
# the container). Header-level decode needs NO library: PNG dimensions are
# two big-endian u32s in the IHDR chunk, JPEG dimensions live in the SOFn
# segment reached by walking the marker stream. This op synthesizes VALID
# PNG/JPEG byte streams with Spark built-ins (hex→unhex big-endian packing,
# binary concat — a stand-in for binaryFile ingest of real media dirs) and
# decodes them with a real parser over Arrow batches.


def parse_image_header(b: bytes) -> tuple[str, int | None, int | None]:
    """Real pure-Python image header parser: PNG signature + IHDR, JPEG
    marker-segment walk to the first SOF (C0–CF minus C4/C8/CC), GIF
    logical-screen descriptor, or BMP BITMAPINFOHEADER — per the PNG spec
    (ISO 15948 §5.3/11.2.2), JPEG/JFIF (ITU T.81 §B.2.2 — frame header
    stores HEIGHT before WIDTH), GIF89a §18 (little-endian u16 pair at
    offset 6), and BITMAPINFOHEADER (signed little-endian i32 pair at
    offset 18; negative height = top-down row order, magnitude is the
    pixel height). CRC is not validated (header parse, not integrity
    check). Returns (format, width, height); ('unknown', None, None) for
    unparseable bytes."""
    b = bytes(b)
    if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        return (
            "gif",
            int.from_bytes(b[6:8], "little"),
            int.from_bytes(b[8:10], "little"),
        )
    if len(b) >= 26 and b[:2] == b"BM":
        # The DIB header size at offset 14 discriminates the layout
        # (r10 ADVICE: assuming BITMAPINFOHEADER misparsed 12-byte
        # BITMAPCOREHEADER files into garbage): 40/52/56/108/124 all share
        # the signed-i32 width/height pair at 18/22 (INFO/V2/V3/V4/V5);
        # 12 is the OS/2 core header with an UNSIGNED u16 pair at 18/20.
        dib = int.from_bytes(b[14:18], "little")
        if dib in (40, 52, 56, 108, 124):
            width = int.from_bytes(b[18:22], "little", signed=True)
            height = int.from_bytes(b[22:26], "little", signed=True)
        elif dib == 12:
            width = int.from_bytes(b[18:20], "little")
            height = int.from_bytes(b[20:22], "little")
        else:
            return ("unknown", None, None)
        # width must be positive (no top-down analog exists for width);
        # negative height = top-down row order, magnitude is pixel height
        if width <= 0 or height == 0:
            return ("unknown", None, None)
        return ("bmp", width, abs(height))
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n" and b[12:16] == b"IHDR":
        return (
            "png",
            int.from_bytes(b[16:20], "big"),
            int.from_bytes(b[20:24], "big"),
        )
    if len(b) >= 4 and b[:2] == b"\xff\xd8":
        i = 2
        while i + 4 <= len(b):
            if b[i] != 0xFF:
                break
            # T.81 §B.1.1.2: markers may be preceded by any number of 0xFF
            # fill bytes — skip the run so a fill byte is never read as a
            # marker code (r9 ADVICE: padded-but-valid JPEGs misparsed)
            while i + 1 < len(b) and b[i + 1] == 0xFF:
                i += 1
            if i + 4 > len(b):
                break
            marker = b[i + 1]
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # standalone
                i += 2
                continue
            seglen = int.from_bytes(b[i + 2 : i + 4], "big")
            if seglen < 2:  # malformed: would walk backwards/loop forever
                break
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                if i + 9 <= len(b):
                    height = int.from_bytes(b[i + 5 : i + 7], "big")
                    width = int.from_bytes(b[i + 7 : i + 9], "big")
                    return ("jpeg", width, height)
                break
            i += 2 + seglen
    return ("unknown", None, None)


def with_image_payload(df: DataFrame) -> DataFrame:
    """Synthesize VALID image byte streams (even doc_id → PNG, odd → JPEG)
    entirely with JVM-side built-ins: dimensions big-endian-packed via
    hex→lpad→unhex, headers assembled with binary concat. Stands in for
    ``spark.read.format('binaryFile')`` over a real media dir — the bytes
    a real ingest would deliver are shaped exactly like these."""
    w = (F.lit(16) + F.col("doc_id") % 1024).cast("int")
    h = (F.lit(16) + F.col("n_chars") % 1024).cast("int")

    def be4(c):
        return F.unhex(F.lpad(F.hex(c), 8, "0"))

    def be2(c):
        return F.unhex(F.lpad(F.hex(c), 4, "0"))

    png = F.concat(
        F.lit(b"\x89PNG\r\n\x1a\n"),          # signature
        F.lit(b"\x00\x00\x00\x0dIHDR"),        # IHDR length + type
        be4(w),
        be4(h),
        F.lit(b"\x08\x06\x00\x00\x00"),        # depth 8, RGBA, std methods
        F.lit(b"\x00\x00\x00\x00"),            # CRC placeholder (unchecked)
    )
    jpg = F.concat(
        F.lit(b"\xff\xd8"),                                        # SOI
        F.lit(b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"),
        F.lit(b"\xff\xc0\x00\x11\x08"),                            # SOF0
        be2(h),                                # height FIRST per T.81
        be2(w),
        F.lit(b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"),        # 3 comps
        F.lit(b"\xff\xd9"),                                        # EOI
    )
    return df.select(
        "doc_id",
        F.when(F.col("doc_id") % 2 == 0, png).otherwise(jpg).alias("payload"),
    )


_HEADER_SCHEMA = Ty.StructType(
    [
        Ty.StructField("doc_id", Ty.LongType()),
        Ty.StructField("fmt", Ty.StringType()),
        Ty.StructField("width", Ty.IntegerType()),
        Ty.StructField("height", Ty.IntegerType()),
        Ty.StructField("n_bytes", Ty.IntegerType()),
    ]
)


def _decode_header_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        parsed = pdf["payload"].map(parse_image_header)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "fmt": [p[0] for p in parsed],
                "width": [p[1] for p in parsed],
                "height": [p[2] for p in parsed],
                "n_bytes": pdf["payload"].map(len),
            }
        )


@query(
    "multimodal_decode_headers",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
           CAST(16 + doc_id % 1024 AS INT)  AS width,
           CAST(16 + n_chars % 1024 AS INT) AS height,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 41 END AS INT)
               AS n_bytes
    FROM documents
    """,
)
def multimodal_decode_headers(spark, sf_dir):
    """REAL image decode at the header level (r8 VERDICT item 7 — stub
    label removed): valid PNG/JPEG byte streams are parsed by a genuine
    pure-Python parser (PNG IHDR u32 pair; JPEG marker walk to SOF0, which
    stores height before width) over Arrow-batched mapInPandas. The
    oracle replays the dimensions from the synthesis formula, so the test
    is parse(synthesize(w, h)) == (w, h) THROUGH the real byte layout —
    a byte-order or segment-offset bug on either side breaks the match
    (width and height use different formulas, so even a coupled swap
    cannot cancel out). Narrow transform, zero shuffles; at 100 TB the
    payload column is read only by this stage (columnar pruning)."""
    d = with_image_payload(T(spark, sf_dir, "documents"))
    return d.mapInPandas(_decode_header_batch, schema=_HEADER_SCHEMA)


# ---- round 10: audio modality — real RIFF/WAV header parser ----------------
#
# The image family above covers the visual modality; a training-data
# pipeline ingests audio the same way (opaque binary + typed metadata).
# WAV/RIFF metadata needs no codec library: the fmt chunk holds
# channels/rate/width, the data chunk's SIZE field gives duration. Same
# design as the image path: synthesize VALID byte streams with JVM
# built-ins, decode with a genuine chunk-walking parser over Arrow batches.


def parse_wav_header(
    b: bytes,
) -> tuple[str, int | None, int | None, int | None, int | None]:
    """Real pure-Python RIFF/WAVE parser (RIFF spec / MS WAVEFORMATEX):
    validate the RIFF+WAVE container, walk chunks (sizes little-endian,
    payloads padded to even length) to 'fmt ' for (channels, sample_rate,
    bits_per_sample) and to 'data' for the payload size, from which
    duration_ms = data_size * 1000 // byte_rate. Returns
    (format, n_channels, sample_rate, bits_per_sample, duration_ms);
    ('unknown', None, None, None, None) for unparseable bytes."""
    b = bytes(b)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return ("unknown", None, None, None, None)
    i = 12
    channels = rate = bits = byte_rate = data_size = None
    while i + 8 <= len(b):
        cid = b[i : i + 4]
        size = int.from_bytes(b[i + 4 : i + 8], "little")
        if cid == b"fmt " and size >= 16 and i + 8 + 16 <= len(b):
            channels = int.from_bytes(b[i + 10 : i + 12], "little")
            rate = int.from_bytes(b[i + 12 : i + 16], "little")
            byte_rate = int.from_bytes(b[i + 16 : i + 20], "little")
            bits = int.from_bytes(b[i + 22 : i + 24], "little")
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size % 2)  # chunk payloads pad to even
    if channels is None or rate is None:
        return ("unknown", None, None, None, None)
    dur = (
        data_size * 1000 // byte_rate
        if data_size is not None and byte_rate
        else None
    )
    return ("wav", channels, rate, bits, dur)


def _u8(c):
    return F.unhex(F.lpad(F.hex(c.cast("long")), 2, "0"))


def _le2(c):
    c = c.cast("long")
    return F.concat(_u8(c % 256), _u8((c / 256).cast("long") % 256))


def _le4(c):
    c = c.cast("long")
    return F.concat(
        _u8(c % 256),
        _u8((c / 256).cast("long") % 256),
        _u8((c / 65536).cast("long") % 256),
        _u8((c / 16777216).cast("long") % 256),
    )


#: synthesis formulas shared by the payload builder and the oracle
_MEDIA_RATES = (8000, 16000, 22050, 44100)


def with_media_payload(df: DataFrame) -> DataFrame:
    """Synthesize VALID GIF / BMP / WAV byte streams (doc_id % 3 picks the
    modality) entirely with JVM built-ins — little-endian packing via
    byte-sliced hex→unhex (GIF/BMP dimension pairs, the full RIFF chunk
    layout including an actual zero-filled data chunk, so the files are
    complete, not truncated stubs). Stands in for binaryFile ingest of a
    mixed media dir."""
    w = (F.lit(16) + F.col("doc_id") % 1024).cast("long")
    h = (F.lit(16) + F.col("n_chars") % 1024).cast("long")
    gif = F.concat(
        F.lit(b"GIF89a"), _le2(w), _le2(h),
        F.lit(b"\xf7\x00\x00"),                    # packed, bg, aspect
        F.lit(b"\x3b"),                            # trailer
    )
    bmp = F.concat(
        F.lit(b"BM"), _le4(F.lit(30)),             # file size
        F.lit(b"\x00\x00\x00\x00"),                # reserved
        _le4(F.lit(30)),                           # pixel-data offset
        _le4(F.lit(40)),                           # BITMAPINFOHEADER size
        _le4(w), _le4(h),
        F.lit(b"\x01\x00"), F.lit(b"\x18\x00"),    # planes=1, bpp=24
    )
    rate = F.element_at(
        F.array(*[F.lit(r) for r in _MEDIA_RATES]),
        (F.col("doc_id") % 4 + 1).cast("int"),
    ).cast("long")
    channels = (F.lit(1) + F.col("doc_id") % 2).cast("long")
    block_align = channels * 2                     # 16-bit PCM
    byte_rate = rate * block_align
    n_frames = (F.lit(1) + F.col("doc_id") % 7).cast("long")
    data_size = n_frames * block_align
    wav = F.concat(
        F.lit(b"RIFF"), _le4(F.lit(36) + data_size), F.lit(b"WAVE"),
        F.lit(b"fmt "), _le4(F.lit(16)),
        F.lit(b"\x01\x00"),                        # PCM
        _le2(channels), _le4(rate), _le4(byte_rate),
        _le2(block_align), _le2(F.lit(16)),        # bits per sample
        F.lit(b"data"), _le4(data_size),
        # "00" is one hex BYTE; repeat it data_size times -> data_size
        # zero bytes after unhex
        F.unhex(F.repeat(F.lit("00"), data_size.cast("int"))),
    )
    m = F.col("doc_id") % 3
    return df.select(
        "doc_id",
        F.when(m == 0, gif).when(m == 1, bmp).otherwise(wav).alias("payload"),
    )


_MEDIA_SCHEMA = Ty.StructType(
    [
        Ty.StructField("doc_id", Ty.LongType()),
        Ty.StructField("fmt", Ty.StringType()),
        Ty.StructField("width", Ty.IntegerType()),
        Ty.StructField("height", Ty.IntegerType()),
        Ty.StructField("n_channels", Ty.IntegerType()),
        Ty.StructField("sample_rate", Ty.IntegerType()),
        Ty.StructField("duration_ms", Ty.IntegerType()),
        Ty.StructField("n_bytes", Ty.IntegerType()),
    ]
)


def _decode_media_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    def one(b: bytes):
        fmt, wd, ht = parse_image_header(b)
        if fmt != "unknown":
            return (fmt, wd, ht, None, None, None, len(b))
        fmt, ch, rate, _bits, dur = parse_wav_header(b)
        return (fmt, None, None, ch, rate, dur, len(b))

    for pdf in batches:
        rows = pdf["payload"].map(one)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "fmt": rows.map(lambda r: r[0]),
                "width": rows.map(lambda r: r[1]),
                "height": rows.map(lambda r: r[2]),
                "n_channels": rows.map(lambda r: r[3]),
                "sample_rate": rows.map(lambda r: r[4]),
                "duration_ms": rows.map(lambda r: r[5]),
                "n_bytes": rows.map(lambda r: r[6]),
            }
        )


@query(
    "multimodal_decode_media_headers",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'gif' WHEN 1 THEN 'bmp'
                           ELSE 'wav' END                          AS fmt,
           CAST(CASE WHEN doc_id % 3 < 2 THEN 16 + doc_id % 1024
                END AS INT)                                        AS width,
           CAST(CASE WHEN doc_id % 3 < 2 THEN 16 + n_chars % 1024
                END AS INT)                                        AS height,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + doc_id % 2
                END AS INT)                                        AS n_channels,
           CAST(CASE WHEN doc_id % 3 = 2 THEN
                  CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                  WHEN 2 THEN 22050 ELSE 44100 END
                END AS INT)                                        AS sample_rate,
           CAST(CASE WHEN doc_id % 3 = 2 THEN
                  ((1 + doc_id % 7) * (1 + doc_id % 2) * 2 * 1000)
                  // (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                      WHEN 2 THEN 22050 ELSE 44100 END
                      * (1 + doc_id % 2) * 2)
                END AS INT)                                        AS duration_ms,
           CAST(CASE doc_id % 3
                  WHEN 0 THEN 14
                  WHEN 1 THEN 30
                  ELSE 44 + (1 + doc_id % 7) * (1 + doc_id % 2) * 2
                END AS INT)                                        AS n_bytes
    FROM documents
    """,
)
def multimodal_decode_media_headers(spark, sf_dir):
    """Mixed-media metadata extraction through REAL parsers (round 10 —
    audio joins the modality set): GIF logical-screen descriptor and BMP
    BITMAPINFOHEADER (little-endian, signed for BMP) via the extended
    parse_image_header, and a genuine RIFF/WAVE chunk walker
    (parse_wav_header: fmt chunk → channels/rate, data chunk size →
    duration). Payloads are synthesized COMPLETE files with JVM built-ins
    (the WAV carries its actual zero-filled data chunk), so the oracle's
    formula replay checks parse(synthesize(...)) through the real byte
    layouts — endianness, chunk offsets and the duration arithmetic all
    break the hash independently. Same 100 TB shape as the image op:
    narrow Arrow-batched mapInPandas, zero shuffles, payload column
    pruned everywhere else."""
    d = with_media_payload(T(spark, sf_dir, "documents"))
    return d.mapInPandas(_decode_media_batch, schema=_MEDIA_SCHEMA)
