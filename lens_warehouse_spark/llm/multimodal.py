"""Multimodal column plumbing L8 (SURVEY.md §2.10).

Pattern: media as opaque ``binary`` payloads + typed metadata struct +
path pointer for blob offloading. At 100 TB the payload column lives in
parquet only for small assets; large assets stay in object storage and
the ``blob_path`` pointer column is what flows through the engine —
decode/feature-extract stages read bytes inside ``mapInPandas`` workers
so media bytes never pass through the driver.

Codec honesty, by format: these are REAL first-principles spec
decoders, all oracle-verified at the
pixel/sample level —
- PPM (P6) and BMP (24-bit BI_RGB): ``decode_pixels`` →
  (h, w, 3) uint8; ``resize_pixels`` vectorized nearest-neighbor
  (``l8g_pixel_resize`` re-derives resampled pixel sums in SQL).
- PNG: ``decode_png`` — chunk walk + CRC-32, stdlib-zlib inflate
  (pass-bound), full five-filter scanline reconstruction (l8j).
- GIF: ``decode_gif`` — hand-written LZW with output cap, interlace,
  local/global palettes, frame compositing (l8k).
- JPEG: ``decode_jpeg`` — baseline AND progressive Huffman DCT from
  the spec: marker walk, Huffman tables, dequant, IDCT, 4:2:0/4:2:2
  chroma upsampling, YCbCr→RGB (l8l grayscale, l8o color, l8q
  progressive); absolute block caps against adversarial dims.
- TIFF: ``decode_tiff`` — strip-based, uncompressed/PackBits/LZW/
  Deflate, predictor 2, palette + WhiteIsZero, per-codec expansion
  ceilings + output-capped inflate (l8m). Tiled TIFF and
  JPEG-in-TIFF raise NotImplementedError honestly.
- WAV (PCM + IEEE float): ``decode_audio`` (l8h); FLAC:
  ``decode_flac`` — fixed + LPC prediction, Rice residuals (l8p).
- Y4M: ``decode_y4m`` frame sampling (l8i); gzip members
  output-capped at 256 MiB (s21); ``dispatch_media`` sniff-routes
  heterogeneous corpora and degrades garbage to corrupt/unknown
  instead of raising (l8n; fuzzed by tools/fuzz_multimodal.py).
Still DELIBERATELY out of scope — formats whose entropy layer would
mean reimplementing a full A/V codec: mp3/ogg audio, h264/vp9 video
(plus tiled TIFF above). For those the plumbing (schema, Arrow batch
shape, partitioning, generator-style mapInPandas) is identical and
the decode step raises or sniffs headers only.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lens_warehouse_spark.catalog import table
from lens_warehouse_spark.registry import register

# Absolute decoded-size cap for every compressed codec here (TIFF
# strips, PNG IDAT, GIF frames, FLAC samples): the per-codec caps are
# RELATIVE (expansion ceiling x payload size), which still lets a large
# authored payload claim a multi-GB decode (100 MB of deflate at 1032:1
# is 100 GB). Mirrors the gzip path's _S21_MAX_TEXT: no legitimate
# corpus asset decodes past 256 MiB, and a Spark task must never
# allocate unbounded memory for one row.
_MAX_DECODED_BYTES = 256 << 20


def sniff_media(blob: bytes) -> tuple[str, int | None, int | None]:
    """Pure-Python magic-byte sniff: (format, width, height).

    No media libraries exist in this container, so instead of raising,
    the decode path does the part that needs no codec: recognize the
    container from its magic bytes and parse dimensions out of the
    header with ``struct`` — PNG (IHDR), GIF (logical screen), BMP
    (BITMAPINFOHEADER), JPEG (SOF segment walk), plus WAV/OGG/PDF
    detection without dimensions. Unknown formats return
    ``("unknown", None, None)`` rather than raising: a 100 TB corpus
    always contains garbage rows, and a decode stage that throws on
    them kills the whole task.
    """
    import struct

    b = bytes(blob)
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        w, h = struct.unpack(">II", b[16:24])
        return ("png", w, h)
    if b[:4] in (b"II*\x00", b"MM\x00*"):  # TIFF (dims live in
        return ("tiff", None, None)  # IFD tags; decode_tiff parses them)
    if b[:2] == b"P6":  # netpbm P6 (the l8g interchange format)
        import re as _re

        m = _re.match(rb"P6\s+(\d+)\s+(\d+)\s", b[:64])
        if m:
            return ("ppm", int(m.group(1)), int(m.group(2)))
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return ("gif", w, h)
    if b[:2] == b"BM" and len(b) >= 22:
        # Validate the DIB header size at offset 14 before trusting the
        # dimension fields: a text blob starting "BM..." (prose like
        # "BMW") is NOT a bitmap, and the OS/2 BITMAPCOREHEADER (size
        # 12) stores 16-bit dimensions where the INFOHEADER stores
        # 32-bit ones — unpacking '<ii' unconditionally returned
        # width | (height << 16) garbage for valid core-header files.
        dib = struct.unpack("<I", b[14:18])[0]
        if dib == 12:
            w16, h16 = struct.unpack("<HH", b[18:22])
            return ("bmp", w16, h16)
        if dib in (40, 52, 56, 64, 108, 124) and len(b) >= 26:
            w, h = struct.unpack("<ii", b[18:26])
            return ("bmp", w, abs(h))
        return ("unknown", None, None)
    if b[:3] == b"\xff\xd8\xff":
        # JPEG: walk segments to a start-of-frame (SOF0..SOF15 except
        # DHT/DAC/RST markers) and read height/width from it.
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker == 0xFF:
                # spec-legal 0xFF fill byte before a marker: advance ONE
                # byte, or the real marker after it is consumed as a
                # segment length and the walk jumps past the SOF
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker in (0xD9, 0xDA):
                # EOI / start-of-scan: entropy-coded data follows; its
                # bytes are not segment headers, and walking them can
                # match a fake SOF with garbage dimensions. SOF always
                # precedes SOS, so stop here.
                break
            seg_len = struct.unpack(">H", b[i + 2 : i + 4])[0]
            if seg_len < 2:
                break  # corrupt length field; would loop forever
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return ("jpeg", w, h)
            i += 2 + seg_len
        return ("jpeg", None, None)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return ("wav", None, None)
    if b[:10] == b"YUV4MPEG2 ":
        import re as _re

        wm = _re.search(rb"\bW(\d+)", b[:128])
        hm = _re.search(rb"\bH(\d+)", b[:128])
        if wm and hm:
            return ("y4m", int(wm.group(1)), int(hm.group(1)))
        return ("y4m", None, None)
    if b[:4] == b"fLaC":
        return ("flac", None, None)
    if b[:4] == b"OggS":
        return ("ogg", None, None)
    if b[:5] == b"%PDF-":
        return ("pdf", None, None)
    return ("unknown", None, None)


def decode_image(blob: bytes) -> tuple[str, int | None, int | None]:
    """Decode an image payload as far as this container allows.

    Real deployments: ``PIL.Image.open(io.BytesIO(blob))`` for pixel
    access; here the pure-Python header sniff supplies format and
    dimensions so decode-dependent stages execute instead of raising
    (pixel-level transforms remain stubbed — see ``resize_image``).
    """
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]

        img = Image.open(io.BytesIO(bytes(blob)))
        return (img.format.lower() if img.format else "unknown", *img.size)
    except Exception:
        # Not just ImportError: the pipeline deliberately feeds non-image
        # and truncated header-only blobs through this stage, and a real
        # PIL raises UnidentifiedImageError/OSError/ValueError on those —
        # which would kill the whole mapInPandas task. The pure-Python
        # sniff is the safety net in EVERY environment.
        return sniff_media(blob)


def multimodal_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the multimodal table shape from ``documents``: binary
    payload (utf-8 bytes standing in for media bytes), metadata struct,
    and a blob-path pointer."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.encode("text", "utf-8").alias("blob").cast(BinaryType()),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.col("n_chars").cast("int").alias("n_bytes_meta"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
        F.concat(F.lit("blob://store/"), F.col("doc_id").cast("string")).alias(
            "blob_path"
        ),
    )


# ---------------------------------------------------------------------------
# L8: byte-level feature extraction over Arrow batches (mapInPandas).
# Deterministic features -> full SQL oracle despite the Python stage.
# ---------------------------------------------------------------------------
@register(
    "l8_multimodal_features",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS byte_len,  -- strlen = utf-8 BYTES, matching len(blob)
       md5(text) AS blob_md5,
       'text/plain' AS mime
FROM documents
""",
)
def l8_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    mm = multimodal_frame(spark, sf_dir)
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("byte_len", LongType()),
            StructField("blob_md5", StringType()),
            StructField("mime", StringType()),
        ]
    )

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["blob"].map(len).astype("int64"),
                    "blob_md5": pdf["blob"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "mime": pdf["meta"].map(lambda m: m["mime"]),
                }
            )

    return mm.mapInPandas(extract, out_schema)


# ---------------------------------------------------------------------------
# L8b: frame sampling — a 1:N generator stage (video -> frames shape).
# Deterministic fake frame count (doc_id % 5) keeps it oracle-able.
# ---------------------------------------------------------------------------
@register(
    "l8b_frame_sample",
    oracle="""
SELECT doc_id, CAST(unnest(range(CAST(doc_id % 5 AS INT))) AS INT) AS frame_idx
FROM documents
WHERE doc_id % 5 > 0
""",
)
def l8b_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    mm = multimodal_frame(spark, sf_dir).select("doc_id", "blob_path")
    out_schema = StructType(
        [StructField("doc_id", LongType()), StructField("frame_idx", IntegerType())]
    )

    def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Real pipeline: fetch blob_path, decode container, sample frames.
        for pdf in batches:
            ids, idxs = [], []
            for doc_id in pdf["doc_id"]:
                for i in range(int(doc_id) % 5):
                    ids.append(int(doc_id))
                    idxs.append(i)
            yield pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                                "frame_idx": pd.Series(idxs, dtype="int32")})

    return mm.mapInPandas(sample_frames, out_schema)


# ---------------------------------------------------------------------------
# L8d: frame-hash dedup — per-frame content hashes (sha inside the
# mapInPandas worker, bytes never reach the driver), then the standard
# hash-groupBy dedup over (frame_hash). Finds identical frames ACROSS
# videos — the multimodal analog of L1 exact text dedup. The fake frame
# payload is blob-prefix + frame index, deterministic -> full oracle.
# ---------------------------------------------------------------------------
@register(
    "l8d_frame_hash_dedup",
    oracle="""
WITH frames AS (
  SELECT doc_id,
         CAST(unnest(range(CAST(doc_id % 5 AS INT))) AS INT) AS frame_idx
  FROM documents WHERE doc_id % 5 > 0
), hashed AS (
  SELECT f.doc_id, f.frame_idx,
         md5(substring(d.text, 1, 32) || '#' || CAST(f.frame_idx AS VARCHAR))
           AS frame_hash
  FROM frames f JOIN documents d ON d.doc_id = f.doc_id
)
SELECT frame_hash,
       count(*) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keep_doc_id
FROM hashed
GROUP BY frame_hash
HAVING count(*) > 1
ORDER BY frame_hash
""",
)
def l8d_frame_hash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    import pandas as pd

    mm = multimodal_frame(spark, sf_dir).select("doc_id", "blob")
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame_hash", StringType()),
        ]
    )

    def hash_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Real pipeline: decode container, extract frame bytes, hash them.
        # Deterministic fake frame payload: first 32 payload bytes + index.
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["blob"]):
                # First 32 CHARACTERS, not bytes: the oracle hashes
                # substring(text, 1, 32), and a multi-byte char
                # straddling byte 32 would change the hashed prefix.
                # The blob is utf-8 text by construction (multimodal_frame).
                head = bytes(blob).decode("utf-8")[:32].encode("utf-8")
                for i in range(int(doc_id) % 5):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    hashes.append(
                        hashlib.md5(head + b"#" + str(i).encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_hash": pd.Series(hashes, dtype="object"),
                }
            )

    return (
        mm.mapInPandas(hash_frames, out_schema)
        .groupBy("frame_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
        .orderBy("frame_hash")
    )


# ---------------------------------------------------------------------------
# L8e: blob-manifest pointer join — the engine-side table carries only
# blob_path pointers; asset facts (size, store node, checksum) live in an
# external manifest keyed by path. At 100 TB both sides are large, so
# this is a plain hash join on the pointer (bucketable by path in real
# deployments); no broadcast assumption. Manifest is synthesized
# deterministically here, standing in for an object-store listing.
# ---------------------------------------------------------------------------
@register(
    "l8e_blob_manifest_join",
    oracle="""
WITH manifest AS (
  SELECT concat('blob://store/', CAST(doc_id AS VARCHAR)) AS blob_path,
         CAST(doc_id % 16 AS INT) AS store_node,
         CAST(strlen(text) AS BIGINT) AS asset_bytes  -- utf-8 bytes, matching the blob
  FROM documents
)
SELECT d.doc_id, m.store_node, m.asset_bytes,
       CAST(d.n_chars AS BIGINT) AS n_chars
FROM (
  SELECT doc_id, n_chars,
         concat('blob://store/', CAST(doc_id AS VARCHAR)) AS blob_path
  FROM documents
) d
JOIN manifest m ON m.blob_path = d.blob_path
WHERE m.asset_bytes > 512
""",
)
def l8e_blob_manifest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    manifest = docs.select(
        F.concat(F.lit("blob://store/"), F.col("doc_id").cast("string")).alias(
            "m_path"
        ),
        (F.col("doc_id") % 16).cast("int").alias("store_node"),
        F.octet_length("text").cast("long").alias("asset_bytes"),
    )
    side = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.concat(F.lit("blob://store/"), F.col("doc_id").cast("string")).alias(
            "blob_path"
        ),
    )
    return (
        side.join(manifest, side.blob_path == manifest.m_path)
        .filter(F.col("asset_bytes") > 512)
        .select("doc_id", "store_node", "asset_bytes", "n_chars")
    )


# ---------------------------------------------------------------------------
# L8f: media header decode — the sniff path executing for real. Each
# row synthesizes a VALID format header (PNG IHDR / GIF screen / BMP
# DIB / JPEG SOF0 walk) with dimensions derived from doc_id, and the
# mapInPandas stage parses them back out with decode_image's
# pure-Python sniffer; every 5th row carries raw text bytes and must
# come back 'unknown' instead of killing the task. The oracle recomputes
# the expected (fmt, width, height) from the same doc_id arithmetic.
# ---------------------------------------------------------------------------
def _synth_media_blob(doc_id: int, text: str) -> bytes:
    import struct

    w = doc_id % 640 + 1
    h = doc_id % 480 + 1
    kind = doc_id % 5
    if kind == 0:
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + b"IHDR"
            + struct.pack(">II", w, h)
        )
    if kind == 1:
        return b"GIF89a" + struct.pack("<HH", w, h)
    if kind == 2:
        # valid BITMAPINFOHEADER size (40) at offset 14 — the sniffer
        # validates the DIB header size, so an all-zero one would
        # (correctly) classify as unknown
        return (
            b"BM"
            + b"\x00" * 12
            + struct.pack("<I", 40)
            + struct.pack("<ii", w, h)
        )
    if kind == 3:
        return (
            b"\xff\xd8"
            + b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
            + b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
        )
    return text.encode("utf-8")


@register(
    "l8f_media_sniff",
    oracle="""
SELECT doc_id,
       CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp'
            WHEN 3 THEN 'jpeg' ELSE 'unknown' END AS fmt,
       CASE WHEN doc_id % 5 <= 3 THEN CAST(doc_id % 640 + 1 AS INT) END AS width,
       CASE WHEN doc_id % 5 <= 3 THEN CAST(doc_id % 480 + 1 AS INT) END AS height
FROM documents
""",
)
def l8f_media_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("fmt", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )

    def sniff_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [
                decode_image(_synth_media_blob(int(d), t))
                for d, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "fmt": pd.Series([f for f, _, _ in decoded], dtype="object"),
                    "width": pd.Series([w for _, w, _ in decoded], dtype="Int32"),
                    "height": pd.Series([h for _, _, h in decoded], dtype="Int32"),
                }
            )

    return docs.mapInPandas(sniff_batch, out_schema)


def resize_image(blob: bytes, width: int, height: int) -> bytes:
    """Resize an image payload. STUB for jpeg/gif only (their entropy
    layers — Huffman DCT, LZW — have no stdlib decoder). PPM / 24-bit
    BMP / PNG payloads resize for real via ``real_resize_image`` below
    — l8g_pixel_resize and l8j_png_decode run those decode paths under
    pixel-exact oracles.

    Real deployments: PIL ``Image.open(...).resize((width, height))``;
    the mapInPandas batch plumbing below is already shaped for it.
    """
    raise NotImplementedError("media codecs unavailable in this environment")


# ---------------------------------------------------------------------------
# L8c: resize stage — 1:1 media transform over Arrow batches. The codec
# is stubbed with a deterministic byte-truncation fake, so the Spark
# plumbing (schema, batch shape, metadata rewrite) is fully oracle-checked.
# ---------------------------------------------------------------------------
@register(
    "l8c_resize",
    oracle="""
SELECT doc_id,
       64 AS target_w,
       64 AS target_h,
       CAST(least(strlen(text), 64 * 64) AS BIGINT) AS resized_bytes  -- utf-8 bytes
FROM documents
""",
)
def l8c_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    target_w, target_h = 64, 64
    mm = multimodal_frame(spark, sf_dir).select("doc_id", "blob")
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("target_w", IntegerType()),
            StructField("target_h", IntegerType()),
            StructField("resized_bytes", LongType()),
        ]
    )

    def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cap = target_w * target_h
        for pdf in batches:
            # deterministic fake for the stubbed codec: truncate payload
            resized = pdf["blob"].map(lambda b: min(len(b), cap))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "target_w": pd.Series([target_w] * len(pdf), dtype="int32"),
                    "target_h": pd.Series([target_h] * len(pdf), dtype="int32"),
                    "resized_bytes": resized.astype("int64"),
                }
            )

    return mm.mapInPandas(resize_batch, out_schema)


# ---------------------------------------------------------------------------
# L8g: REAL pixel-level decode + resize — no media libraries required.
# The container has no PIL/ffmpeg, but two production formats are
# uncompressed byte layouts a numpy-only worker can decode honestly:
# P6 PPM (netpbm) and 24-bit BI_RGB BMP. ``decode_pixels`` parses both
# to an (h, w, 3) uint8 array; ``resize_image`` is a vectorized
# nearest-neighbor resample (pure index arithmetic, the resample PIL's
# Image.NEAREST performs) re-encoded as P6. PNG, GIF, JPEG and TIFF
# route to their real decoders below.
#
# Scale shape: identical to l8c — media bytes move only worker-side
# through Arrow batches; the resample is O(target pixels) numpy
# indexing per blob, no Python per-pixel loops.
# ---------------------------------------------------------------------------
def decode_pixels(blob: bytes):
    """(h, w, 3) uint8 pixels for any image payload this module can
    decode: P6 PPM, BI_RGB BMP (24-bit and 8-bit paletted), PNG,
    GIF, JPEG and TIFF (gray planes stack to 3 channels; 16-bit PNG
    downscales to its high byte for this preview path).

    Raises ValueError on malformed input of a recognized format and
    NotImplementedError for formats that need a missing codec."""
    import re
    import struct

    import numpy as np

    b = bytes(blob)
    if b[:2] == b"P6":
        # header: "P6" ws W ws H ws MAXVAL single-ws, then raw RGB.
        m = re.match(rb"P6\s+(\d+)\s+(\d+)\s+(\d+)\s", b)
        if not m:
            raise ValueError("malformed PPM header")
        # '#' comments are legal PPM inside the HEADER; this corpus
        # never emits them, so reject loudly rather than mis-parse —
        # but only scan the header region (0x23 is a legal pixel byte).
        if b"#" in b[: m.end()]:
            raise ValueError("PPM comments unsupported")
        w, h, maxval = (int(g) for g in m.groups())
        if maxval != 255:
            raise ValueError(f"unsupported PPM maxval {maxval}")
        px = np.frombuffer(b, dtype=np.uint8, offset=m.end())
        if px.size < w * h * 3:
            raise ValueError("truncated PPM payload")
        return px[: w * h * 3].reshape(h, w, 3)
    if b[:2] == b"BM":
        if len(b) < 54:
            raise ValueError("truncated BMP header")
        off = struct.unpack_from("<I", b, 10)[0]
        dib = struct.unpack_from("<I", b, 14)[0]
        w, h = struct.unpack_from("<ii", b, 18)
        bpp = struct.unpack_from("<H", b, 28)[0]
        comp = struct.unpack_from("<I", b, 30)[0]
        if dib < 40 or bpp not in (8, 24) or comp != 0:
            raise NotImplementedError(
                f"BMP variant unsupported without a codec (dib={dib}, "
                f"bpp={bpp}, compression={comp})"
            )
        top_down = h < 0
        h = abs(h)
        if bpp == 8:  # paletted BMP (BGRA quads after the DIB header)
            n_colors = struct.unpack_from("<I", b, 46)[0] or 256
            pal_off = 14 + dib
            if pal_off + 4 * n_colors > len(b):
                raise ValueError("truncated BMP palette")
            pal = np.frombuffer(
                b, np.uint8, 4 * n_colors, pal_off
            ).reshape(n_colors, 4)[:, :3]  # BGR per entry
            stride = (w + 3) & ~3
            if off + stride * h > len(b):
                raise ValueError("truncated BMP payload")
            idx = np.frombuffer(b, np.uint8, stride * h, off)
            idx = idx.reshape(h, stride)[:, :w]
            if int(idx.max(initial=0)) >= n_colors:
                raise ValueError("BMP pixel index beyond palette")
            rows = pal[idx]
        else:
            stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
            need = off + stride * h
            if len(b) < need:
                raise ValueError("truncated BMP payload")
            rows = np.frombuffer(b, dtype=np.uint8, offset=off, count=stride * h)
            rows = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        if not top_down:
            rows = rows[::-1]  # BMP stores bottom-up
        return rows[..., ::-1].copy()  # BGR -> RGB
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        # PNG is a REAL decode (stdlib zlib — decode_png below); gray
        # planes stack to 3 channels and alpha drops because this
        # 3-channel path feeds the P6 resize/re-encode pipeline.
        px = decode_png(b)
        if px.ndim == 2:
            px = np.stack([px, px, px], axis=-1)
        if px.dtype != np.uint8:
            px = (px >> 8).astype(np.uint8)  # 16-bit -> 8-bit preview
        return px[..., :3] if px.shape[2] >= 3 else np.repeat(px[..., :1], 3, 2)
    fmt, _, _ = sniff_media(b)
    if fmt == "gif":
        return decode_gif(b)
    if fmt == "jpeg":
        px = decode_jpeg(b)
        return px if px.ndim == 3 else np.stack([px, px, px], axis=-1)
    if fmt == "tiff":
        px = decode_tiff(b)
        return px if px.ndim == 3 else np.stack([px, px, px], axis=-1)
    raise NotImplementedError(f"no codec for format {fmt!r} in this environment")


def encode_ppm(px) -> bytes:
    """(h, w, 3) uint8 -> P6 bytes (the lib-free interchange format)."""
    h, w = px.shape[0], px.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()


def resize_pixels(px, width: int, height: int):
    """Vectorized nearest-neighbor resample (PIL Image.NEAREST rule:
    source index = floor(target_index * src / dst))."""
    import numpy as np

    h, w = px.shape[0], px.shape[1]
    ys = (np.arange(height) * h) // height
    xs = (np.arange(width) * w) // width
    return px[np.ix_(ys, xs)]


def real_resize_image(blob: bytes, width: int, height: int) -> bytes:
    """decode -> nearest-neighbor resample -> P6 re-encode. The real
    replacement for the ``resize_image`` stub wherever the payload is
    an uncompressed format."""
    return encode_ppm(resize_pixels(decode_pixels(blob), width, height))


_L8G_TW, _L8G_TH = 8, 8


def _synth_ppm_expr():
    """Columnar P6 synthesis: header || raw pixel bytes, with pixel
    (x, y, c) = (doc_id*7 + x*3 + y*5 + c) % 256 — integer-exact, so
    the resample's output is SQL-derivable and the oracle can verify
    real pixel work without any image function. Bytes are built
    hex-pair -> unhex: char()/chr() cannot emit raw bytes >= 0x80 (a
    Spark STRING is UTF-8, so 0x80..0xFF become two bytes on the cast
    to BINARY and the payload would corrupt silently)."""
    w = "CAST(doc_id % 37 + 4 AS INT)"
    h = "CAST(doc_id % 29 + 4 AS INT)"
    px = "lpad(hex((doc_id * 7 + x * 3 + y * 5 + {c}) % 256), 2, '0')"
    return f"""
    cast(concat(
      'P6\\n', cast({w} AS STRING), ' ', cast({h} AS STRING), '\\n255\\n'
    ) AS BINARY) || unhex(concat_ws('',
      transform(sequence(0, {h} - 1), y ->
        concat_ws('', transform(sequence(0, {w} - 1), x ->
          concat({px.format(c=0)}, {px.format(c=1)}, {px.format(c=2)})
        ))
      )
    ))
    """


@register(
    "l8g_pixel_resize",
    oracle=f"""
WITH dims AS (
  SELECT doc_id,
         CAST(doc_id % 37 + 4 AS INT) AS w,
         CAST(doc_id % 29 + 4 AS INT) AS h
  FROM documents
), px AS (
  SELECT d.doc_id,
         sum((d.doc_id * 7 + ((x.i * d.w) // {_L8G_TW}) * 3
              + ((y.j * d.h) // {_L8G_TH}) * 5 + c.k) % 256) AS s
  FROM dims d,
       (SELECT unnest(range({_L8G_TW})) AS i) x,
       (SELECT unnest(range({_L8G_TH})) AS j) y,
       (SELECT unnest(range(3)) AS k) c
  GROUP BY d.doc_id
)
SELECT doc_id,
       {_L8G_TW} AS target_w,
       {_L8G_TH} AS target_h,
       CAST(s AS BIGINT) AS pixel_sum
FROM px
ORDER BY doc_id
""",
)
def l8g_pixel_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel path, oracle-verified: synthesize a P6 PPM per doc
    (deterministic integer pixel formula), decode + nearest-neighbor
    resample to {TW}x{TH} with the numpy codec inside mapInPandas, and
    emit the resized image's exact pixel sum. The oracle re-derives the
    same sum from the resample's index arithmetic alone — if the
    decoder, the BGR/stride handling, or the resample rule drifted, the
    integers would not match."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_synth_ppm_expr()).alias("blob")
    )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("target_w", IntegerType()),
            StructField("target_h", IntegerType()),
            StructField("pixel_sum", LongType()),
        ]
    )

    def resize_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            sums = [
                int(
                    resize_pixels(
                        decode_pixels(b), _L8G_TW, _L8G_TH
                    ).sum(dtype=np.int64)
                )
                for b in pdf["blob"]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "target_w": pd.Series([_L8G_TW] * len(pdf), dtype="int32"),
                    "target_h": pd.Series([_L8G_TH] * len(pdf), dtype="int32"),
                    "pixel_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return docs.mapInPandas(resize_batch, out_schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L8h: REAL audio decode — same honesty upgrade as l8g for the audio
# side. 16-bit PCM WAV is an uncompressed RIFF byte layout: a chunk
# walk plus np.frombuffer('<i2') decodes it with no audio library.
# The corpus column is synthesized as raw bytes IN SQL (hex -> unhex,
# independent of the numpy decoder — a shared endianness bug cannot
# cancel out), decoded worker-side over Arrow batches, and the DuckDB
# oracle re-derives the exact integer features (count / sum / peak)
# from the sample formula alone. Compressed audio (mp3/ogg/aac) stays
# honestly out of scope, like png/jpeg on the image side.
# ---------------------------------------------------------------------------
def decode_audio(blob: bytes):
    """(sample_rate, channels, numpy sample array) from a PCM WAV blob.
    Sample widths a real corpus contains: 16-bit (-> int16),
    8-bit unsigned (-> uint8 as stored, per the WAV convention that
    sub-9-bit samples are offset-binary), 24-bit packed (-> int32),
    32-bit int (-> int32) and 32-bit IEEE float (format 3 -> float32).

    ValueError on malformed RIFF/WAVE structure; NotImplementedError
    for compressed encodings (ADPCM, mu-law...) that need a codec."""
    import struct

    import numpy as np

    b = bytes(blob)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cid!r} chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too small")
            audio_fmt, ch, rate, _br, _ba, bits = struct.unpack_from(
                "<HHIIHH", body
            )
            if (audio_fmt, bits) not in (
                (1, 8), (1, 16), (1, 24), (1, 32), (3, 32),
            ):
                raise NotImplementedError(
                    f"WAV encoding needs a codec (fmt={audio_fmt}, bits={bits})"
                )
            fmt = (rate, ch, audio_fmt, bits)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    rate, ch, audio_fmt, bits = fmt
    if len(data) % (bits // 8):
        raise ValueError(f"PCM{bits} data length not sample-aligned")
    if audio_fmt == 3:
        return rate, ch, np.frombuffer(data, dtype="<f4")
    if bits == 8:
        return rate, ch, np.frombuffer(data, dtype=np.uint8)
    if bits == 16:
        return rate, ch, np.frombuffer(data, dtype="<i2")
    if bits == 32:
        return rate, ch, np.frombuffer(data, dtype="<i4")
    # 24-bit packed little-endian -> sign-extended int32
    tri = np.frombuffer(data, np.uint8).reshape(-1, 3).astype(np.int32)
    v = tri[:, 0] | (tri[:, 1] << 8) | (tri[:, 2] << 16)
    return rate, ch, np.where(v >= 1 << 23, v - (1 << 24), v)


_L8H_RATE = 8000


def _synth_wav_expr():
    """Columnar 16-bit mono PCM WAV: n = doc_id%200+50 samples with
    int16 value ((doc_id*13 + i*9) % 65536) - 65536*[>=32768] — the
    whole byte stream built hex-pair -> unhex in SQL so the numpy
    decoder is exercised against an independent construction."""
    n = "(doc_id % 200 + 50)"

    def le16(e):
        return (
            f"concat(lpad(hex(({e}) % 256), 2, '0'),"
            f" lpad(hex(({e}) div 256 % 256), 2, '0'))"
        )

    def le32(e):
        return (
            f"concat(lpad(hex(({e}) % 256), 2, '0'),"
            f" lpad(hex(({e}) div 256 % 256), 2, '0'),"
            f" lpad(hex(({e}) div 65536 % 256), 2, '0'),"
            f" lpad(hex(({e}) div 16777216 % 256), 2, '0'))"
        )

    header = (
        "concat("
        "hex('RIFF'), " + le32(f"36 + 2 * {n}") + ", hex('WAVE'),"
        "hex('fmt '), " + le32("16") + ","
        + le16("1") + "," + le16("1") + ","          # PCM, mono
        + le32(str(_L8H_RATE)) + "," + le32(str(2 * _L8H_RATE)) + ","
        + le16("2") + "," + le16("16") + ","          # block align, bits
        "hex('data'), " + le32(f"2 * {n}")
        + ")"
    )
    samples = (
        f"concat_ws('', transform(sequence(0, {n} - 1),"
        f" i -> {le16('(doc_id * 13 + i * 9) % 65536')}))"
    )
    return f"unhex(concat({header}, {samples}))"


@register(
    "l8h_audio_decode",
    oracle=f"""
WITH d AS (
  SELECT doc_id, doc_id % 200 + 50 AS n FROM documents
), s AS (
  SELECT d.doc_id,
         CASE WHEN (d.doc_id * 13 + i.i * 9) % 65536 >= 32768
              THEN (d.doc_id * 13 + i.i * 9) % 65536 - 65536
              ELSE (d.doc_id * 13 + i.i * 9) % 65536 END AS smp
  FROM d, (SELECT unnest(range(250)) AS i) i
  WHERE i.i < d.n
)
SELECT doc_id,
       {_L8H_RATE} AS sample_rate,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(smp) AS BIGINT) AS sample_sum,
       CAST(max(abs(smp)) AS BIGINT) AS peak
FROM s
GROUP BY doc_id
ORDER BY doc_id
""",
)
def l8h_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio path, oracle-verified: SQL-synthesized PCM16 WAV
    blobs decoded by the numpy chunk-walk inside mapInPandas; exact
    integer features (count / sum / peak) match the oracle's
    formula-only derivation — endianness, chunk walk, or int16
    interpretation drift would break the integers."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_synth_wav_expr()).alias("blob")
    )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_samples", LongType()),
            StructField("sample_sum", LongType()),
            StructField("peak", LongType()),
        ]
    )

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rates, counts, sums, peaks = [], [], [], []
            for b in pdf["blob"]:
                rate, _ch, smp = decode_audio(b)
                rates.append(rate)
                counts.append(len(smp))
                s64 = smp.astype(np.int64)
                sums.append(int(s64.sum()))
                peaks.append(int(np.abs(s64).max()) if len(s64) else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "sample_rate": pd.Series(rates, dtype="int32"),
                    "n_samples": pd.Series(counts, dtype="int64"),
                    "sample_sum": pd.Series(sums, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int64"),
                }
            )

    return docs.mapInPandas(decode_batch, out_schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L8i: REAL video frame parsing — the third honesty upgrade. YUV4MPEG2
# (y4m, the mjpegtools interchange format) is uncompressed: a text
# header, then per frame a FRAME marker + raw YUV planes. A numpy
# worker parses it with no codec; 4:2:0 subsampling gives the plane
# sizes. Frame SAMPLING (every Nth frame, the l8b operation) then
# happens on real decoded lumas, and the oracle re-derives the exact
# sampled-luma sums from the generator formula. Compressed video
# (h264/vp9/av1) stays honestly out of scope.
# ---------------------------------------------------------------------------
def decode_y4m(blob: bytes):
    """(width, height, [n, h, w] uint8 luma planes) from a YUV4MPEG2
    4:2:0 payload. ValueError on malformed structure;
    NotImplementedError for chroma modes other than 420."""
    import numpy as np

    b = bytes(blob)
    nl = b.find(b"\n")
    if not b.startswith(b"YUV4MPEG2") or nl < 0:
        raise ValueError("not a YUV4MPEG2 payload")
    w = h = None
    for tok in b[9:nl].split():
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C" and not tok[1:].startswith(b"420"):
            raise NotImplementedError(f"chroma mode {tok!r} unsupported")
    if not w or not h or w % 2 or h % 2:
        raise ValueError(f"bad y4m dimensions W={w} H={h} (4:2:0 needs even)")
    ysz, csz = w * h, (w // 2) * (h // 2)
    frames, pos = [], nl + 1
    while pos < len(b):
        fnl = b.find(b"\n", pos)
        if not b.startswith(b"FRAME", pos) or fnl < 0:
            raise ValueError("malformed FRAME marker")
        start = fnl + 1
        if start + ysz + 2 * csz > len(b):
            raise ValueError("truncated y4m frame")
        frames.append(
            np.frombuffer(b, dtype=np.uint8, offset=start, count=ysz).reshape(
                h, w
            )
        )
        pos = start + ysz + 2 * csz
    return w, h, np.stack(frames) if frames else np.empty((0, h, w), np.uint8)


_L8I_STRIDE = 2  # sample every 2nd frame


def _synth_y4m_expr():
    """Columnar y4m synthesis (hex -> unhex, independent of the numpy
    parser): per doc W=(doc_id%3)*2+4, H=(doc_id%2)*2+4,
    n=(doc_id%7+2) frames; luma(f, x, y) = (doc_id*11 + f*17 + x*3 +
    y*5) % 256, chroma planes constant 0x80."""
    w = "CAST(doc_id % 3 AS INT) * 2 + 4"
    h = "CAST(doc_id % 2 AS INT) * 2 + 4"
    n = "CAST(doc_id % 7 AS INT) + 2"
    luma = "lpad(hex((doc_id * 11 + f * 17 + x * 3 + y * 5) % 256), 2, '0')"
    return f"""
    cast(concat('YUV4MPEG2 W', cast({w} AS STRING), ' H',
                cast({h} AS STRING), ' F25:1 Ip A1:1 C420\\n') AS BINARY)
    || unhex(concat_ws('', transform(sequence(0, {n} - 1), f -> concat(
         hex(concat('FRAME', '\\n')),
         concat_ws('', transform(sequence(0, {h} - 1), y ->
           concat_ws('', transform(sequence(0, {w} - 1), x -> {luma})))),
         repeat('80', (({w}) div 2) * (({h}) div 2) * 2)
       ))))
    """


@register(
    "l8i_video_frame_sample",
    oracle=f"""
WITH d AS (
  SELECT doc_id,
         (doc_id % 3) * 2 + 4 AS w,
         (doc_id % 2) * 2 + 4 AS h,
         doc_id % 7 + 2 AS n
  FROM documents
), px AS (
  SELECT d.doc_id, d.n,
         sum((d.doc_id * 11 + f.f * 17 + x.x * 3 + y.y * 5) % 256) AS s
  FROM d,
       (SELECT unnest(range(8)) AS f) f,
       (SELECT unnest(range(8)) AS x) x,
       (SELECT unnest(range(6)) AS y) y
  WHERE f.f < d.n AND f.f % {_L8I_STRIDE} = 0 AND x.x < d.w AND y.y < d.h
  GROUP BY d.doc_id, d.n
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_frames,
       CAST((n + {_L8I_STRIDE} - 1) // {_L8I_STRIDE} AS BIGINT) AS n_sampled,
       CAST(s AS BIGINT) AS sampled_luma_sum
FROM px
ORDER BY doc_id
""",
)
def l8i_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video path, oracle-verified: SQL-synthesized y4m blobs,
    numpy FRAME walk + plane math worker-side, every-2nd-frame
    sampling on decoded lumas; the oracle re-derives the exact sampled
    luma sums from the generator formula — a plane-size, marker-walk,
    or stride bug breaks the integers."""
    import pandas as pd

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_synth_y4m_expr()).alias("blob")
    )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_frames", LongType()),
            StructField("n_sampled", LongType()),
            StructField("sampled_luma_sum", LongType()),
        ]
    )

    def sample_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            nf, ns, sums = [], [], []
            for b in pdf["blob"]:
                _w, _h, lumas = decode_y4m(b)
                sampled = lumas[:: _L8I_STRIDE]
                nf.append(len(lumas))
                ns.append(len(sampled))
                sums.append(int(sampled.astype(np.int64).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_frames": pd.Series(nf, dtype="int64"),
                    "n_sampled": pd.Series(ns, dtype="int64"),
                    "sampled_luma_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return docs.mapInPandas(sample_batch, out_schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L8j: REAL PNG decode. PNG's entropy layer is RFC-1950 zlib, which is
# stdlib. ``decode_png`` is a complete decoder for non-interlaced
# 8-bit RGB/RGBA PNGs: chunk walk with CRC-32 verification, inflate of
# the concatenated IDAT stream (Adler-32 checked by zlib itself), and
# per-scanline reverse filtering for ALL FIVE filter types.
#
# Verification is three-way independent, one step stronger than l8g:
#   1. Spark SQL SYNTHESIZES a byte-exact PNG per doc — chunk CRCs via
#      the JVM's ``crc32()``, the zlib container as a stored-deflate
#      block whose Adler-32 is computed IN SQL (two modular aggregates),
#      and every scanline filtered FORWARD (filter type = y % 5, so
#      Sub/Up/Average/Paeth all appear) from a closed-form pixel
#      formula. Nothing Python touches the encode side.
#   2. The numpy decoder must invert the filters to recover pixels.
#   3. The DuckDB oracle re-derives the pixel sum and a position-
#      weighted sum from the formula alone — a wrong Paeth inverse, a
#      swapped row, or a mis-sliced channel cannot produce matching
#      integers.
# Scale shape: identical to l8g — decode runs worker-side in
# mapInPandas over Arrow batches; at 100 TB blobs arrive via the
# l8e manifest-join pointer pattern, never through the driver.
# ---------------------------------------------------------------------------
def decode_png(blob: bytes):
    """Pixels from a PNG — stdlib-only real decode (zlib inflate +
    filter reconstruction). Full color-type AND depth coverage:
    1/2/4/8/16-bit grayscale (-> (h, w) uint8, scaled to 8-bit for
    sub-byte depths; uint16 for 16), gray+alpha (-> (h, w, 2)),
    truecolor RGB/RGBA (-> (h, w, 3|4)), and 1/2/4/8-bit palette (PLTE
    lookup -> (h, w, 3) uint8); non-interlaced and Adam7-interlaced.
    Filtering operates on BYTES with the left neighbor bpp bytes back
    (floor 1 for packed sub-byte rows), exactly as the spec defines.
    ValueError on malformed structure, a failed CRC-32/Adler-32, or a
    depth/color-type combination the spec forbids."""
    import struct
    import zlib

    import numpy as np

    b = bytes(blob)
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    pos, ihdr, idat, plte = 8, None, [], None
    while pos + 12 <= len(b):
        ln, typ = struct.unpack_from(">I4s", b, pos)
        if pos + 12 + ln > len(b):
            raise ValueError("truncated chunk")
        data = b[pos + 8 : pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", b, pos + 8 + ln)
        if zlib.crc32(typ + data) != crc:
            raise ValueError(f"CRC-32 mismatch in {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            if len(data) % 3 or not data:
                raise ValueError("PLTE length not a multiple of 3")
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise ValueError("invalid compression/filter method fields")
    ch_of = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
    depths = {
        0: (1, 2, 4, 8, 16),
        2: (8, 16),
        3: (1, 2, 4, 8),
        4: (8, 16),
        6: (8, 16),
    }
    if (
        ctype not in ch_of
        or depth not in depths[ctype]
        or interlace not in (0, 1)
    ):
        raise ValueError(
            f"invalid PNG depth/color-type combination (depth={depth}, "
            f"color_type={ctype}, interlace={interlace})"
        )
    if ctype == 3 and plte is None:
        raise ValueError("paletted PNG without PLTE")
    ch = ch_of[ctype]
    # Chunk CRCs stop blind bit-rot, but an AUTHORED
    # file with valid CRCs can still declare huge dimensions over a
    # tiny (or bomb) zstream. Deflate expands at most ~1032:1, so a
    # header-implied raw size beyond that bound can't be legitimate —
    # reject before decompressing/allocating gigabytes in a Spark task.
    # The implied size is EXACT (per-pass for Adam7: empty passes store
    # no rows), so the bound can never false-positive a legitimate
    # file, however compressible.
    idat_len = sum(len(x) for x in idat)
    bits = depth * ch
    if interlace:
        implied = sum(
            rows_p * (1 + (cols_p * bits + 7) // 8)
            for x0, y0, dx, dy in _PNG_ADAM7
            for cols_p in ((w - x0 + dx - 1) // dx,)
            for rows_p in ((h - y0 + dy - 1) // dy,)
            if cols_p > 0 and rows_p > 0
        )
    else:
        implied = h * (1 + (w * bits + 7) // 8)
    if implied > 1032 * idat_len + 65536:
        raise ValueError("PNG dimensions implausible for IDAT size")
    if implied > _MAX_DECODED_BYTES:
        raise ValueError("PNG decoded size exceeds cap")
    try:
        # Output-capped at implied+1: the relative check above
        # bounds what the HEADER may claim, but the zstream itself
        # could still inflate past it — cap the materialization and
        # let the length checks below reject the overrun.
        d = zlib.decompressobj()
        raw0 = d.decompress(b"".join(idat), implied + 1)
        if d.unconsumed_tail:
            raise ValueError("IDAT inflates past implied size")
        if not d.eof:  # truncated zstream
            raise ValueError("incomplete IDAT zstream")
    except zlib.error as exc:  # CRC-valid but broken zstream (authored)
        raise ValueError(f"bad IDAT zstream: {exc}") from exc
    if depth < 8:  # sub-byte gray/palette: MSB-first packed pixels
        vals = np.zeros((h, w), dtype=np.uint8)
        if interlace == 0:
            stride = (w * depth + 7) // 8
            sub, used = _png_unfilter(raw0, 0, h, stride, 1)
            if used != len(raw0):
                raise ValueError("decompressed IDAT length mismatch")
            vals = _png_unpack_bits(sub, w, depth)
        else:
            off = 0
            for x0, y0, dx, dy in _PNG_ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                stride = (pw * depth + 7) // 8
                sub, used = _png_unfilter(raw0, off, ph, stride, 1)
                off += used
                vals[y0::dy, x0::dx] = _png_unpack_bits(sub, pw, depth)
            if off != len(raw0):
                raise ValueError("decompressed IDAT length mismatch")
        if ctype == 3:
            if int(vals.max(initial=0)) >= len(plte):
                raise ValueError("palette index beyond PLTE")
            return plte[vals]
        # gray: scale d-bit samples to 8-bit (v * 255 / (2^d - 1))
        return (
            vals.astype(np.uint16) * 255 // ((1 << depth) - 1)
        ).astype(np.uint8)
    bps = depth // 8  # bytes per sample
    bpp = ch * bps
    raw = raw0
    out = np.zeros((h, w * bpp), dtype=np.uint8)
    if interlace == 0:
        sub, used = _png_unfilter(raw, 0, h, w * bpp, bpp)
        if used != len(raw):
            raise ValueError("decompressed IDAT length mismatch")
        out = sub
    else:
        # Adam7: seven independently-filtered reduced images, each
        # placed on its (x0, y0, dx, dy) lattice. Empty passes
        # contribute zero bytes (no filter byte either), per the spec.
        out3 = np.zeros((h, w, bpp), dtype=np.uint8)
        off = 0
        for x0, y0, dx, dy in _PNG_ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            sub, used = _png_unfilter(raw, off, ph, pw * bpp, bpp)
            off += used
            out3[y0::dy, x0::dx] = sub.reshape(ph, pw, bpp)
        if off != len(raw):
            raise ValueError("decompressed IDAT length mismatch")
        out = out3.reshape(h, w * bpp)
    if ctype == 3:  # palette indices -> RGB
        idx = out.reshape(h, w)
        if int(idx.max(initial=0)) >= len(plte):
            raise ValueError("palette index beyond PLTE")
        return plte[idx]
    if depth == 16:  # big-endian sample pairs -> uint16
        px16 = out.reshape(h, w, ch, 2).astype(np.uint16)
        px = (px16[..., 0] << 8) | px16[..., 1]
        return px.reshape(h, w) if ch == 1 else px
    px = out.reshape(h, w, ch)
    return px.reshape(h, w) if ch == 1 else px


_PNG_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _png_unpack_bits(rows, w: int, depth: int):
    """(h, stride) packed uint8 scanlines -> (h, w) d-bit sample
    values, MSB-first within each byte (depth 1/2/4)."""
    import numpy as np

    per = 8 // depth
    mask = (1 << depth) - 1
    cols = [
        (rows >> (8 - depth * (j + 1))) & mask for j in range(per)
    ]
    full = np.stack(cols, axis=-1).reshape(rows.shape[0], -1)
    return full[:, :w]


def _png_unfilter(raw: bytes, off: int, h: int, stride: int, bpp: int):
    """Reconstruct one (sub-)image of h scanlines (each ``stride``
    filtered bytes after the filter byte; the left-neighbor offset is
    ``bpp`` bytes = channels x bytes-per-sample). Returns (uint8
    (h, stride) array, bytes consumed). Sub/Average/Paeth
    reconstruction is sequential in x by definition (each byte depends
    on the RECONSTRUCTED left neighbor) — the per-row Python loop is
    bounded by the row stride; Up/None rows stay vectorized."""
    import numpy as np

    if off + h * (1 + stride) > len(raw):
        raise ValueError("decompressed IDAT length mismatch")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        base = off + y * (1 + stride)
        ft = raw[base]
        line = np.frombuffer(raw, np.uint8, stride, base + 1).copy()
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (int(line[i]) + int(line[i - bpp])) & 0xFF
        elif ft == 2:  # Up (vectorized: no intra-row dependency)
            line += prev
        elif ft == 3:  # Average
            for i in range(stride):
                left = int(line[i - bpp]) if i >= bpp else 0
                line[i] = (int(line[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = int(line[i - bpp]) if i >= bpp else 0
                bb = int(prev[i])
                c = int(prev[i - bpp]) if i >= bpp else 0
                pa, pb, pc = abs(bb - c), abs(a - c), abs(a + bb - 2 * c)
                pred = a if (pa <= pb and pa <= pc) else (bb if pb <= pc else c)
                line[i] = (int(line[i]) + pred) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ft}")
        out[y] = line
        prev = line
    return out, h * (1 + stride)


def _synth_png_exprs():
    """SQL column expressions building a byte-exact PNG per doc_id.

    Returns (w, h, ch, png) expression strings. Pixel formula:
    raw(x, y, c) = (doc_id*11 + x*5 + y*7 + c*3) % 256; scanline y is
    filtered FORWARD with filter type y % 5, so the blob exercises
    None/Sub/Up/Average/Paeth. The zlib container is one stored
    (uncompressed) final deflate block — LEN fits 16 bits because the
    filtered stream is <= 16*(1+24*4)+16 bytes — with the Adler-32
    computed by two modular aggregates in SQL. Chunk CRCs come from
    the JVM's crc32(); the Python decoder independently re-verifies
    them with zlib.crc32, pinning Spark's CRC against Python's."""

    def raw(x: str, y: str) -> str:
        return (
            f"pmod(doc_id * 11 + ({x}) * 5 + ({y}) * 7"
            f" + (i % __ch) * 3, 256)"
        )

    cur = raw("i div __ch", "y")
    a = f"(CASE WHEN i div __ch = 0 THEN 0 ELSE {raw('i div __ch - 1', 'y')} END)"
    up = f"(CASE WHEN y = 0 THEN 0 ELSE {raw('i div __ch', 'y - 1')} END)"
    ul = (
        "(CASE WHEN y = 0 OR i div __ch = 0 THEN 0"
        f" ELSE {raw('i div __ch - 1', 'y - 1')} END)"
    )
    paeth = (
        f"(CASE WHEN abs({up} - {ul}) <= abs({a} - {ul})"
        f"       AND abs({up} - {ul}) <= abs({a} + {up} - 2 * {ul}) THEN {a}"
        f"      WHEN abs({a} - {ul}) <= abs({a} + {up} - 2 * {ul}) THEN {up}"
        f"      ELSE {ul} END)"
    )
    pred = (
        f"(CASE pmod(y, 5) WHEN 0 THEN 0 WHEN 1 THEN {a} WHEN 2 THEN {up}"
        f" WHEN 3 THEN ({a} + {up}) div 2 ELSE {paeth} END)"
    )
    stream = (
        "flatten(transform(sequence(0, __h - 1), y -> concat("
        "  array(pmod(y, 5)),"
        "  transform(sequence(0, __w * __ch - 1), i ->"
        f"    pmod({cur} - {pred}, 256)))))"
    )
    # binary helpers (SQL string fragments over int columns/arrays)
    to_bin = "unhex(concat_ws('', transform({arr}, v -> lpad(hex(v), 2, '0'))))"
    be32 = "unhex(lpad(hex({v}), 8, '0'))"
    le16 = (
        "unhex(concat(substr(lpad(hex({v}), 4, '0'), 3, 2),"
        " substr(lpad(hex({v}), 4, '0'), 1, 2)))"
    )
    adler_a = "pmod(1 + aggregate(__st, 0L, (s, v) -> s + v), 65521)"
    adler_b = (
        "pmod(size(__st) + aggregate("
        "zip_with(__st, sequence(size(__st), 1, -1), (v, k) -> v * k),"
        " 0L, (s, v) -> s + v), 65521)"
    )
    zstream = (
        "concat(X'780101',"  # zlib hdr (78 01: 30721 % 31 = 0) + BFINAL|stored
        f" {le16.format(v='size(__st)')},"
        f" {le16.format(v='65535 - size(__st)')},"
        f" {to_bin.format(arr='__st')},"
        f" {be32.format(v=f'({adler_b}) * 65536 + ({adler_a})')})"
    )
    ihdr_data = (
        f"concat({be32.format(v='__w')}, {be32.format(v='__h')},"
        " X'08', CASE WHEN __ch = 3 THEN X'02' ELSE X'06' END, X'000000')"
    )
    chunk = (
        "concat({len}, cast('{t}' AS BINARY), {d},"
        " unhex(lpad(hex(crc32(concat(cast('{t}' AS BINARY), {d}))), 8, '0')))"
    )

    def mk_chunk(t: str, d: str) -> str:
        return chunk.format(
            t=t, d=d, len=be32.format(v=f"length(CAST({d} AS BINARY))")
        )

    png = (
        "concat(X'89504E470D0A1A0A',"
        f" {mk_chunk('IHDR', '__ihdr')},"
        f" {mk_chunk('IDAT', '__z')},"
        + " " + mk_chunk("IEND", "X''") + ")"  # empty chunk data
    )
    return {
        "w": "CAST(doc_id % 21 + 4 AS INT)",
        "h": "CAST(doc_id % 13 + 4 AS INT)",
        "ch": "CAST(3 + doc_id % 2 AS INT)",
        "stream": stream,
        "ihdr": ihdr_data,
        "zstream": zstream,
        "png": png,
    }


def _pixel_sums(docs: DataFrame, decode, with_channels: bool = False) -> DataFrame:
    """Shared l8j/l8k/l8l/l8m decode stage: (doc_id, blob) -> width,
    height, [channels,] pixel_sum and the position-weighted pos_sum
    over the row-major pixels of ``decode(blob)``, in mapInPandas."""
    import pandas as pd

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
        + ([StructField("channels", IntegerType())] if with_channels else [])
        + [
            StructField("pixel_sum", LongType()),
            StructField("pos_sum", LongType()),
        ]
    )

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ws, hs, chs, sums, pws = [], [], [], [], []
            for blob in pdf["blob"]:
                px = decode(blob)
                flat = px.reshape(-1).astype(np.int64)
                hs.append(px.shape[0])
                ws.append(px.shape[1])
                chs.append(px.shape[2] if px.ndim == 3 else 1)
                sums.append(int(flat.sum()))
                pws.append(int((flat * (np.arange(flat.size) + 1)).sum()))
            cols = {
                "doc_id": pdf["doc_id"].astype("int64"),
                "width": pd.Series(ws, dtype="int32"),
                "height": pd.Series(hs, dtype="int32"),
                "channels": pd.Series(chs, dtype="int32"),
                "pixel_sum": pd.Series(sums, dtype="int64"),
                "pos_sum": pd.Series(pws, dtype="int64"),
            }
            yield pd.DataFrame({c: cols[c] for c in out_schema.fieldNames()})

    return docs.mapInPandas(decode_batch, out_schema).orderBy("doc_id")


@register(
    "l8j_png_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         doc_id % 21 + 4 AS w, doc_id % 13 + 4 AS h,
         3 + doc_id % 2 AS ch
  FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h, d.ch,
         sum((d.doc_id * 11 + x.i * 5 + y.j * 7 + c.k * 3) % 256) AS ps,
         sum((y.j * d.w * d.ch + x.i * d.ch + c.k + 1)
             * ((d.doc_id * 11 + x.i * 5 + y.j * 7 + c.k * 3) % 256)) AS pw
  FROM dims d,
       (SELECT unnest(range(24)) AS i) x,
       (SELECT unnest(range(16)) AS j) y,
       (SELECT unnest(range(4)) AS k) c
  WHERE x.i < d.w AND y.j < d.h AND c.k < d.ch
  GROUP BY d.doc_id, d.w, d.h, d.ch
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(ch AS INT) AS channels,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(pw AS BIGINT) AS pos_sum
FROM px
ORDER BY doc_id
""",
)
def l8j_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode under a pixel-exact oracle: SQL-synthesized
    real PNG blobs (all five scanline filters, SQL Adler-32, JVM chunk
    CRCs) -> stdlib zlib + numpy decode in mapInPandas -> exact pixel
    sum and position-weighted sum, which the DuckDB oracle re-derives
    from the pixel formula alone (it never builds a PNG — three
    independent constructions must agree)."""
    e = _synth_png_exprs()
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(e["w"]).alias("__w"),
            F.expr(e["h"]).alias("__h"),
            F.expr(e["ch"]).alias("__ch"),
        )
        .withColumn("__st", F.expr(e["stream"]))
        .withColumn("__ihdr", F.expr(e["ihdr"]))
        .withColumn("__z", F.expr(e["zstream"]))
        .select("doc_id", F.expr(e["png"]).alias("blob"))
    )
    return _pixel_sums(docs, decode_png, with_channels=True)


# ---------------------------------------------------------------------------
# L8k: REAL GIF decode. GIF's entropy layer is LZW, which needs no
# library: one dictionary loop, shared with TIFF. The verification
# pattern is l8j's, with the twist inverted: the SQL synthesizer emits
# a VALID GIF using the fixed-width LZW trick (a clear code every <=254
# pixel codes keeps every code 9 bits, so the bit-packing is
# closed-form and expressible as SQL integer algebra), while the
# Python decoder implements FULL
# dictionary LZW with code-width growth — pytest additionally feeds it
# streams from a real test-side LZW compressor, so both the degenerate
# and the genuinely-compressed encodings are covered. The DuckDB
# oracle again never builds a blob: it derives pixel sums straight
# from the palette + index formulas.
# ---------------------------------------------------------------------------
class _BitReader:
    """MSB-first bit reader over ``data`` from byte ``pos``; ``bit`` is
    the number of bits already taken from ``data[pos]``."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.bit = 0

    def _byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("bitstream exhausted")
        return self.data[self.pos]

    def _stride(self, byte: int) -> int:
        """Bytes the current ``byte`` occupies in ``data``."""
        return 1

    def read_bits(self, n: int) -> int:
        v = 0
        while n:
            byte = self._byte()
            avail = 8 - self.bit
            take = n if n < avail else avail
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            n -= take
            if self.bit == 8:
                self.align()
        return v

    def read_signed(self, n: int) -> int:
        v = self.read_bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read_bits(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        """Skip the rest of a partly read byte."""
        if self.bit:
            self.bit = 0
            self.pos += self._stride(self.data[self.pos])


def _lzw(read_code, min_code_size: int, early: int, limit: int | None) -> bytes:
    """Dictionary LZW over the codes ``read_code(width)`` yields (None
    once fewer than ``width`` bits remain): literals, then the clear and
    end codes, a 4096-entry table, and a code width that grows when the
    table reaches ``2^width - early`` entries, up to 12 bits.

    ``limit`` stops the decode once that many output bytes exist: a
    clear-free stream emits up to ~2730x its input (4096-entry strings
    per code) and neither GIF nor TIFF strips carry a CRC to stop it.
    ValueError on a corrupt stream."""
    clear = 1 << min_code_size
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    while (code := read_code(width)) is not None and code != clear + 1:
        if code == clear:
            del table[clear + 2 :]
            width = min_code_size + 1
            prev = None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("LZW: first code after clear not literal")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            # conforming encoders clear before code 4096; without the cap
            # a clear-free stream grows the table without bound
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            if len(table) < 4096:
                table.append(entry)
        else:
            raise ValueError(f"LZW: code {code} beyond table")
        out += entry
        prev = entry
        if limit is not None and len(out) >= limit:
            break
        if len(table) == (1 << width) - early and width < 12:
            width += 1
    return bytes(out)


def lzw_decode(data: bytes, min_code_size: int, limit: int | None = None) -> bytes:
    """GIF-flavor LZW: codes packed LSB-first; the width grows when the
    NEXT code to assign no longer fits (table size 2^width). ``limit``
    and errors as in ``_lzw``."""
    bitpos = 0

    def read_code(width: int) -> int | None:
        nonlocal bitpos
        if bitpos + width > 8 * len(data):
            return None
        shift = bitpos & 7
        chunk = int.from_bytes(data[bitpos >> 3 : (bitpos + width + 7) >> 3], "little")
        bitpos += width
        return (chunk >> shift) & ((1 << width) - 1)

    return _lzw(read_code, min_code_size, 0, limit)


def decode_gif(blob: bytes):
    """(h, w, 3) uint8 RGB pixels from a single-frame GIF87a/89a —
    real LZW decode, stdlib-only. Handles global AND local color
    tables and interlaced row order. ValueError on malformed
    structure."""
    import struct

    import numpy as np

    b = bytes(blob)
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    if len(b) < 13:
        raise ValueError("truncated logical screen descriptor")
    flags = b[10]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)  # global color table entries
        gct = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(b):
        marker = b[pos]
        if marker == 0x3B:  # trailer
            break
        if marker == 0x21:  # extension: label + sub-blocks, skip
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if marker != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{marker:02x}")
        if pos + 10 > len(b):
            raise ValueError("truncated image descriptor")
        _x, _y, w, h = struct.unpack_from("<HHHH", b, pos + 1)
        if w * h * 3 > _MAX_DECODED_BYTES:
            raise ValueError("GIF decoded size exceeds cap")
        iflags = b[pos + 9]
        pos += 10
        ct = gct
        if iflags & 0x80:  # local color table overrides global
            n = 2 << (iflags & 0x07)
            if pos + n * 3 > len(b):
                raise ValueError("truncated local color table")
            ct = np.frombuffer(b, np.uint8, n * 3, pos).reshape(n, 3)
            pos += n * 3
        if ct is None:
            raise ValueError("no color table")
        if pos >= len(b):
            raise ValueError("truncated before LZW min code size")
        min_code_size = b[pos]
        if not 2 <= min_code_size <= 8:
            raise ValueError(f"GIF LZW minimum code size {min_code_size} outside 2..8")
        pos += 1
        data = bytearray()
        while pos < len(b) and b[pos] != 0:
            ln = b[pos]
            data += b[pos + 1 : pos + 1 + ln]
            pos += 1 + ln
        pos += 1  # sub-block terminator
        # `limit` stops the decode once w*h bytes exist, so corruption
        # in entropy data past that point goes unseen; accepted because
        # the cap is what bounds memory on adversarial rows, and the
        # first w*h bytes are still fully validated.
        idx = np.frombuffer(
            lzw_decode(bytes(data), min_code_size, limit=w * h), np.uint8
        )
        if idx.size < w * h:
            raise ValueError("LZW output shorter than w*h")
        idx = idx[: w * h]
        if int(idx.max(initial=0)) >= len(ct):
            raise ValueError("pixel index beyond color table")
        px = ct[idx].reshape(h, w, 3)
        if iflags & 0x40:  # interlaced: 4-pass row reorder
            order = (
                list(range(0, h, 8))
                + list(range(4, h, 8))
                + list(range(2, h, 4))
                + list(range(1, h, 2))
            )
            out = np.empty_like(px)
            out[np.array(order, dtype=np.int64)] = px
            return out
        return px
    raise ValueError("no image descriptor before trailer")


_L8K_GROUP = 254  # pixel codes between clear codes -> width stays 9 bits


def _synth_gif_exprs():
    """SQL column expressions building a valid single-frame GIF89a per
    doc_id. Pixel INDEX formula idx(x, y) = (doc_id*5 + x*3 + y*11) %
    256 over a formula-derived 256-entry global color table. The LZW
    stream uses the fixed-width trick: a clear code (256) before every
    <=254-pixel run keeps all codes at 9 bits, so symbol t of the
    stream maps to bits [9t, 9t+9) and byte j of the packed stream is
    closed-form integer algebra — no stateful encoder, nothing Python
    on the encode side. The decoder implements the FULL variable-width
    algorithm and must agree."""
    # symbol stream as array<int>: per group: 256 ++ pixels; then 257
    pix = "(doc_id * 5 + (k % __w) * 3 + (k div __w) * 11) % 256"
    symbols = (
        "concat(flatten(transform("
        f" sequence(0, CAST(ceil((__w * __h) / {_L8K_GROUP}.0) AS INT) - 1),"
        " g -> concat(array(256),"
        f"  transform(sequence(g * {_L8K_GROUP},"
        f"   least((g + 1) * {_L8K_GROUP}, __w * __h) - 1),"
        f"   k -> {pix})))), array(257))"
    )
    # 9-bit little-endian bit packing: bit t of the stream is bit
    # (t % 9) of symbol (t div 9); byte j packs bits 8j..8j+7
    bit = (
        "(CASE WHEN (8 * j + bb) div 9 < size(__sy)"
        " THEN (element_at(__sy, CAST((8 * j + bb) div 9 AS INT) + 1)"
        "       >> pmod(8 * j + bb, 9)) & 1 ELSE 0 END)"
    )
    packed = (
        "transform(sequence(0, CAST(ceil(size(__sy) * 9 / 8.0) AS INT) - 1),"
        f" j -> aggregate(sequence(0, 7), 0, (acc, bb) -> acc + ({bit} << bb)))"
    )
    to_bin = "unhex(concat_ws('', transform({arr}, v -> lpad(hex(v), 2, '0'))))"
    le16 = (
        "unhex(concat(substr(lpad(hex({v}), 4, '0'), 3, 2),"
        " substr(lpad(hex({v}), 4, '0'), 1, 2)))"
    )
    # 256-entry global color table from the palette formula
    gct = (
        "flatten(transform(sequence(0, 255), i ->"
        " array((i * 7 + 13) % 256, (i * 5 + 29) % 256, (i * 3 + 41) % 256)))"
    )
    # data sub-blocks: <=255-byte runs, each length-prefixed, 0 term.
    blocks = (
        "flatten(transform(sequence(0, CAST(ceil(size(__pk) / 255.0) AS INT) - 1),"
        " i -> concat(array(least(255, size(__pk) - i * 255)),"
        "             slice(__pk, i * 255 + 1, 255))))"
    )
    gif = (
        "concat(cast('GIF89a' AS BINARY),"
        f" {le16.format(v='__w')}, {le16.format(v='__h')},"
        " X'F70000',"  # GCT present, 256 entries; bg 0; aspect 0
        f" {to_bin.format(arr='__gct')},"
        " X'2C', X'00000000',"  # image descriptor at (0, 0)
        f" {le16.format(v='__w')}, {le16.format(v='__h')},"
        " X'00', X'08',"  # no local table; LZW min code size 8
        f" {to_bin.format(arr=blocks)}, X'00', X'3B')"
    )
    return {
        "w": "CAST(doc_id % 23 + 8 AS INT)",
        "h": "CAST(doc_id % 13 + 6 AS INT)",
        "symbols": symbols,
        "packed": packed,
        "gct": gct,
        "gif": gif,
    }


@register(
    "l8k_gif_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 23 + 8 AS w, doc_id % 13 + 6 AS h
  FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h,
         sum(((pal.pi * 7 + 13) % 256) + ((pal.pi * 5 + 29) % 256)
             + ((pal.pi * 3 + 41) % 256)) AS ps,
         sum((y.j * d.w * 3 + x.i * 3 + 1) * ((pal.pi * 7 + 13) % 256)
             + (y.j * d.w * 3 + x.i * 3 + 2) * ((pal.pi * 5 + 29) % 256)
             + (y.j * d.w * 3 + x.i * 3 + 3) * ((pal.pi * 3 + 41) % 256)) AS pw
  FROM dims d,
       (SELECT unnest(range(31)) AS i) x,
       (SELECT unnest(range(19)) AS j) y,
       LATERAL (SELECT (d.doc_id * 5 + x.i * 3 + y.j * 11) % 256 AS pi) pal
  WHERE x.i < d.w AND y.j < d.h
  GROUP BY d.doc_id, d.w, d.h
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(pw AS BIGINT) AS pos_sum
FROM px
ORDER BY doc_id
""",
)
def l8k_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode under a pixel-exact oracle: SQL-synthesized
    valid GIF89a blobs (global color table, length-prefixed sub-blocks,
    fixed-width LZW with interleaved clear codes, bits packed by SQL
    integer algebra) -> full dictionary-LZW decode + palette lookup in
    mapInPandas -> exact pixel and position-weighted sums, re-derived
    by DuckDB from the palette/index formulas alone."""
    e = _synth_gif_exprs()
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(e["w"]).alias("__w"),
            F.expr(e["h"]).alias("__h"),
        )
        # doc_id arithmetic makes the symbol values BIGINT; element_at
        # indices and the aggregate() accumulator both require INT, so
        # normalize the array once here (every value is < 512)
        .withColumn("__sy", F.expr(f"transform({e['symbols']}, s -> CAST(s AS INT))"))
        .withColumn("__pk", F.expr(e["packed"]))
        .withColumn("__gct", F.expr(e["gct"]))
        .select("doc_id", F.expr(e["gif"]).alias("blob"))
    )
    return _pixel_sums(docs, decode_gif)


# ---------------------------------------------------------------------------
# L8l: REAL baseline JPEG decode — after PNG (zlib) and GIF (LZW), the
# remaining image format. There is no stdlib entropy codec for JPEG,
# so the decoder implements the whole baseline pipeline from the spec:
# marker walk, DQT/DHT parsing, canonical Huffman table construction,
# MSB-first bit reading with 0xFF00 byte unstuffing, DC-difference +
# AC run/size coefficient decode, zigzag de-ordering, dequantization,
# and a real 8x8 inverse DCT (orthonormal cosine matrix, numpy).
#
# The SQL synthesizer exploits two spec freedoms to stay closed-form:
#   1. DHT lets the encoder define ITS OWN Huffman tables — a table of
#      fixed 8-bit codes is valid (12 DC categories and a lone EOB at
#      length 8), so every symbol is one literal byte in the stream;
#   2. blocks with only a DC coefficient need no AC coding — each
#      block is exactly 20 bits (8 code + 4 extra + 8 EOB), and the
#      paired +d/-d DC differences keep the predictor bounded.
# The MSB-first bit packing is then pure SQL integer algebra (the
# stream provably never produces a 0xFF byte, so no stuffing on the
# encode side — the DECODER still unstuffs, and pytest's independent
# encoder uses the standard Annex-K tables, real forward DCT and real
# stuffing to prove the general path).
# DuckDB derives the expected sums from the DC formula alone: even
# blocks decode to flat 128 + 2d, odd blocks to flat 128.
# ---------------------------------------------------------------------------
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _huffman_table(counts: list[int], symbols: bytes) -> dict[tuple[int, int], int]:
    """Canonical JPEG Huffman: {(length, code) -> symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _JpegBits(_BitReader):
    """JPEG entropy-segment reader: a 0xFF data byte carries a stuffed
    0x00 that is skipped; 0xFF followed by anything else is a marker."""

    def _byte(self) -> int:
        if self.pos >= len(self.data):
            raise ValueError("entropy stream exhausted")
        byte = self.data[self.pos]
        if byte == 0xFF:
            nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
            if nxt != 0x00:
                # a bare trailing 0xFF has no next byte to format
                tag = f"{nxt:02x}" if nxt is not None else "<EOF>"
                raise ValueError(f"unexpected marker 0xFF{tag} in scan")
        return byte

    def _stride(self, byte: int) -> int:
        return 2 if byte == 0xFF else 1

    def read_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bits(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in scan")


def _extend(v: int, cat: int) -> int:
    """JPEG magnitude-category decode: v (cat bits) -> signed value."""
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _parse_dqt(seg: bytes, qtables: dict) -> None:
    """DQT segment: 8-bit (pq=0) or 16-bit (pq=1) tables, stored in
    zigzag order as read."""
    import numpy as np

    i = 0
    while i < len(seg):
        pq, tq = seg[i] >> 4, seg[i] & 0x0F
        if pq == 0:
            qtables[tq] = np.frombuffer(seg, np.uint8, 64, i + 1).astype(
                np.int32
            )
            i += 65
        elif pq == 1:
            qtables[tq] = (
                np.frombuffer(seg, np.uint8, 128, i + 1)
                .astype(np.int32)
                .reshape(64, 2)
                @ np.array([256, 1], dtype=np.int32)
            )
            i += 129
        else:
            raise ValueError(f"invalid DQT precision {pq}")


def _parse_dht(seg: bytes, dc_tables: dict, ac_tables: dict) -> None:
    i = 0
    while i < len(seg):
        if i + 17 > len(seg):  # _huffman_table needs all 16 counts
            raise ValueError("truncated DHT segment")
        tc, th = seg[i] >> 4, seg[i] & 0x0F
        counts = list(seg[i + 1 : i + 17])
        n = sum(counts)
        syms = seg[i + 17 : i + 17 + n]
        if len(syms) < n:
            raise ValueError("truncated DHT symbol list")
        (dc_tables if tc == 0 else ac_tables)[th] = _huffman_table(counts, syms)
        i += 17 + n


def _parse_sof(seg: bytes) -> tuple[int, int, list]:
    """Shared SOF0/SOF2 frame-header parse. Length guards turn a
    truncated SOF into the ValueError the dispatch layer catches, not
    struct.error / IndexError.
    Returns (h, w, [(component id, hs, vs, tq), ...])."""
    import struct

    if len(seg) < 6:
        raise ValueError("truncated SOF segment")
    prec, h, w, ncomp = struct.unpack_from(">BHHB", seg, 0)
    if prec != 8:
        raise NotImplementedError(f"{prec}-bit precision")
    if ncomp not in (1, 3):
        raise NotImplementedError(f"{ncomp}-component JPEG (CMYK?)")
    if len(seg) < 6 + 3 * ncomp:
        raise ValueError("truncated SOF component list")
    if h == 0 or w == 0:
        raise ValueError("zero JPEG frame dimension")
    comps = [
        (seg[6 + 3 * ci], seg[7 + 3 * ci] >> 4,
         seg[7 + 3 * ci] & 0x0F, seg[8 + 3 * ci])
        for ci in range(ncomp)
    ]
    return h, w, comps


def decode_jpeg_gray(blob: bytes):
    """(h, w) uint8 pixels from a baseline sequential GRAYSCALE JPEG —
    kept as the l8l surface. Raises ValueError if handed a color JPEG
    (which decode_jpeg now handles); the general entry is decode_jpeg."""
    px = decode_jpeg(blob)
    if px.ndim != 2:
        raise ValueError("decode_jpeg_gray on a color JPEG; use decode_jpeg")
    return px


def decode_jpeg(blob: bytes):
    """(h, w) uint8 for grayscale or (h, w, 3) uint8 RGB for color
    baseline sequential JPEG — real entropy decode, stdlib+numpy only.
    Color: per-component DQT/DHT selection, one
    interleaved 3-component scan decoded MCU by MCU with generic
    integer sampling factors (4:4:4, 4:2:2 and the ubiquitous 4:2:0),
    per-component DC predictors, chroma upsample by pixel replication,
    JFIF YCbCr->RGB (see _ycbcr_to_rgb for the rounding contract).
    Progressive (SOF2) streams decode for real too: coefficients
    accumulate across spectral-selection / successive-approximation
    scans and IDCT once at EOI (_decode_jpeg_progressive). ValueError
    on malformed structure; NotImplementedError for extended/lossless
    coding, restart intervals, fractional sampling ratios, or
    component counts other than 1 and 3 (CMYK) — honest scope, not a
    fake."""
    import struct

    import numpy as np

    b = bytes(blob)
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, dict] = {}
    ac_tables: dict[int, dict] = {}
    frame = None
    progressive = False
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        ln = struct.unpack_from(">H", b, pos + 2)[0]
        seg = b[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qtables)
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, dc_tables, ac_tables)
        elif marker == 0xC0:  # SOF0 baseline
            frame = _parse_sof(seg)  # (h, w, comp spec triplets)
        elif marker == 0xC2:  # SOF2 progressive
            frame = _parse_sof(seg)
            progressive = True
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError("non-baseline JPEG (extended/lossless)")
        elif marker == 0xDD:  # DRI: some encoders emit interval 0,
            # which needs no restart support — only reject nonzero
            if len(seg) < 2:
                raise ValueError("short DRI segment")
            if struct.unpack_from(">H", seg, 0)[0]:
                raise NotImplementedError("restart intervals out of scope")
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            if progressive:
                return _decode_jpeg_progressive(
                    b, pos, frame, qtables, dc_tables, ac_tables
                )
            h, w, comps = frame
            if not seg:
                raise ValueError("truncated SOS header")
            ns = seg[0]
            if ns < 1 or ns > 4 or len(seg) < 4 + 2 * ns:
                raise ValueError("truncated SOS header")
            if ns != len(comps):
                raise NotImplementedError(
                    "multi-scan JPEG (partial-component scan)"
                )
            sel = {
                seg[1 + 2 * si]: (seg[2 + 2 * si] >> 4, seg[2 + 2 * si] & 0x0F)
                for si in range(ns)
            }
            specs = []
            for cid, hs, vs, tq in comps:
                if cid not in sel:
                    raise ValueError(f"scan missing component {cid}")
                td, ta = sel[cid]
                if tq not in qtables or td not in dc_tables or ta not in ac_tables:
                    raise ValueError("scan references missing table")
                specs.append((hs, vs, qtables[tq], dc_tables[td], ac_tables[ta]))
            planes = _decode_scan(b[pos + 2 + ln :], h, w, specs)
            if len(planes) == 1:
                return planes[0]
            return _ycbcr_to_rgb(*planes)
        pos += 2 + ln
    raise ValueError("no scan data before EOI")


def _idct_matrix():
    import numpy as np

    k = np.arange(8)
    m = np.cos((2 * k[:, None] + 1) * k[None, :] * np.pi / 16)  # (x, u)
    scale = np.full(8, np.sqrt(2 / 8.0))
    scale[0] = np.sqrt(1 / 8.0)
    return m * scale[None, :]


def _decode_block(r, q, dc_t, ac_t, pred, m):
    """One 8x8 block: Huffman DC diff + AC run/size decode, dequant,
    zigzag de-order, IDCT. Returns (uint8 8x8 pixels, new DC pred)."""
    import numpy as np

    zz = np.zeros(64, dtype=np.int32)
    cat = r.read_symbol(dc_t)
    if cat > 15:  # a corrupt DHT can map to any symbol byte,
        raise ValueError("invalid DC category")  # and read_bits(200)
    pred += _extend(r.read_bits(cat), cat)  # would overflow int32 below
    if pred.bit_length() > 24:  # valid 8-bit DC stays within +/-2047
        raise ValueError("DC predictor diverged")
    zz[0] = pred
    i = 1
    while i < 64:
        sym = r.read_symbol(ac_t)
        if sym == 0x00:  # EOB
            break
        run, size = sym >> 4, sym & 0x0F
        if sym == 0xF0:  # ZRL: sixteen zeros
            i += 16
            continue
        i += run
        if i > 63 or size == 0:
            raise ValueError("AC coefficient overruns block")
        zz[i] = _extend(r.read_bits(size), size)
        i += 1
    coeffs = np.zeros(64, dtype=np.int32)
    coeffs[_JPEG_ZIGZAG] = zz * q  # dequant, zigzag -> natural
    s = coeffs.reshape(8, 8).astype(np.float64)
    px = m @ s @ m.T  # 2-D type-III DCT (the IDCT of DCT-II)
    return np.clip(np.round(px + 128), 0, 255).astype(np.uint8), pred


def _decode_scan(scan, h, w, specs):
    """Decode one baseline scan into per-component full-resolution
    planes. ``specs`` = [(hs, vs, q, dc_table, ac_table), ...] in frame
    order. A single-component scan is NON-interleaved per the spec
    (F.2.2: the MCU is one block and sampling factors don't apply);
    a 3-component scan interleaves hs*vs blocks per component per MCU.
    Subsampled planes are cropped to their nominal ceil(dim*samp/max)
    size, then upsampled to (h, w) by pixel replication — the exact
    inverse of the block-mean downsample only where chroma is locally
    constant, which is the standard consumer-decoder behavior (no
    smoothing filter is mandated by the spec)."""
    import numpy as np

    r = _JpegBits(scan)
    m = _idct_matrix()
    if len(specs) == 1:
        specs = [(1, 1) + tuple(specs[0][2:])]  # sampling moot, F.2.2
    hmax = max(s[0] for s in specs)
    vmax = max(s[1] for s in specs)
    for hs, vs, *_ in specs:
        if hs < 1 or vs < 1 or hmax % hs or vmax % vs:
            raise NotImplementedError("fractional sampling ratio")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # Every block costs >= 2 entropy bits (DC code +
    # EOB), so a frame whose block count exceeds 4 bits-per-byte x the
    # scan length is structurally impossible — reject BEFORE allocating
    # plane buffers a corrupt 65535x65535 SOF would size at gigabytes.
    total_blocks = mcux * mcuy * sum(hs * vs for hs, vs, *_ in specs)
    if total_blocks > 4 * max(len(scan), 1):
        raise ValueError("entropy data too short for frame dimensions")
    if total_blocks > (1 << 22):  # ~268 Mpx: beyond this preview path
        raise NotImplementedError("JPEG beyond 2^22 blocks out of scope")
    planes = [
        np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.uint8)
        for hs, vs, *_ in specs
    ]
    preds = [0] * len(specs)
    for my in range(mcuy):
        for mx in range(mcux):
            for ci, (hs, vs, q, dc_t, ac_t) in enumerate(specs):
                for by in range(vs):
                    for bx in range(hs):
                        px, preds[ci] = _decode_block(
                            r, q, dc_t, ac_t, preds[ci], m
                        )
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = px
    return _jpeg_assemble(planes, [(s[0], s[1]) for s in specs], h, w, hmax, vmax)


def _jpeg_assemble(planes, samplings, h, w, hmax, vmax):
    """Crop each component's padded plane to its nominal size and
    upsample to (h, w) by pixel replication."""
    import numpy as np

    out = []
    for pl, (hs, vs) in zip(planes, samplings):
        cw = (w * hs + hmax - 1) // hmax
        chh = (h * vs + vmax - 1) // vmax
        pl = pl[:chh, :cw]
        if vs != vmax or hs != hmax:
            pl = np.repeat(np.repeat(pl, vmax // vs, axis=0), hmax // hs, axis=1)
        out.append(pl[:h, :w])
    return out


def _decode_jpeg_progressive(b, pos, frame, qtables, dc_tables, ac_tables):
    """Progressive (SOF2) decode: coefficients accumulate across
    scans in per-component zigzag buffers; dequant + IDCT run once at
    EOI. Implements the full scan grammar — interleaved DC scans,
    single-component AC scans over the component's own block raster,
    spectral selection (Ss..Se), successive approximation (first scans
    shift by Al, refinement scans add one magnitude bit), EOB runs, and
    DHT/DQT redefinition between scans. ``pos`` points at the first SOS
    marker; table dicts keep updating as the walk proceeds."""
    import struct

    import numpy as np

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for _cid, hs, vs, _tq in comps:
        if hs < 1 or vs < 1 or hmax % hs or vmax % vs:
            raise NotImplementedError("fractional sampling ratio")
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # As in _decode_scan: a complete first DC scan costs
    # >= 1 bit per block, so the grid can't exceed 8 bits-per-byte x the
    # remaining stream — reject before sizing gigabyte coef buffers
    # from a corrupt SOF2.
    total_blocks = mcux * mcuy * sum(c[1] * c[2] for c in comps)
    if total_blocks > 8 * max(len(b) - pos, 1):
        raise ValueError("entropy data too short for frame dimensions")
    # The data bound alone still admits coef buffers up to
    # 2048x the blob (256 B of int32 per block); an absolute cap keeps
    # the worst-case allocation at 256 MB. 2^20 blocks = 67 Mpx gray —
    # beyond any progressive JPEG this preview path should chew on.
    if total_blocks > (1 << 20):
        raise NotImplementedError(
            "progressive JPEG beyond 2^20 blocks out of scope"
        )
    ncomp = len(comps)
    coef = []
    bdims = []  # true (non-interleaved) block grid per component
    for _cid, hs, vs, _tq in comps:
        cw = (w * hs + hmax - 1) // hmax
        chh = (h * vs + vmax - 1) // vmax
        bdims.append(((chh + 7) // 8, (cw + 7) // 8))
        coef.append(np.zeros((mcuy * vs, mcux * hs, 64), dtype=np.int32))
    by_id = {c[0]: i for i, c in enumerate(comps)}
    saw_scan = False
    while pos + 2 <= len(b):
        if b[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > len(b):
            raise ValueError("truncated segment")
        ln = struct.unpack_from(">H", b, pos + 2)[0]
        seg = b[pos + 4 : pos + 2 + ln]
        if marker == 0xDB:
            _parse_dqt(seg, qtables)
        elif marker == 0xC4:
            _parse_dht(seg, dc_tables, ac_tables)
        elif marker == 0xDD:  # DRI(0) is a no-op; see baseline loop
            if len(seg) < 2:
                raise ValueError("short DRI segment")
            if struct.unpack_from(">H", seg, 0)[0]:
                raise NotImplementedError("restart intervals out of scope")
        elif marker == 0xDA:
            if not seg:
                raise ValueError("truncated SOS header")
            ns = seg[0]
            if ns < 1 or ns > 4 or len(seg) < 4 + 2 * ns:
                raise ValueError("truncated SOS header")
            sel = [
                (seg[1 + 2 * si], seg[2 + 2 * si] >> 4, seg[2 + 2 * si] & 0x0F)
                for si in range(ns)
            ]
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
            r = _JpegBits(b, pos + 2 + ln)
            _jpeg_progressive_scan(
                r, comps, by_id, sel, ss, se, ah, al,
                coef, bdims, mcux, mcuy, dc_tables, ac_tables,
            )
            saw_scan = True
            r.align()  # padding bits up to the next marker
            pos = r.pos
            continue
        pos += 2 + ln
    if not saw_scan:
        raise ValueError("no scan data before EOI")
    # dequant + IDCT + assemble
    m = _idct_matrix()
    planes = []
    for ci, (_cid, hs, vs, tq) in enumerate(comps):
        if tq not in qtables:
            raise ValueError("frame references missing quant table")
        q = qtables[tq]
        gh, gw = coef[ci].shape[:2]
        pl = np.zeros((gh * 8, gw * 8), dtype=np.uint8)
        for by in range(gh):
            for bx in range(gw):
                nat = np.zeros(64, dtype=np.int32)
                nat[_JPEG_ZIGZAG] = coef[ci][by, bx] * q
                s = nat.reshape(8, 8).astype(np.float64)
                px = np.clip(np.round(m @ s @ m.T + 128), 0, 255)
                pl[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = px.astype(
                    np.uint8
                )
        planes.append(pl)
    planes = _jpeg_assemble(
        planes, [(c[1], c[2]) for c in comps], h, w, hmax, vmax
    )
    if ncomp == 1:
        return planes[0]
    return _ycbcr_to_rgb(*planes)


def _jpeg_progressive_scan(
    r, comps, by_id, sel, ss, se, ah, al,
    coef, bdims, mcux, mcuy, dc_tables, ac_tables,
):
    """Decode one progressive scan into the coefficient buffers."""
    if ss == 0 and se != 0:
        raise ValueError("DC scan with nonzero spectral end")
    if ss > 0 and len(sel) != 1:
        raise ValueError("interleaved AC scan is illegal in progressive")
    if ss > 63 or se > 63 or se < ss:
        raise ValueError("invalid spectral selection")
    if ss == 0:  # DC scan, possibly interleaved
        idxs = []
        tables = []
        for cs, td, _ta in sel:
            if cs not in by_id:
                raise ValueError(f"scan references unknown component {cs}")
            ci = by_id[cs]
            idxs.append(ci)
            if ah == 0:
                if td not in dc_tables:
                    raise ValueError("scan references missing DC table")
                tables.append(dc_tables[td])
            else:
                tables.append(None)  # refinement reads raw bits only
        preds = [0] * len(sel)
        if len(sel) > 1:  # interleaved over the MCU grid
            for my in range(mcuy):
                for mx in range(mcux):
                    for si, ci in enumerate(idxs):
                        _cid, hs, vs, _tq = comps[ci]
                        for byy in range(vs):
                            for bxx in range(hs):
                                preds[si] = _jpeg_dc_unit(
                                    r, coef[ci], my * vs + byy,
                                    mx * hs + bxx, tables[si],
                                    preds[si], ah, al,
                                )
        else:  # single component: its own block raster
            ci = idxs[0]
            bh, bw = bdims[ci]
            for byy in range(bh):
                for bxx in range(bw):
                    preds[0] = _jpeg_dc_unit(
                        r, coef[ci], byy, bxx, tables[0], preds[0], ah, al
                    )
        return
    # AC scan: single component, raster over its true block grid
    cs, _td, ta = sel[0]
    if cs not in by_id:
        raise ValueError(f"scan references unknown component {cs}")
    ci = by_id[cs]
    if ta not in ac_tables:
        raise ValueError("scan references missing AC table")
    ac_t = ac_tables[ta]
    bh, bw = bdims[ci]
    eobrun = 0
    for byy in range(bh):
        for bxx in range(bw):
            zz = coef[ci][byy, bxx]
            if ah == 0:
                eobrun = _jpeg_ac_first(r, zz, ss, se, al, ac_t, eobrun)
            else:
                eobrun = _jpeg_ac_refine(r, zz, ss, se, al, ac_t, eobrun)


def _jpeg_dc_unit(r, cbuf, by, bx, dc_t, pred, ah, al):
    if ah == 0:  # first scan: category-coded diff of (dc >> al)
        cat = r.read_symbol(dc_t)
        if cat > 15:  # see _decode_block
            raise ValueError("invalid DC category")
        pred += _extend(r.read_bits(cat), cat)
        # valid 8-bit DC stays within +/-2047 and Al <= 13 (24 bits
        # shifted); reject anything the int32 coef buffer can't hold
        if pred.bit_length() + al > 30:
            raise ValueError("DC predictor diverged")
        cbuf[by, bx, 0] = pred << al
    else:  # refinement: one magnitude bit
        if r.read_bits(1):
            cbuf[by, bx, 0] |= 1 << al
    return pred


def _jpeg_ac_first(r, zz, ss, se, al, ac_t, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = r.read_symbol(ac_t)
        run, size = sym >> 4, sym & 0x0F
        if size == 0:
            if run < 15:  # EOBn: this block ends, plus 2^run-1+extra more
                eobrun = (1 << run) - 1
                if run:
                    eobrun += r.read_bits(run)
                return eobrun
            k += 16  # ZRL
            continue
        k += run
        if k > se:
            raise ValueError("AC coefficient overruns spectral band")
        zz[k] = _extend(r.read_bits(size), size) << al
        k += 1
    return 0


def _jpeg_ac_refine(r, zz, ss, se, al, ac_t, eobrun):
    """Successive-approximation AC refinement: history-nonzero
    coefficients receive one correction bit each as the run pointer
    passes them; zero-history runs and EOB runs count only zero-history
    positions (the G.1.2.3 grammar)."""
    bit = 1 << al

    def correct(k):
        if r.read_bits(1) and not (zz[k] & bit):
            zz[k] += bit if zz[k] > 0 else -bit

    k = ss
    if eobrun == 0:
        while k <= se:
            sym = r.read_symbol(ac_t)
            run, size = sym >> 4, sym & 0x0F
            newval = 0
            if size == 0:
                if run < 15:
                    eobrun = 1 << run
                    if run:
                        eobrun += r.read_bits(run)
                    break  # rest of block handled by the EOB path below
                # ZRL: pass 16 zero-history coefficients
            else:
                if size != 1:
                    raise ValueError("invalid refinement magnitude size")
                newval = bit if r.read_bits(1) else -bit
            while k <= se:
                if zz[k] != 0:
                    correct(k)
                else:
                    if run == 0:
                        if newval:
                            zz[k] = newval
                        k += 1
                        break
                    run -= 1
                k += 1
    if eobrun > 0:
        while k <= se:  # correction bits only, to the end of the band
            if zz[k] != 0:
                correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _ycbcr_to_rgb(y, cb, cr):
    """JFIF full-range YCbCr -> RGB: R = Y + 1.402 Cr', G = Y -
    0.344136 Cb' - 0.714136 Cr', B = Y + 1.772 Cb' (Cx' = Cx - 128).
    Rounding contract: floor(x + 0.5) — round-half-UP, not numpy's
    banker's rounding — chosen because it matches SQL round() (half
    away from zero) for every non-negative value, and negatives only
    arise where the clip to 0 swallows the half-case difference; the
    l8o oracle space is additionally verified half-free by test."""
    import numpy as np

    yf = y.astype(np.float64)
    cbf = cb.astype(np.float64) - 128.0
    crf = cr.astype(np.float64) - 128.0
    rgb = np.stack(
        [
            yf + 1.402 * crf,
            yf - 0.344136 * cbf - 0.714136 * crf,
            yf + 1.772 * cbf,
        ],
        axis=-1,
    )
    return np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)


_JPEG_TO_BIN = "unhex(concat_ws('', transform({arr}, v -> lpad(hex(v), 2, '0'))))"
_JPEG_BE16 = "unhex(lpad(hex({v}), 4, '0'))"


def _jpeg_table_segments() -> tuple[str, str]:
    """The DQT/DHT segment SQL shared by the gray (l8l) and color (l8o)
    synthesizers. DQT: one all-16 table (id 0); DHT: DC table 0 with 12
    category symbols at length 8, AC table 0 with the lone EOB at
    length 8 — every symbol is one literal byte in the stream."""
    dqt = "concat(X'FFDB', X'0043', X'00', " + _JPEG_TO_BIN.format(
        arr="transform(sequence(0, 63), i -> 16)"
    ) + ")"
    # 16 count bytes exactly (7 zero lengths, the count at length 8,
    # 8 zero lengths) — an off-by-one-byte table shifts every following
    # field, so the literals are built and length-asserted here
    dc_counts = "00" * 7 + "0C" + "00" * 8  # 12 codes at length 8
    ac_counts = "00" * 7 + "01" + "00" * 8  # 1 code at length 8
    assert len(dc_counts) == 32 and len(ac_counts) == 32
    dht = (
        "concat(X'FFC4', X'001F', X'00',"
        f" X'{dc_counts}',"
        " X'000102030405060708090A0B',"  # DC category symbols 0..11
        " X'FFC4', X'0014', X'10',"
        f" X'{ac_counts}',"
        " X'00')"  # the EOB symbol
    )
    return dqt, dht


def _synth_jpeg_exprs():
    """SQL column expressions building a valid baseline grayscale JPEG
    per doc_id. All-8-bit Huffman tables declared in DHT make every
    symbol a literal byte; blocks carry only a DC coefficient, in
    PAIRED differences (+d then -d, d = (doc_id*3 + (k div 2)*5) % 8
    + 8) so even blocks decode to flat 128 + 2d and odd blocks to flat
    128 with the all-16 quant table (dc * 16 / 8 = 2 * dc). Each block
    is exactly 20 bits; the MSB-first packing is closed-form, and no
    byte of the stream can be 0xFF (the only 1-runs are the <=4 extra
    bits, bounded by zeros), so no stuffing arises on this path."""
    # per-block DC diff magnitude and extra-bits value. Category-4
    # magnitude coding: positive diff d (8..15) -> the 4 low bits of d
    # itself (top bit set, decodes as +d); negative -d -> 15 - d
    # (decodes as v - 2^4 + 1 = -d)
    d = "((doc_id * 3 + (k div 2) * 5) % 256 % 8 + 8)"
    e = f"(CASE WHEN pmod(k, 2) = 0 THEN {d} ELSE 15 - {d} END)"
    # bit t of the entropy stream: block k = t div 20, r = t mod 20
    bit = (
        "(CASE WHEN pmod(t, 20) < 8 THEN (4 >> (7 - pmod(t, 20))) & 1"
        f" WHEN pmod(t, 20) < 12 THEN ({e.replace('k', '(t div 20)')}"
        " >> (11 - pmod(t, 20))) & 1"
        " ELSE 0 END)"
    )
    # MSB-first packing with 1-padding past the stream end
    # CAST to INT: the doc_id arithmetic inside the bit expression
    # promotes everything to BIGINT, but aggregate()'s accumulator is
    # typed by its INT zero-start (the l8k lesson, same fix)
    byte = (
        "aggregate(sequence(0, 7), 0, (acc, bb) ->"
        " acc * 2 + CAST(CASE WHEN 8 * j + bb < 20 * __nb"
        f" THEN {bit.replace('t', '(8 * j + bb)')} ELSE 1 END AS INT))"
    )
    packed = (
        "transform(sequence(0, CAST(ceil(20 * __nb / 8.0) AS INT) - 1),"
        f" j -> {byte})"
    )
    to_bin = _JPEG_TO_BIN
    be16 = _JPEG_BE16
    dqt, dht = _jpeg_table_segments()
    sof = (
        "concat(X'FFC0', X'000B', X'08',"
        f" {be16.format(v='__h')}, {be16.format(v='__w')},"
        " X'01', X'01', X'11', X'00')"
    )
    sos = "concat(X'FFDA', X'0008', X'01', X'01', X'00', X'003F00')"
    jpeg = (
        f"concat(X'FFD8', {dqt}, {dht}, {sof}, {sos},"
        f" {to_bin.format(arr='__pk')}, X'FFD9')"
    )
    return {
        "w": "CAST(8 * (doc_id % 3 + 1) AS INT)",
        "h": "CAST(8 * (doc_id % 2 + 1) AS INT)",
        "nblocks": "CAST((__w div 8) * (__h div 8) AS INT)",
        "packed": packed,
        "jpeg": jpeg,
    }


@register(
    "l8l_jpeg_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id,
         8 * (doc_id % 3 + 1) AS w, 8 * (doc_id % 2 + 1) AS h
  FROM documents
), blocks AS (
  SELECT d.doc_id, d.w, d.h, b.k,
         CASE WHEN b.k % 2 = 0
              THEN 128 + 2 * ((d.doc_id * 3 + (b.k // 2) * 5) % 256 % 8 + 8)
              ELSE 128 END AS val,
         (b.k // (d.w // 8)) * 8 AS y0,
         (b.k % (d.w // 8)) * 8 AS x0
  FROM dims d, (SELECT unnest(range(6)) AS k) b
  WHERE b.k < (d.w // 8) * (d.h // 8)
), px AS (
  SELECT doc_id, w, h,
         sum(64 * val) AS ps,
         -- position-weighted: sum over the flat block of
         -- ((y0+dy)*w + (x0+dx) + 1) * val, closed form:
         -- 64*(y0*w + x0 + 1) + w*sum(dy)*8 + sum(dx)*8, sum(0..7)=28
         sum(val * (64 * (y0 * w + x0 + 1) + 224 * w + 224)) AS pw
  FROM blocks
  GROUP BY doc_id, w, h
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(pw AS BIGINT) AS pos_sum
FROM px
ORDER BY doc_id
""",
)
def l8l_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode under an exact oracle: SQL-synthesized
    valid grayscale JPEGs (self-declared all-8-bit Huffman tables,
    DC-only blocks, closed-form MSB-first packing) -> full baseline
    decode in mapInPandas (canonical Huffman, unstuffing, zigzag,
    dequant, real 8x8 IDCT) -> exact pixel and position-weighted sums,
    re-derived by DuckDB from the DC formula alone."""
    e = _synth_jpeg_exprs()
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(e["w"]).alias("__w"),
            F.expr(e["h"]).alias("__h"),
        )
        .withColumn("__nb", F.expr(e["nblocks"]))
        .withColumn("__pk", F.expr(e["packed"]))
        .select("doc_id", F.expr(e["jpeg"]).alias("blob"))
    )
    return _pixel_sums(docs, decode_jpeg_gray)


# ---------------------------------------------------------------------------
# L8o: COLOR baseline JPEG (real-world JPEG corpora are overwhelmingly
# color 4:2:0). The decoder side is fully general (decode_jpeg: interleaved
# 3-component MCU walk, per-component tables and DC predictors, chroma
# replication upsample, JFIF YCbCr->RGB); the SQL synthesizer keeps the
# l8l closed-form trick per component: all-8-bit Huffman tables,
# DC-only blocks in PAIRED differences. 4:2:0 makes each MCU exactly
# 6 blocks x 20 bits = 120 bits = 15 BYTES — byte-aligned, so the
# packing needs no end padding and provably never emits 0xFF.
# Per MCU k: Y diffs (+d,-d,+d,-d) -> quadrants 0/2 flat 128+2d,
# 1/3 flat 128; chroma diffs pair ACROSS MCUs (+c at even k, -c at
# odd) -> Cb/Cr flat 128+2c / 128 per whole MCU. Every 8x8 pixel
# region is therefore flat in RGB and DuckDB re-derives exact channel
# and position-weighted sums from the DC formulas + the JFIF matrix.
# The parameter space is verified HALF-FREE (test), so numpy
# floor(x+0.5) and SQL round() agree on every value; the pytest
# encoder covers the general path (real chroma ACs, stuffing).
# ---------------------------------------------------------------------------
def _jpeg_color_extra_expr(bk: str) -> str:
    """The 4 DC extra bits for global block index ``bk`` (a SQL string):
    MCU k = bk div 6, slot s = pmod(bk, 6) (0-3 Y quadrants, 4 Cb,
    5 Cr). Category-4 magnitude coding: +v -> the 4 low bits of v (top
    bit set); -v -> 15 - v. Shared by the baseline (l8o, 20-bit blocks)
    and progressive (l8q, 12-bit DC-scan blocks) synthesizers."""
    k = f"({bk} div 6)"
    s = f"pmod({bk}, 6)"
    p = f"({k} div 2)"
    dd = f"((doc_id * 3 + {k} * 5) % 8 + 8)"
    cc = f"((doc_id * 5 + {p} * 7) % 8 + 8)"
    rr = f"((doc_id * 7 + {p} * 11) % 8 + 8)"
    return (
        f"(CASE WHEN {s} <= 3 THEN"
        f" (CASE WHEN pmod({s}, 2) = 0 THEN {dd} ELSE 15 - {dd} END)"
        f" WHEN {s} = 4 THEN"
        f" (CASE WHEN pmod({k}, 2) = 0 THEN {cc} ELSE 15 - {cc} END)"
        f" ELSE (CASE WHEN pmod({k}, 2) = 0 THEN {rr} ELSE 15 - {rr} END)"
        " END)"
    )


def _synth_jpeg_color_exprs():
    """SQL column expressions building a valid baseline 4:2:0 COLOR
    JPEG per doc_id. Scan bit t: block bk = t div 20, MCU k = bk div
    6, slot s = pmod(bk, 6) (0-3 Y quadrants, 4 Cb, 5 Cr); within a
    block: 8-bit DC category code (0x04), 4 extra bits, 8-bit EOB."""
    e = _jpeg_color_extra_expr("((t) div 20)")
    bit = (
        "(CASE WHEN pmod((t), 20) < 8 THEN (4 >> (7 - pmod((t), 20))) & 1"
        f" WHEN pmod((t), 20) < 12 THEN ({e} >> (11 - pmod((t), 20))) & 1"
        " ELSE 0 END)"
    )
    # byte-aligned stream: 15 bytes per MCU, no padding branch needed
    byte = (
        "aggregate(sequence(0, 7), 0, (acc, bb) ->"
        f" acc * 2 + CAST({bit.replace('(t)', '(8 * j + bb)')} AS INT))"
    )
    packed = f"transform(sequence(0, 15 * __nm - 1), j -> {byte})"
    dqt, dht = _jpeg_table_segments()
    sof = (
        "concat(X'FFC0', X'0011', X'08',"
        f" {_JPEG_BE16.format(v='__h')}, {_JPEG_BE16.format(v='__w')},"
        " X'03', X'012200', X'021100', X'031100')"
    )
    sos = "concat(X'FFDA', X'000C', X'03', X'0100', X'0200', X'0300', X'003F00')"
    jpeg = (
        f"concat(X'FFD8', {dqt}, {dht}, {sof}, {sos},"
        f" {_JPEG_TO_BIN.format(arr='__pk')}, X'FFD9')"
    )
    return {
        "w": "CAST(16 * (doc_id % 3 + 1) AS INT)",
        "h": "CAST(16 * (doc_id % 2 + 1) AS INT)",
        "nmcus": "CAST((__w div 16) * (__h div 16) AS INT)",
        "packed": packed,
        "jpeg": jpeg,
    }


# Shared by l8o (baseline) and l8q (progressive): both synthesize the
# SAME image content, so one oracle verifies both decodings.
_JPEG_COLOR_ORACLE = """
WITH dims AS (
  SELECT doc_id, 16 * (doc_id % 3 + 1) AS w, 16 * (doc_id % 2 + 1) AS h
  FROM documents
), mcus AS (
  SELECT d.doc_id, d.w, d.h, m.k,
         (d.doc_id * 3 + m.k * 5) % 8 + 8 AS dd,
         CASE WHEN m.k % 2 = 0
              THEN (d.doc_id * 5 + (m.k // 2) * 7) % 8 + 8 ELSE 0 END AS cc,
         CASE WHEN m.k % 2 = 0
              THEN (d.doc_id * 7 + (m.k // 2) * 11) % 8 + 8 ELSE 0 END AS rr,
         (m.k // (d.w // 16)) * 16 AS y0m,
         (m.k % (d.w // 16)) * 16 AS x0m
  FROM dims d, (SELECT unnest(range(6)) AS k) m
  WHERE m.k < (d.w // 16) * (d.h // 16)
), blocks AS (
  SELECT doc_id, w, h,
         CASE WHEN q.q IN (0, 2) THEN 128 + 2 * dd ELSE 128 END AS yv,
         cc, rr,
         y0m + (q.q // 2) * 8 AS y0,
         x0m + (q.q % 2) * 8 AS x0
  FROM mcus, (SELECT unnest(range(4)) AS q) q
), px AS (
  SELECT doc_id, w, h,
         round(yv + 2.804 * rr) AS rv,
         round(yv - 0.688272 * cc - 1.428272 * rr) AS gv,
         round(yv + 3.544 * cc) AS bv,
         64 * (y0 * w + x0 + 1) + 224 * w + 224 AS posf
  FROM blocks
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(sum(64 * rv) AS BIGINT) AS r_sum,
       CAST(sum(64 * gv) AS BIGINT) AS g_sum,
       CAST(sum(64 * bv) AS BIGINT) AS b_sum,
       CAST(sum(rv * posf) AS BIGINT) AS pos_r,
       CAST(sum(bv * posf) AS BIGINT) AS pos_b
FROM px
GROUP BY doc_id, w, h
ORDER BY doc_id
"""


@register("l8o_jpeg_color_decode", oracle=_JPEG_COLOR_ORACLE)
def l8o_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL color (4:2:0 YCbCr) baseline JPEG decode under an exact
    oracle: SQL-synthesized valid color JPEGs (DC-only paired diffs per
    component, byte-aligned 15-byte MCUs) -> full interleaved-MCU
    baseline decode in mapInPandas (per-component predictors, chroma
    replication upsample, JFIF YCbCr->RGB) -> exact per-channel and
    position-weighted sums, re-derived by DuckDB from the DC formulas
    and the JFIF matrix alone."""
    import pandas as pd

    e = _synth_jpeg_color_exprs()
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(e["w"]).alias("__w"),
            F.expr(e["h"]).alias("__h"),
        )
        .withColumn("__nm", F.expr(e["nmcus"]))
        .withColumn("__pk", F.expr(e["packed"]))
        .select("doc_id", F.expr(e["jpeg"]).alias("blob"))
    )
    return _jpeg_color_sums(docs)


def _jpeg_color_sums(docs: DataFrame) -> DataFrame:
    """Shared l8o/l8q decode stage: (doc_id, blob) -> per-channel and
    position-weighted sums via decode_jpeg inside mapInPandas."""
    import pandas as pd

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("r_sum", LongType()),
            StructField("g_sum", LongType()),
            StructField("b_sum", LongType()),
            StructField("pos_r", LongType()),
            StructField("pos_b", LongType()),
        ]
    )

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ws, hs, r_s, g_s, b_s, prs, pbs = [], [], [], [], [], [], []
            for blob in pdf["blob"]:
                px = decode_jpeg(blob).astype(np.int64)
                h, w = px.shape[:2]
                idx = np.arange(1, h * w + 1).reshape(h, w)
                ws.append(w)
                hs.append(h)
                r_s.append(int(px[:, :, 0].sum()))
                g_s.append(int(px[:, :, 1].sum()))
                b_s.append(int(px[:, :, 2].sum()))
                prs.append(int((px[:, :, 0] * idx).sum()))
                pbs.append(int((px[:, :, 2] * idx).sum()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": pd.Series(ws, dtype="int32"),
                    "height": pd.Series(hs, dtype="int32"),
                    "r_sum": pd.Series(r_s, dtype="int64"),
                    "g_sum": pd.Series(g_s, dtype="int64"),
                    "b_sum": pd.Series(b_s, dtype="int64"),
                    "pos_r": pd.Series(prs, dtype="int64"),
                    "pos_b": pd.Series(pbs, dtype="int64"),
                }
            )

    return docs.mapInPandas(decode_batch, out_schema).orderBy("doc_id")


def _synth_jpeg_prog_exprs():
    """SQL column expressions building a valid PROGRESSIVE (SOF2)
    4:2:0 color JPEG per doc_id carrying the SAME image as l8o. Four
    scans, every one byte-aligned:
    - scan 1: DC first, interleaved, Al=0 — per block the 8-bit
      category code (0x04) + 4 extra bits = 12 bits, 6 blocks/MCU ->
      exactly 9 bytes per MCU;
    - scans 2-4: AC first per component over Ss=1..Se=63 — every block
      is DC-only, so each emits one EOB, and with the all-8-bit AC
      table an EOB is the single byte 0x00: the scan body is just
      repeat('00', n_blocks)."""
    e = _jpeg_color_extra_expr("((t) div 12)")
    bit = (
        "(CASE WHEN pmod((t), 12) < 8 THEN (4 >> (7 - pmod((t), 12))) & 1"
        f" ELSE ({e} >> (11 - pmod((t), 12))) & 1 END)"
    )
    byte = (
        "aggregate(sequence(0, 7), 0, (acc, bb) ->"
        f" acc * 2 + CAST({bit.replace('(t)', '(8 * j + bb)')} AS INT))"
    )
    dc_scan = f"transform(sequence(0, 9 * __nm - 1), j -> {byte})"
    dqt, dht = _jpeg_table_segments()
    sof2 = (
        "concat(X'FFC2', X'0011', X'08',"
        f" {_JPEG_BE16.format(v='__h')}, {_JPEG_BE16.format(v='__w')},"
        " X'03', X'012200', X'021100', X'031100')"
    )
    sos_dc = "concat(X'FFDA', X'000C', X'03', X'0100', X'0200', X'0300', X'000000')"

    def sos_ac(cid: int) -> str:
        return f"concat(X'FFDA', X'0008', X'01', X'0{cid}00', X'013F00')"

    jpeg = (
        f"concat(X'FFD8', {dqt}, {dht}, {sof2},"
        f" {sos_dc}, {_JPEG_TO_BIN.format(arr='__dc')},"
        f" {sos_ac(1)}, unhex(repeat('00', 4 * __nm)),"
        f" {sos_ac(2)}, unhex(repeat('00', __nm)),"
        f" {sos_ac(3)}, unhex(repeat('00', __nm)),"
        " X'FFD9')"
    )
    return {
        "w": "CAST(16 * (doc_id % 3 + 1) AS INT)",
        "h": "CAST(16 * (doc_id % 2 + 1) AS INT)",
        "nmcus": "CAST((__w div 16) * (__h div 16) AS INT)",
        "dc_scan": dc_scan,
        "jpeg": jpeg,
    }


@register("l8q_jpeg_progressive_decode", oracle=_JPEG_COLOR_ORACLE)
def l8q_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive JPEG decode under an exact oracle: the l8o
    image re-encoded as a four-scan SOF2 stream (interleaved DC first
    scan + per-component EOB-only AC scans, all byte-aligned closed
    forms) -> coefficient-accumulation decode across scans in
    mapInPandas -> the SAME per-channel/position sums the l8o oracle
    re-derives, so baseline and progressive decodings cross-check each
    other. The pytest encoder covers the paths this synthesis never
    produces (successive approximation, refinement, ZRL, EOB runs)."""
    e = _synth_jpeg_prog_exprs()
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(e["w"]).alias("__w"),
            F.expr(e["h"]).alias("__h"),
        )
        .withColumn("__nm", F.expr(e["nmcus"]))
        .withColumn("__dc", F.expr(e["dc_scan"]))
        .select("doc_id", F.expr(e["jpeg"]).alias("blob"))
    )
    return _jpeg_color_sums(docs)


# ---------------------------------------------------------------------------
# L8p: REAL FLAC decode — the one feasible audio codec: pure integer
# Rice + fixed/LPC prediction, no stdlib entropy layer needed. The
# decoder implements the subset a lossless 16-bit corpus needs from the
# public spec (RFC 9639): fLaC metadata walk, STREAMINFO, frame-header
# parse (all blocksize/rate codes, UTF-8-coded frame numbers, CRC-8
# verify), subframe types CONSTANT / VERBATIM / FIXED 0-4 / LPC 1-32,
# Rice residual partitions (4- and 5-bit params, raw escape), wasted
# bits, the three stereo decorrelation modes (left/right/mid-side), and
# frame CRC-16 verify — so a corrupted container or a bit-slipped
# stream raises, never mis-decodes. The SQL synthesizer emits valid
# mono 16-bit streams via VERBATIM subframes: with blocksize 256 and a
# 1-byte UTF-8 frame number, EVERY field is byte-aligned, so the whole
# file is closed-form
# byte algebra — including the spec's CRC-8 (poly 0x07) and CRC-16
# (poly 0x8005), folded in SQL with nested aggregate() so the decoder's
# verification pins the SQL CRCs against Python's. pytest's independent
# encoder covers the paths SQL never produces: FIXED/LPC prediction,
# real Rice coding with partitions, stereo decorrelation, escapes.
# ---------------------------------------------------------------------------
_FLAC_BLOCKSIZE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}


def _crc8(data: bytes) -> int:
    """FLAC frame-header CRC: poly 0x07, init 0."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


_CRC16_TBL: list[int] = []


def _crc16(data: bytes) -> int:
    """FLAC frame CRC: poly 0x8005, init 0 (table-driven)."""
    if not _CRC16_TBL:
        for b in range(256):
            crc = b << 8
            for _ in range(8):
                crc = (
                    ((crc << 1) ^ 0x8005) & 0xFFFF
                    if crc & 0x8000
                    else (crc << 1) & 0xFFFF
                )
            _CRC16_TBL.append(crc)
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TBL[(crc >> 8) ^ b]
    return crc


def _flac_utf8_number(r: _BitReader) -> int:
    """The frame header's UTF-8-style coded number (up to 36 bits)."""
    b0 = r.read_bits(8)
    if b0 < 0x80:
        return b0
    n = 0
    while b0 & (0x80 >> n):
        n += 1
    if n < 2 or n > 7:
        raise ValueError("invalid UTF-8-coded frame number")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = r.read_bits(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid UTF-8 continuation in frame number")
        v = (v << 6) | (c & 0x3F)
    return v


def _flac_residual(r: _BitReader, order: int, blocksize: int) -> list[int]:
    method = r.read_bits(2)
    if method > 1:
        raise ValueError("reserved residual coding method")
    plen = 4 + method
    porder = r.read_bits(4)
    nparts = 1 << porder
    # first partition carries (blocksize >> porder) - order residuals;
    # blocksize > order must hold at porder 0 too, or the channels come
    # out ragged
    if blocksize % nparts or (blocksize >> porder) <= order:
        raise ValueError("invalid Rice partition order")
    out: list[int] = []
    for p in range(nparts):
        n = (blocksize >> porder) - (order if p == 0 else 0)
        param = r.read_bits(plen)
        if param == (1 << plen) - 1:  # escape: raw fixed-width residuals
            raw = r.read_bits(5)
            out.extend(r.read_signed(raw) if raw else 0 for _ in range(n))
        else:
            for _ in range(n):
                q = r.read_unary()
                u = (q << param) | (r.read_bits(param) if param else 0)
                out.append((u >> 1) ^ -(u & 1))  # unzigzag
    return out


_FLAC_FIXED_COEF = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_subframe(r: _BitReader, blocksize: int, bps: int) -> list[int]:
    if r.read_bits(1):
        raise ValueError("invalid subframe padding bit")
    t = r.read_bits(6)
    wasted = 0
    if r.read_bits(1):
        wasted = 1 + r.read_unary()
        bps -= wasted
    if t == 0:  # CONSTANT
        out = [r.read_signed(bps)] * blocksize
    elif t == 1:  # VERBATIM
        out = [r.read_signed(bps) for _ in range(blocksize)]
    elif 8 <= t <= 12:  # FIXED order 0-4
        order = t - 8
        out = [r.read_signed(bps) for _ in range(order)]
        coefs = _FLAC_FIXED_COEF[order]
        for res in _flac_residual(r, order, blocksize):
            i = len(out)
            pred = sum(c * out[i - 1 - j] for j, c in enumerate(coefs))
            out.append(res + pred)
    elif t >= 32:  # LPC order 1-32
        order = t - 31
        out = [r.read_signed(bps) for _ in range(order)]
        prec = r.read_bits(4)
        if prec == 0x0F:
            raise ValueError("invalid LPC precision")
        prec += 1
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        for res in _flac_residual(r, order, blocksize):
            i = len(out)
            pred = sum(c * out[i - 1 - j] for j, c in enumerate(coefs)) >> shift
            out.append(res + pred)
    else:
        raise ValueError(f"reserved subframe type {t}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def decode_flac(blob: bytes):
    """(sample_rate, n_channels, samples[(n, ch) int32]) from a FLAC
    stream — real Rice/LPC decode, stdlib+numpy only, CRC-verified.
    ValueError on malformed structure or CRC mismatch."""
    import numpy as np

    b = bytes(blob)
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC)")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(b):
            raise ValueError("truncated metadata block header")
        last, btype = b[pos] & 0x80, b[pos] & 0x7F
        ln = int.from_bytes(b[pos + 1 : pos + 4], "big")
        if btype == 0:  # STREAMINFO
            si = b[pos + 4 : pos + 4 + ln]
            if len(si) < 34:
                raise ValueError("short STREAMINFO")
            packed = int.from_bytes(si[10:18], "big")
            info = (
                packed >> 44,  # sample rate
                ((packed >> 41) & 0x7) + 1,  # channels
                ((packed >> 36) & 0x1F) + 1,  # bits per sample
                packed & ((1 << 36) - 1),  # total samples
            )
        elif btype == 127:
            raise ValueError("invalid metadata block type 127")
        pos += 4 + ln
        if last:
            break
    if info is None:
        raise ValueError("missing STREAMINFO")
    rate0, nch, bps0, _total = info
    chans: list[list[int]] = [[] for _ in range(nch)]
    while pos < len(b):
        if pos + 2 > len(b):
            raise ValueError("truncated frame header")
        if b[pos] != 0xFF or (b[pos + 1] >> 2) != 0x3E:
            raise ValueError(f"lost frame sync at {pos}")
        if b[pos + 1] & 0x02:
            raise ValueError("reserved frame-header bit set")
        r = _BitReader(b, pos + 2)
        bs_code = r.read_bits(4)
        sr_code = r.read_bits(4)
        ca = r.read_bits(4)
        ss_code = r.read_bits(3)
        if r.read_bits(1):
            raise ValueError("reserved frame-header bit set")
        _num = _flac_utf8_number(r)
        if bs_code == 0:
            raise ValueError("reserved blocksize code 0")
        elif bs_code == 6:
            blocksize = r.read_bits(8) + 1
        elif bs_code == 7:
            blocksize = r.read_bits(16) + 1
        else:
            blocksize = _FLAC_BLOCKSIZE[bs_code]
        if sr_code == 12:
            _rate = r.read_bits(8) * 1000
        elif sr_code == 13:
            _rate = r.read_bits(16)
        elif sr_code == 14:
            _rate = r.read_bits(16) * 10
        elif sr_code == 15:
            raise ValueError("invalid sample rate code")
        bps = bps0 if ss_code == 0 else _FLAC_BPS.get(ss_code)
        if bps is None:
            raise ValueError("reserved sample size code")
        if _crc8(b[pos : r.pos]) != r.read_bits(8):
            raise ValueError("frame header CRC-8 mismatch")
        if ca < 8:
            if ca + 1 != nch:
                raise ValueError("frame/STREAMINFO channel mismatch")
            subs = [_flac_subframe(r, blocksize, bps) for _ in range(nch)]
        elif ca in (8, 9, 10):
            if nch != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            s0 = _flac_subframe(r, blocksize, bps + (1 if ca == 9 else 0))
            s1 = _flac_subframe(r, blocksize, bps + (0 if ca == 9 else 1))
            if ca == 8:  # left/side: R = L - side
                subs = [s0, [left - side for left, side in zip(s0, s1)]]
            elif ca == 9:  # side/right: L = side + R
                subs = [[side + rt for side, rt in zip(s0, s1)], s1]
            else:  # mid/side
                subs = [[], []]
                for mid, side in zip(s0, s1):
                    m2 = (mid << 1) | (side & 1)
                    subs[0].append((m2 + side) >> 1)
                    subs[1].append((m2 - side) >> 1)
        else:
            raise ValueError("reserved channel assignment")
        r.align()
        if _crc16(b[pos : r.pos]) != r.read_bits(16):
            raise ValueError("frame CRC-16 mismatch")
        for ci in range(nch):
            chans[ci].extend(subs[ci])
        # a crafted stream of constant subframes expands ~30000:1
        # (65535 samples from ~10 bytes/frame) — no relative bound
        # catches that, so cap total decoded bytes.
        if len(chans[0]) * nch * 8 > _MAX_DECODED_BYTES:
            raise ValueError("FLAC decoded size exceeds cap")
        pos = r.pos
    return rate0, nch, np.array(chans, dtype=np.int64).T


def _synth_flac_exprs():
    """SQL column expressions building a valid mono 16-bit FLAC stream
    per doc_id: __nf frames of blocksize 256 with VERBATIM subframes.
    Frame layout (all byte-aligned): FF F8 89 08 [frame#] [CRC-8] 02
    [256 x 2-byte big-endian samples] [CRC-16]. Sample t (global) has
    the l8h WAV formula's unsigned pattern (doc_id*13 + t*9) % 65536,
    read back signed. The CRC folds run in SQL over the same byte
    arrays the stream is built from, so the decoder's mandatory CRC
    verification pins SQL's arithmetic against Python's."""
    # header bytes: sync FF F8; blocksize code 8 (=256) | rate code 9
    # (=44100) -> 0x89; channels 0000 | bps code 100 (16-bit) | 0 -> 0x08
    u = "pmod(doc_id * 13 + (f * 256 + tt) * 9, 65536)"
    fb = (
        "concat("
        " array(255, 248, 137, 8, f,"
        "  aggregate(array(255, 248, 137, 8, f), 0, (c8, b8) ->"
        "   aggregate(sequence(0, 7), c8 ^ b8, (a8, i8) ->"
        "    CASE WHEN (a8 & 128) > 0 THEN ((a8 * 2) & 255) ^ 7"
        "         ELSE (a8 * 2) & 255 END)),"
        "  2),"
        # CAST to INT: doc_id arithmetic makes the sample bytes BIGINT,
        # but the CRC folds' accumulators are typed by their INT
        # zero-start (the l8k aggregate lesson)
        f" flatten(transform(sequence(0, 255), tt ->"
        f"  array(CAST({u} div 256 AS INT), CAST({u} % 256 AS INT)))))"
    )
    crc16 = (
        "aggregate(fb, 0, (c16, b16) ->"
        " aggregate(sequence(0, 7), c16 ^ (b16 * 256), (a16, i16) ->"
        "  CASE WHEN (a16 & 32768) > 0 THEN ((a16 * 2) & 65535) ^ 32773"
        "       ELSE (a16 * 2) & 65535 END))"
    )
    frames = (
        f"flatten(transform(transform(sequence(0, __nf - 1), f -> {fb}),"
        f" fb -> concat(fb, array({crc16} div 256, {crc16} % 256))))"
    )
    to_bin = "unhex(concat_ws('', transform({arr}, v -> lpad(hex(v), 2, '0'))))"
    # STREAMINFO packed tail: rate 44100 (20b) | ch-1=0 (3b) |
    # bps-1=15 (5b) | total samples (36b)
    base = (44100 << 44) | (15 << 36)
    streaminfo = (
        "concat(X'664C6143', X'80', X'000022',"
        " X'01000100', X'000000000000',"
        f" unhex(lpad(hex({base} + 256 * __nf), 16, '0')),"
        " X'00000000000000000000000000000000')"
    )
    flac = f"concat({streaminfo}, {to_bin.format(arr=frames)})"
    return {
        "nf": "CAST(doc_id % 3 + 1 AS INT)",
        "flac": flac,
    }


@register(
    "l8p_flac_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, 256 * (doc_id % 3 + 1) AS n FROM documents
), smp AS (
  SELECT d.doc_id, d.n,
         CASE WHEN (d.doc_id * 13 + t.t * 9) % 65536 >= 32768
              THEN (d.doc_id * 13 + t.t * 9) % 65536 - 65536
              ELSE (d.doc_id * 13 + t.t * 9) % 65536 END AS v
  FROM dims d, (SELECT unnest(range(768)) AS t) t
  WHERE t.t < d.n
)
SELECT doc_id,
       CAST(44100 AS INT) AS sample_rate,
       CAST(n AS BIGINT) AS n_samples,
       CAST(sum(v) AS BIGINT) AS sample_sum,
       CAST(max(abs(v)) AS INT) AS peak
FROM smp
GROUP BY doc_id, n
ORDER BY doc_id
""",
)
def l8p_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC decode under an exact oracle: SQL-synthesized valid
    mono 16-bit FLAC streams (VERBATIM subframes, SQL-folded CRC-8 and
    CRC-16 that the decoder VERIFIES) -> full Rice/LPC-capable decode
    in mapInPandas -> exact count/sum/peak, re-derived by DuckDB from
    the sample formula alone."""
    import pandas as pd

    e = _synth_flac_exprs()
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(e["nf"]).alias("__nf"))
        .select("doc_id", F.expr(e["flac"]).alias("blob"))
    )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_samples", LongType()),
            StructField("sample_sum", LongType()),
            StructField("peak", IntegerType()),
        ]
    )

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            srs, ns, sums, peaks = [], [], [], []
            for blob in pdf["blob"]:
                sr, _nch, smp = decode_flac(blob)
                srs.append(sr)
                ns.append(smp.shape[0])
                sums.append(int(smp.sum()))
                peaks.append(int(np.abs(smp).max()))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "sample_rate": pd.Series(srs, dtype="int32"),
                    "n_samples": pd.Series(ns, dtype="int64"),
                    "sample_sum": pd.Series(sums, dtype="int64"),
                    "peak": pd.Series(peaks, dtype="int32"),
                }
            )

    return docs.mapInPandas(decode_batch, out_schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# S21: gzip-compressed text ingestion — the source format a real 100 TB
# text corpus actually arrives in (WARC/jsonl.gz shards). The corpus
# column is synthesized as REAL gzip members IN SQL, reusing the l8j
# deflate machinery: 10-byte header, stored-deflate blocks (multi-block
# for texts past the 65535-byte stored-block cap), and the trailer's
# CRC-32 (JVM crc32() — stdlib gzip VERIFIES it on decode, pinning
# Spark's CRC against Python's zlib a second way) + ISIZE. The decode
# stage is one Arrow mapInPandas over stdlib gzip.decompress; the
# DuckDB oracle computes the byte/token stats from the PLAIN text, so
# a corrupted container, a wrong CRC, or a lossy round-trip cannot
# match. Scale shape: decode-on-read is map-only; at 100 TB the blobs
# arrive via the l8e pointer pattern and each shard decompresses
# inside its own task.
# ---------------------------------------------------------------------------
_GZ_BLOCK = 65535


def _synth_gzip_exprs():
    """SQL column expressions building a real gzip member per doc from
    its text column. Stored-deflate blocks carry the UTF-8 text bytes
    verbatim; hdr/trailer per RFC 1952 (mtime 0, OS 255)."""
    le16 = (
        "unhex(concat(substr(lpad(hex({v}), 4, '0'), 3, 2),"
        " substr(lpad(hex({v}), 4, '0'), 1, 2)))"
    )
    le32 = (
        "unhex(concat(substr(lpad(hex({v}), 8, '0'), 7, 2),"
        " substr(lpad(hex({v}), 8, '0'), 5, 2),"
        " substr(lpad(hex({v}), 8, '0'), 3, 2),"
        " substr(lpad(hex({v}), 8, '0'), 1, 2)))"
    )
    nb = "length(__tb)"
    blk_len = f"least({_GZ_BLOCK}, {nb} - i * {_GZ_BLOCK})"
    # greatest(.., 0): empty text gives ceil(0)-1 = -1 and Spark's
    # sequence(0, -1) is a DESCENDING [0, -1] (the arrayfold lesson) —
    # clamp to one iteration, which emits the legal empty final
    # stored block (BFINAL=1, LEN=0)
    blocks = (
        f"transform(sequence(0, greatest("
        f"CAST(ceil({nb} / {_GZ_BLOCK}.0) AS INT) - 1, 0)),"
        " i -> concat("
        f"  CASE WHEN (i + 1) * {_GZ_BLOCK} >= {nb} THEN X'01' ELSE X'00' END,"
        f"  {le16.format(v=blk_len)},"
        f"  {le16.format(v=f'65535 - ({blk_len})')},"
        f"  substr(__tb, i * {_GZ_BLOCK} + 1, {_GZ_BLOCK})))"
    )
    # fold the block array into one binary (aggregate with binary acc)
    body = f"aggregate({blocks}, CAST('' AS BINARY), (acc, b) -> concat(acc, b))"
    gz = (
        "concat(X'1F8B08000000000000FF',"
        f" {body},"
        f" {le32.format(v='crc32(__tb)')},"
        f" {le32.format(v=f'pmod({nb}, 4294967296)')})"
    )
    return {"text_bytes": "CAST(text AS BINARY)", "gzip": gz}


_S21_MAX_TEXT = 256 << 20  # one doc's text can't legitimately exceed 256 MiB


def gunzip_stats(blob: bytes) -> tuple[int, int, str | None]:
    """(n_bytes, n_tokens, text_md5) for one gzip payload (one or more
    concatenated members); the per-row core of s21. Corrupt payloads —
    truncated archives, bad CRC/ISIZE trailers, broken deflate
    streams, non-UTF-8 text, and decompression bombs past
    ``_S21_MAX_TEXT`` — degrade to (0, 0, None) instead of raising:
    real gzip corpora rot, and one bad member must not kill the task
    ingesting its batch (same corrupt-row doctrine as dispatch_media;
    see SCALE.md). Decompression is output-capped member by member:
    ``gzip.decompress`` has no cap, so a few-MB authored bomb would
    inflate to multi-GB before any catchable error fired."""
    import hashlib
    import zlib

    data = bytes(blob)
    if not data:
        return (0, 0, None)
    out = bytearray()
    try:
        while data:
            d = zlib.decompressobj(31)  # gzip wrapper: CRC-32 + ISIZE
            out += d.decompress(data, _S21_MAX_TEXT + 1 - len(out))
            if len(out) > _S21_MAX_TEXT:
                return (0, 0, None)  # bomb: degrade, don't inflate
            if not d.eof:
                return (0, 0, None)  # truncated member
            data = d.unused_data
        text = bytes(out)
        n_tokens = len(text.decode("utf-8").split(" "))
    except (zlib.error, UnicodeDecodeError):
        return (0, 0, None)
    return (len(text), n_tokens, hashlib.md5(text).hexdigest())


@register(
    "s21_gzip_text_scan",
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       md5(text) AS text_md5
FROM documents
ORDER BY doc_id
""",
)
def s21_gzip_text_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzip-compressed corpus ingestion under an exact oracle: the
    corpus text is packed into REAL gzip members in SQL (stored-deflate
    + JVM-crc32 trailer), decompressed worker-side with stdlib gzip
    (which verifies CRC-32 and ISIZE), and reduced to byte/token/md5
    stats the DuckDB oracle re-derives from the uncompressed text."""
    import pandas as pd

    e = _synth_gzip_exprs()
    docs = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.expr(e["text_bytes"]).alias("__tb"))
        .select("doc_id", F.expr(e["gzip"]).alias("blob"))
    )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_bytes", LongType()),
            StructField("n_tokens", LongType()),
            StructField("text_md5", StringType()),
        ]
    )

    def decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            nb, nt, md = [], [], []
            for blob in pdf["blob"]:
                b, t, m = gunzip_stats(blob)
                nb.append(b)
                nt.append(t)
                md.append(m)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pd.Series(nb, dtype="int64"),
                    "n_tokens": pd.Series(nt, dtype="int64"),
                    "text_md5": md,
                }
            )

    return docs.mapInPandas(decode_batch, out_schema).orderBy("doc_id")


# ---------------------------------------------------------------------------
# L8m: REAL TIFF decode — completes the image-format set. Uncompressed
# baseline TIFF is a pure byte layout (header, IFD tag walk, strip
# table), so the decoder needs no entropy codec at all; what it DOES
# need is a faithful IFD implementation: little- vs big-endian files,
# SHORT/LONG value types, inline-vs-offset values (a value field holds
# the VALUE when it fits in 4 bytes and an OFFSET otherwise — the
# classic TIFF-reader bug), multi-strip assembly, and gray vs RGB.
# The SQL synthesizer emits multi-strip little-endian grayscale files
# (strip tables always out-of-line: RowsPerStrip=4 and h>=5 force >=2
# strips, so the offset form is the only legal one); pytest's
# independent encoder covers big-endian, RGB and inline values.
# ---------------------------------------------------------------------------
def _tiff_packbits(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF compression 32773): n<128 -> n+1 literals;
    n>128 -> next byte repeated 257-n times; n==128 -> noop."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError("PackBits literal run overruns strip")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("PackBits repeat run overruns strip")
            out += bytes([data[i]]) * (257 - n)
            i += 1
    return bytes(out)


def _tiff_lzw(data: bytes, limit: int | None = None) -> bytes:
    """TIFF LZW (compression 5): codes packed MSB-first, and the
    spec's 'early change': the encoder widens when its table reaches
    2^width (code 511 is already written with 10 bits), and the
    decoder's table runs one entry behind, so it widens at 2^width - 1
    (libtiff tif_lzw.c: ``free_ent > nbitsmask - 1``)."""
    r = _BitReader(data)

    def read_code(width: int) -> int | None:
        if 8 * (len(data) - r.pos) - r.bit < width:
            return None
        return r.read_bits(width)

    return _lzw(read_code, 8, 1, limit)


def decode_tiff(blob: bytes):
    """(h, w) uint8 grayscale or (h, w, 3) uint8 RGB pixels from an
    8-bit baseline TIFF (II or MM). Strip compressions handled for
    real: none (1), LZW (5, MSB-first early-change), Deflate
    (8 / legacy 32946, stdlib zlib), PackBits (32773); plus the
    horizontal-differencing predictor (tag 317 = 2) LZW/Deflate files
    almost always pair with, and 8-bit palette files (photometric 3,
    ColorMap tag, 16-bit entries scaled to 8). ValueError on
    malformed structure; NotImplementedError for tiled or non-8-bit
    files and JPEG-in-TIFF."""
    import struct

    import numpy as np

    b = bytes(blob)
    if len(b) < 8 or b[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF header")
    e = "<" if b[:2] == b"II" else ">"
    magic, ifd_off = struct.unpack_from(e + "HI", b, 2)
    if magic != 42:
        raise ValueError("bad TIFF magic")
    if ifd_off + 2 > len(b):
        raise ValueError("truncated IFD offset")
    (n_entries,) = struct.unpack_from(e + "H", b, ifd_off)
    tags: dict[int, list[int]] = {}
    type_size = {1: 1, 3: 2, 4: 4}
    type_fmt = {1: "B", 3: "H", 4: "I"}
    for i in range(n_entries):
        off = ifd_off + 2 + 12 * i
        if off + 12 > len(b):
            raise ValueError("truncated IFD entry")
        tag, typ, cnt = struct.unpack_from(e + "HHI", b, off)
        if typ not in type_size:
            continue  # rational/ascii tags: irrelevant here, skip
        total = type_size[typ] * cnt
        # THE inline-vs-offset rule: value field IS the value iff it fits
        if total <= 4:
            vals = struct.unpack_from(e + type_fmt[typ] * cnt, b, off + 8)
        else:
            (voff,) = struct.unpack_from(e + "I", b, off + 8)
            if voff + total > len(b):
                raise ValueError(f"tag {tag} value overruns file")
            vals = struct.unpack_from(e + type_fmt[typ] * cnt, b, voff)
        if vals:  # a cnt=0 entry reads as missing, not as an empty
            tags[tag] = list(vals)  # list one() would index

    def one(tag, default=None):
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"required TIFF tag {tag} missing")
        return default

    w, h = one(256), one(257)
    comp = one(259, 1)
    if comp not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(f"TIFF compression {comp} out of scope")
    photo = one(262)
    spp = one(277, 1)
    bits = tags.get(258, [8])
    if set(bits) != {8}:
        raise NotImplementedError(f"non-8-bit TIFF samples {bits}")
    cmap = None
    if photo == 3:  # paletted: ColorMap = 3 x 2^bits 16-bit rows
        if 320 not in tags:
            raise ValueError("paletted TIFF without ColorMap")
        cm = tags[320]
        if len(cm) != 3 * 256:
            raise ValueError(f"ColorMap length {len(cm)} != 768")
        cmap = np.array(cm, dtype=np.uint16).reshape(3, 256).T
    if 322 in tags or 323 in tags:
        raise NotImplementedError("tiled TIFF out of scope")
    if spp not in (1, 3):
        raise NotImplementedError(f"{spp} samples per pixel")
    predictor = one(317, 1)
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    rps = one(278, h)
    if w * h * spp > _MAX_DECODED_BYTES:
        raise ValueError("TIFF decoded size exceeds cap")
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing/mismatched strip tables")
    data = bytearray()
    for si, (o, c) in enumerate(zip(offsets, counts)):
        if o + c > len(b):
            raise ValueError("strip overruns file")
        raw = b[o : o + c]
        rows = min(rps, h - rps * si)
        expected = rows * w * spp
        # TIFF has no chunk CRCs, so the bomb guard runs
        # both directions — a header-implied strip size beyond the
        # codec's expansion ceiling can't be legitimate (huge-dims,
        # tiny-data), and the decompressors are output-capped at
        # `expected` (small-dims, bomb-data: a 10 MB zeros-stream must
        # not inflate to 10 GB inside a Spark task). The ceiling is
        # PER-CODEC: deflate tops out at 1032:1, LZW with 12-bit codes
        # over a 4094-entry table reaches ~2730:1 (a 2048x2048
        # constant-gray LZW TIFF measures ~1050:1), PackBits 128:1,
        # and uncompressed strips never expand.
        ceiling = {1: 1, 5: 2730, 32773: 128}.get(comp, 1032)
        if expected > ceiling * len(raw) + 4096:
            raise ValueError("strip dimensions implausible for data size")
        cap = max(expected, 1)  # zlib treats max_length=0 as unlimited
        if comp == 1:
            strip = raw
        elif comp == 5:
            strip = _tiff_lzw(raw, limit=cap)
        elif comp in (8, 32946):
            import zlib

            try:
                strip = zlib.decompressobj().decompress(raw, cap)
            except zlib.error as exc:  # not a ValueError
                raise ValueError(f"bad deflate strip: {exc}") from exc
        else:  # 32773
            strip = _tiff_packbits(raw, expected)
        if len(strip) < expected:
            raise ValueError("strip decodes short")
        data += strip[:expected]
    need = w * h * spp
    if len(data) < need:
        raise ValueError("strips shorter than w*h*spp")
    px = np.frombuffer(bytes(data), np.uint8, need)
    if spp == 1:
        px = px.reshape(h, w)
    else:
        px = px.reshape(h, w, 3)
    if predictor == 2:  # horizontal differencing: undo by row cumsum
        px = np.cumsum(px.astype(np.int64), axis=1).astype(np.uint8)
    if photo == 0:  # WhiteIsZero: invert to the BlackIsZero convention
        px = 255 - px
    if cmap is not None:  # index -> 16-bit colormap, scaled to 8-bit
        px = (cmap[px.reshape(h, w)] >> 8).astype(np.uint8)
    return px


_L8M_RPS = 4  # RowsPerStrip in the synthetic corpus


def _synth_tiff_exprs():
    """SQL column expressions for a multi-strip little-endian grayscale
    TIFF per doc. Layout is closed-form: header 8B, IFD at 8 with nine
    12-byte entries (2+108+4 = 114B), strip-offset and strip-count
    LONG arrays at 122 and 122+4S, pixel strips from 122+8S with strip
    i at +4*w*i (every strip except the last is exactly 4 rows)."""
    le16 = (
        "unhex(concat(substr(lpad(hex({v}), 4, '0'), 3, 2),"
        " substr(lpad(hex({v}), 4, '0'), 1, 2)))"
    )
    le32 = (
        "unhex(concat(substr(lpad(hex({v}), 8, '0'), 7, 2),"
        " substr(lpad(hex({v}), 8, '0'), 5, 2),"
        " substr(lpad(hex({v}), 8, '0'), 3, 2),"
        " substr(lpad(hex({v}), 8, '0'), 1, 2)))"
    )

    def entry_short(tag: int, val: str) -> str:
        return (
            f"concat({le16.format(v=str(tag))}, {le16.format(v='3')},"
            f" {le32.format(v='1')}, {le16.format(v=val)}, X'0000')"
        )

    def entry_longs(tag: int, cnt: str, off: str) -> str:
        return (
            f"concat({le16.format(v=str(tag))}, {le16.format(v='4')},"
            f" {le32.format(v=cnt)}, {le32.format(v=off)})"
        )

    s = "__s"  # strip count column
    # Odd doc_ids carry DEFLATE strips (compression 8) — each strip
    # its own zlib stream (header 0x7801, one stored block, Adler-32
    # folded in SQL over the strip's pixel formula), so the compressed
    # path is verified end-to-end under the same oracle. A stored-
    # deflate strip is exactly raw+11 bytes, keeping every offset
    # closed-form. Even doc_ids stay raw (compression 1).
    deflate = "pmod(doc_id, 2) = 1"
    comp_val = f"(CASE WHEN {deflate} THEN 8 ELSE 1 END)"
    pad = f"(CASE WHEN {deflate} THEN 11 ELSE 0 END)"
    ifd = "concat(" + ", ".join(
        [
            le16.format(v="9"),
            entry_short(256, "__w"),
            entry_short(257, "__h"),
            entry_short(258, "8"),
            entry_short(259, comp_val),
            entry_short(262, "1"),
            entry_longs(273, s, "122"),
            entry_short(277, "1"),
            entry_short(278, str(_L8M_RPS)),
            entry_longs(279, s, f"122 + 4 * {s}"),
            le32.format(v="0"),  # next-IFD pointer: none
        ]
    ) + ")"
    off_arr = (
        f"transform(sequence(0, {s} - 1),"
        f" i -> 122 + 8 * {s} + (4 * __w + {pad}) * i)"
    )
    cnt_arr = (
        f"transform(sequence(0, {s} - 1),"
        f" i -> __w * least({_L8M_RPS}, __h - {_L8M_RPS} * i) + {pad})"
    )
    to_le32_bin = (
        "unhex(concat_ws('', transform({arr}, v ->"
        " concat(substr(lpad(hex(v), 8, '0'), 7, 2),"
        " substr(lpad(hex(v), 8, '0'), 5, 2),"
        " substr(lpad(hex(v), 8, '0'), 3, 2),"
        " substr(lpad(hex(v), 8, '0'), 1, 2)))))"
    )
    pixels = (
        "unhex(concat_ws('', transform(sequence(0, __w * __h - 1),"
        " k -> lpad(hex(pmod(doc_id * 7 + (k % __w) * 5 + (k div __w) * 3,"
        " 256)), 2, '0'))))"
    )
    # deflate body: per strip i, one zlib stream around a single stored
    # block. Pixel value at strip-local index j: row = 4i + j div w,
    # col = pmod(j, w). Adler-32 folded in SQL: A = (1 + sum v) mod
    # 65521, B = (n + sum (n - j) * v) mod 65521 — the decoder's zlib
    # VERIFIES it, pinning the SQL fold against Python's.
    n_i = f"(__w * least({_L8M_RPS}, __h - {_L8M_RPS} * i))"
    v_j = (
        f"pmod(doc_id * 7 + pmod(j, __w) * 5"
        f" + ({_L8M_RPS} * i + j div __w) * 3, 256)"
    )
    adler_a = (
        f"pmod(1 + aggregate(sequence(0, {n_i} - 1), 0L,"
        f" (sa, j) -> sa + {v_j}), 65521)"
    )
    adler_b = (
        f"pmod({n_i} + aggregate(sequence(0, {n_i} - 1), 0L,"
        f" (sb, j) -> sb + ({n_i} - j) * {v_j}), 65521)"
    )
    zstrip = (
        f"concat(X'780101', {le16.format(v=n_i)},"
        f" {le16.format(v=f'65535 - {n_i}')},"
        f" substr(__px, {_L8M_RPS} * __w * i + 1, {n_i}),"
        f" unhex(lpad(hex({adler_b} * 65536 + {adler_a}), 8, '0')))"
    )
    zbody = (
        f"aggregate(transform(sequence(0, {s} - 1), i -> {zstrip}),"
        " CAST('' AS BINARY), (acc, bv) -> concat(acc, bv))"
    )
    tiff = (
        f"concat(X'49492A00', {le32.format(v='8')},"
        f" {ifd},"
        f" {to_le32_bin.format(arr=off_arr)},"
        f" {to_le32_bin.format(arr=cnt_arr)},"
        f" CASE WHEN {deflate} THEN {zbody} ELSE __px END)"
    )
    return {
        "w": "CAST(doc_id % 19 + 4 AS INT)",
        "h": "CAST(doc_id % 15 + 5 AS INT)",
        "strips": f"CAST(ceil(__h / {_L8M_RPS}.0) AS INT)",
        "pixels": pixels,
        "tiff": tiff,
    }


@register(
    "l8m_tiff_decode",
    oracle="""
WITH dims AS (
  SELECT doc_id, doc_id % 19 + 4 AS w, doc_id % 15 + 5 AS h
  FROM documents
), px AS (
  SELECT d.doc_id, d.w, d.h,
         sum((d.doc_id * 7 + x.i * 5 + y.j * 3) % 256) AS ps,
         sum((y.j * d.w + x.i + 1)
             * ((d.doc_id * 7 + x.i * 5 + y.j * 3) % 256)) AS pw
  FROM dims d,
       (SELECT unnest(range(23)) AS i) x,
       (SELECT unnest(range(20)) AS j) y
  WHERE x.i < d.w AND y.j < d.h
  GROUP BY d.doc_id, d.w, d.h
)
SELECT doc_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(ps AS BIGINT) AS pixel_sum,
       CAST(pw AS BIGINT) AS pos_sum
FROM px
ORDER BY doc_id
""",
)
def l8m_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode under an exact oracle: SQL-synthesized
    multi-strip little-endian grayscale TIFFs (full IFD with nine tags,
    out-of-line strip tables; odd doc_ids carry DEFLATE-compressed
    strips as SQL-built zlib streams with SQL-folded Adler-32) ->
    IFD walk + per-strip decompression + assembly in mapInPandas ->
    exact pixel and position-weighted sums, re-derived by DuckDB from
    the pixel formula alone."""
    e = _synth_tiff_exprs()
    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(e["w"]).alias("__w"),
            F.expr(e["h"]).alias("__h"),
        )
        .withColumn("__s", F.expr(e["strips"]))
        .withColumn("__px", F.expr(e["pixels"]))
        .select("doc_id", F.expr(e["tiff"]).alias("blob"))
    )
    return _pixel_sums(docs, decode_tiff)


def dispatch_media(blob: bytes) -> tuple[str, int, int]:
    """Sniff-and-route one blob to its real decoder; the per-row core
    of l8n and the robustness boundary for heterogeneous corpora.

    Returns (fmt, n_units, val_sum): decoded pixel/sample count and
    value sum for every format this module decodes (ppm/bmp/png/gif/
    jpeg/tiff pixels, wav/flac samples, y4m lumas). Unknown magics
    degrade to ("unknown", 0, 0) via ``sniff_media``; a blob whose
    magic sniffs but whose body fails its decoder degrades to
    ("corrupt", 0, 0) — a 100 TB bucket always carries truncated and
    bit-rotted rows, and one such row must not kill the Spark task
    hosting the batch (tools/fuzz_multimodal.py and
    tests/test_multimodal_sniff.py pin this)."""
    import numpy as np

    fmt, _, _ = sniff_media(blob)
    try:
        if fmt in ("ppm", "bmp", "png", "gif", "jpeg", "tiff"):
            # jpeg/tiff keep their native shape: decode_pixels would
            # triple a gray image's units by stacking it to RGB
            decode = {"jpeg": decode_jpeg, "tiff": decode_tiff}.get(fmt, decode_pixels)
            px = decode(blob)
            return (fmt, int(px.size), int(px.reshape(-1).astype(np.int64).sum()))
        if fmt == "wav":
            _rate, _ch, smp = decode_audio(blob)
            # IEEE-float WAVs may carry NaN/Inf or finite values past
            # int64 (1e300 is a valid sample bit pattern), where the
            # int64 cast is undefined; 2^31 is above any PCM range
            if smp.dtype.kind == "f" and not (
                np.isfinite(smp).all()
                and (smp.size == 0 or np.abs(smp).max() <= 2**31)
            ):
                return ("corrupt", 0, 0)
            return (fmt, int(smp.size), int(smp.astype(np.int64).sum()))
        if fmt == "flac":  # decode_flac always returns int64 samples
            _rate, _nch, smp = decode_flac(blob)
            return (fmt, int(smp.size), int(smp.reshape(-1).astype(np.int64).sum()))
        if fmt == "y4m":
            _w, _h, frames = decode_y4m(blob)
            return (fmt, int(frames.size), int(frames.reshape(-1).astype(np.int64).sum()))
    except (ValueError, NotImplementedError):
        return ("corrupt", 0, 0)
    return (fmt, 0, 0)  # sniffable but not decodable here (ogg/pdf/...)


# ---------------------------------------------------------------------------
# L8n: mixed-format media dispatch — the heterogeneous-corpus shape a
# real 100 TB media bucket has. No single-format query exercises the
# ROUTING: one mapInPandas stage sniffs each blob's magic and
# dispatches to the matching real decoder (PPM pixels / PCM WAV
# samples / TIFF strips / color-JPEG MCUs), emitting a
# modality-normalized feature row. The corpus interleaves all four
# formats by doc_id % 4 (each blob synthesized by the same SQL
# machinery its dedicated query uses), and the oracle re-derives fmt,
# unit count and value sum per doc from the formulas — a mis-sniffed
# or mis-routed row cannot match.
# ---------------------------------------------------------------------------
@register(
    "l8n_media_dispatch",
    oracle=f"""
WITH ppm AS (
  SELECT d.doc_id, 'ppm' AS fmt,
         CAST((d.doc_id % 37 + 4) * (d.doc_id % 29 + 4) * 3 AS BIGINT) AS n_units,
         CAST(sum((d.doc_id * 7 + x.i * 3 + y.j * 5 + c.k) % 256) AS BIGINT) AS val_sum
  FROM documents d,
       (SELECT unnest(range(41)) AS i) x,
       (SELECT unnest(range(33)) AS j) y,
       (SELECT unnest(range(3)) AS k) c
  WHERE d.doc_id % 4 = 0
    AND x.i < d.doc_id % 37 + 4 AND y.j < d.doc_id % 29 + 4
  GROUP BY d.doc_id
), wav AS (
  SELECT d.doc_id, 'wav' AS fmt,
         CAST(d.doc_id % 200 + 50 AS BIGINT) AS n_units,
         CAST(sum(CASE WHEN (d.doc_id * 13 + i.i * 9) % 65536 >= 32768
                       THEN (d.doc_id * 13 + i.i * 9) % 65536 - 65536
                       ELSE (d.doc_id * 13 + i.i * 9) % 65536 END) AS BIGINT) AS val_sum
  FROM documents d, (SELECT unnest(range(250)) AS i) i
  WHERE d.doc_id % 4 = 1 AND i.i < d.doc_id % 200 + 50
  GROUP BY d.doc_id
), tif AS (
  SELECT d.doc_id, 'tiff' AS fmt,
         CAST((d.doc_id % 19 + 4) * (d.doc_id % 15 + 5) AS BIGINT) AS n_units,
         CAST(sum((d.doc_id * 7 + x.i * 5 + y.j * 3) % 256) AS BIGINT) AS val_sum
  FROM documents d,
       (SELECT unnest(range(23)) AS i) x,
       (SELECT unnest(range(20)) AS j) y
  WHERE d.doc_id % 4 = 2
    AND x.i < d.doc_id % 19 + 4 AND y.j < d.doc_id % 15 + 5
  GROUP BY d.doc_id
), jpgm AS (
  SELECT d.doc_id,
         16 * (d.doc_id % 3 + 1) AS w, 16 * (d.doc_id % 2 + 1) AS h,
         (d.doc_id * 3 + m.k * 5) % 8 + 8 AS dd,
         CASE WHEN m.k % 2 = 0
              THEN (d.doc_id * 5 + (m.k // 2) * 7) % 8 + 8 ELSE 0 END AS cc,
         CASE WHEN m.k % 2 = 0
              THEN (d.doc_id * 7 + (m.k // 2) * 11) % 8 + 8 ELSE 0 END AS rr
  FROM documents d, (SELECT unnest(range(6)) AS k) m
  WHERE d.doc_id % 4 = 3
    AND m.k < (d.doc_id % 3 + 1) * (d.doc_id % 2 + 1)
), jpg AS (
  SELECT doc_id, 'jpeg' AS fmt,
         CAST(w * h * 3 AS BIGINT) AS n_units,
         -- per MCU: 2 bright-Y blocks + 2 flat-128 blocks, 64 px each
         CAST(sum(128 * (
             round(128 + 2 * dd + 2.804 * rr)
           + round(128 + 2 * dd - 0.688272 * cc - 1.428272 * rr)
           + round(128 + 2 * dd + 3.544 * cc)
           + round(128 + 2.804 * rr)
           + round(128 - 0.688272 * cc - 1.428272 * rr)
           + round(128 + 3.544 * cc))) AS BIGINT) AS val_sum
  FROM jpgm
  GROUP BY doc_id, w, h
)
SELECT * FROM ppm UNION ALL SELECT * FROM wav
UNION ALL SELECT * FROM tif UNION ALL SELECT * FROM jpg
ORDER BY doc_id
""",
)
def l8n_media_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sniff-and-route over a mixed-format corpus: blobs alternate
    PPM / WAV / TIFF / color JPEG by doc_id %% 4 (SQL-synthesized by
    the same machinery as l8g/l8h/l8m/l8o); one Arrow stage dispatches
    each row on its magic bytes to the matching real decoder and emits
    (fmt, n_units, val_sum), which the oracle re-derives per doc."""
    import pandas as pd

    te = _synth_tiff_exprs()
    je = _synth_jpeg_color_exprs()

    def _j(expr: str) -> str:
        """Rename the color synth's working columns so they can't
        collide with the TIFF synth's __w/__h in the same projection."""
        return (
            expr.replace("__nm", "__jnm")
            .replace("__pk", "__jpk")
            .replace("__w", "__jw")
            .replace("__h", "__jh")
        )

    docs = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.expr(te["w"]).alias("__w"),
            F.expr(te["h"]).alias("__h"),
            F.expr(je["w"]).alias("__jw"),
            F.expr(je["h"]).alias("__jh"),
        )
        .withColumn("__s", F.expr(te["strips"]))
        .withColumn("__px", F.expr(te["pixels"]))
        .withColumn("__jnm", F.expr(_j(je["nmcus"])))
        # only JPEG rows pay the bit-packing work
        .withColumn(
            "__jpk",
            F.expr(
                f"CASE WHEN pmod(doc_id, 4) = 3 THEN {_j(je['packed'])}"
                " ELSE array() END"
            ),
        )
        .select(
            "doc_id",
            F.expr(
                f"CASE pmod(doc_id, 4) WHEN 0 THEN {_synth_ppm_expr()}"
                f" WHEN 1 THEN {_synth_wav_expr()}"
                f" WHEN 2 THEN {te['tiff']}"
                f" ELSE {_j(je['jpeg'])} END"
            ).alias("blob"),
        )
    )
    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("fmt", StringType()),
            StructField("n_units", LongType()),
            StructField("val_sum", LongType()),
        ]
    )

    def dispatch_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, nus, sums = [], [], []
            for blob in pdf["blob"]:
                fmt, nu, vs = dispatch_media(blob)
                fmts.append(fmt)
                nus.append(nu)
                sums.append(vs)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "fmt": fmts,
                    "n_units": pd.Series(nus, dtype="int64"),
                    "val_sum": pd.Series(sums, dtype="int64"),
                }
            )

    return docs.mapInPandas(dispatch_batch, out_schema).orderBy("doc_id")
