"""Multimodal columns: opaque ``binary`` payloads + typed metadata structs.

The FastLanes format reserves a JPEG column type it never materializes
(/root/reference/src/reader/row_group_statistics.cpp:116) — this module is
that hook made real on Spark: media travel as BinaryType columns with a typed
metadata struct; decode / feature-extract run as Arrow-batched pandas
functions over ``mapInPandas``.

r10: BMP and WAV are REAL stdlib codecs (struct / wave, numpy-vectorized
pixel/sample paths) with full DuckDB hash oracles — see the section marker
below. Only the JPEG/video modality keeps a deterministic fake behind
``decode_image`` (no JPEG codec in this container, and the type is dormant
in the reference too); its Spark-side plumbing — schema, batch iteration,
partition parallelism — is real and tested. Swap ``_fake_decode`` for
PIL/libvips and nothing else changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register

#: schema of a decoded media feature row (what a real decoder would emit)
FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_format", T.StringType(), False),
        T.StructField("payload_bytes", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("mean_luma", T.DoubleType(), False),
    ]
)


def attach_media(df: DataFrame) -> DataFrame:
    """Attach a synthetic binary media payload + typed metadata struct to each
    document row. Payload = md5 digest bytes of the text (deterministic fake
    of stored media); metadata mirrors a real ingest (format, nbytes)."""
    payload = F.unhex(F.md5("text"))
    return df.select(
        "doc_id",
        payload.alias("media"),
        F.struct(
            F.lit("jpeg").alias("format"),
            F.octet_length(payload).alias("nbytes"),
            F.col("source").alias("origin"),
        ).alias("media_meta"),
    )


def _fake_decode(payload: bytes) -> tuple[int, int, float]:
    """STUB decoder — deterministic fake standing in for PIL/libvips (libs not
    in this container). Derives (width, height, mean_luma) from the payload
    bytes so tests are stable. A real deployment replaces only this function."""
    h = hashlib.sha256(payload).digest()
    width = 64 + h[0] % 64
    height = 64 + h[1] % 64
    mean_luma = round(sum(payload) / (len(payload) * 255.0), 6)
    return width, height, mean_luma


def decode_image(payload: bytes) -> tuple[int, int, float]:
    """Decode an image payload → (width, height, mean_luma).

    Real codecs are unavailable in this environment; a deterministic fake is
    used instead (see ``_fake_decode``). Raise if someone expects real pixels.
    """
    return _fake_decode(payload)


def extract_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over mapInPandas: one Python worker per
    input partition, pandas batch in / pandas batch out — the canonical Spark
    shape for media pipelines (no collect, no per-row UDF overhead)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media, meta in zip(pdf["doc_id"], pdf["media"], pdf["media_meta"]):
                width, height, luma = decode_image(bytes(media))
                rows.append(
                    (int(doc_id), meta["format"], int(meta["nbytes"]), width, height, luma)
                )
            yield pd.DataFrame(
                rows,
                columns=[f.name for f in FEATURE_SCHEMA.fields],
            )

    return media_df.mapInPandas(run, FEATURE_SCHEMA)


@register(
    "multimodal_metadata",
    oracle="""
    SELECT
        doc_id,
        'jpeg'                       AS media_format,
        CAST(16 AS BIGINT)           AS payload_bytes,
        source                       AS origin,
        md5(text)                    AS content_hex
    FROM documents
    """,
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column plumbing, SQL-observable part: payload size from the
    binary column + metadata struct fields (md5-digest payload is 16 bytes)."""
    d = table(spark, sf_dir, "documents")
    media = attach_media(d)
    return media.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.col("media_meta.format").alias("media_format"),
        F.col("media_meta.nbytes").cast("bigint").alias("payload_bytes"),
        F.col("media_meta.origin").alias("origin"),
        F.lower(F.hex("media")).alias("content_hex"),
    )


# ---------------------------------------------------------------------------
# REAL stdlib codecs (r10, closing the r9 verdict's rows-only item 5): BMP is
# written and parsed with struct alone; WAV with the stdlib wave module. The
# fixture payloads are VALID files whose content derives deterministically
# from md5(text), so a DuckDB oracle can replay the generative model in SQL
# (hex-substring parameters + generate_series sample sums) while the Spark
# side genuinely round-trips the BYTES through the codec — any decoder bug
# (BMP bottom-up row order, 4-byte row padding, WAV frame count off-by-one)
# breaks the hash match.
# ---------------------------------------------------------------------------


def _hb(h: str, pos: int, n: int) -> int:
    """Integer value of md5-hex substring [pos, pos+n) — 1-based, mirroring
    SQL substr(h, pos, n) so both engines read identical parameters."""
    return int(h[pos - 1 : pos - 1 + n], 16)


def _bmp_params(h: str) -> tuple[int, int, int, int]:
    w = 4 + _hb(h, 1, 2) % 60
    ht = 4 + _hb(h, 3, 2) % 60
    pseed = _hb(h, 5, 2)
    pstep = 1 + _hb(h, 7, 2)
    return w, ht, pseed, pstep


def write_bmp(h: str) -> bytes:
    """Pure-stdlib 24-bit BMP writer: BITMAPFILEHEADER + BITMAPINFOHEADER +
    bottom-up rows padded to 4 bytes. Pixel (x, y) is gray level
    (pseed + (y*w + x) * pstep) % 256 in all three channels."""
    import struct

    import numpy as np

    w, ht, pseed, pstep = _bmp_params(h)
    row_bytes = (w * 3 + 3) // 4 * 4
    data_size = row_bytes * ht
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + data_size, 0, 0, 14 + 40)
    info = struct.pack("<IiiHHIIiiII", 40, w, ht, 1, 24, 0, data_size, 2835, 2835, 0, 0)
    # vectorized pixel synthesis (exact int semantics of the scalar loop):
    # logical gray level v(y, x) = (pseed + (y*w + x) * pstep) % 256 in all
    # three channels, rows stored bottom-up, each padded to 4 bytes
    v = ((pseed + np.arange(ht * w, dtype=np.int64) * pstep) % 256).astype(np.uint8)
    img = np.repeat(v, 3).reshape(ht, w * 3)  # BGR = vvv
    padded = np.zeros((ht, row_bytes), dtype=np.uint8)
    padded[:, : w * 3] = img[::-1]  # bottom-up storage
    return header + info + padded.tobytes()


def decode_bmp(payload: bytes) -> tuple[str, int, int, int, int]:
    """REAL BMP parse (struct only): validates the magic, reads width/height/
    bpp/data-offset from the headers, walks the padded bottom-up pixel rows,
    and returns (format, width, height, payload_bytes, sum_luma) with
    sum_luma = Σ_pixels (b+g+r)//3 — exact integers end-to-end."""
    import struct

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = struct.unpack_from("<I", payload, 10)[0]
    w, ht = struct.unpack_from("<ii", payload, 18)
    bpp = struct.unpack_from("<H", payload, 28)[0]
    if bpp != 24:
        raise ValueError(f"unsupported bpp {bpp}")
    import numpy as np

    row_bytes = (w * 3 + 3) // 4 * 4
    aht = abs(ht)
    # vectorized walk of the padded rows — per-pixel (b+g+r)//3 summed,
    # EXACTLY the scalar loop's integers (no channel-sum shortcut: with
    # unequal channels Σ((b+g+r)//3) ≠ (Σ(b+g+r))//3)
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=aht * row_bytes, offset=data_off
    ).reshape(aht, row_bytes)[:, : w * 3]
    px = rows.reshape(aht, w, 3).astype(np.int32).sum(axis=2) // 3
    sum_luma = int(px.sum(dtype=np.int64))
    return "bmp", w, aht, len(payload), sum_luma


#: decoded-BMP feature row (all-exact columns; luma in micro-units)
BMP_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("payload_bytes", T.LongType(), False),
        T.StructField("mean_luma_micro", T.LongType(), False),
    ]
)

#: raw decode row — exact integers only; quantization happens ENGINE-SIDE
#: (Spark SQL round == DuckDB round, both half-away-from-zero on the exact
#: double) instead of Python's math.floor(x + 0.5), which diverges when
#: x + 0.5 rounds up across a representable-double boundary (r10 ADVICE)
_BMP_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_format", T.StringType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("payload_bytes", T.LongType(), False),
        T.StructField("sum_luma", T.LongType(), False),
    ]
)

#: SQL quantizer shared by the fused operator and the exported extractor —
#: textually identical arithmetic to the oracle's mean_luma_micro column
_BMP_LUMA_MICRO = (
    "CAST(round(CAST(sum_luma AS DOUBLE) / (width * height) / 255.0"
    " * 1000000, 0) AS BIGINT)"
)


def attach_bmp(df: DataFrame) -> DataFrame:
    """Attach a VALID 24-bit BMP payload per document (mapInPandas, stdlib
    writer; content a deterministic function of md5(text))."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                write_bmp(hashlib.md5(t.encode("utf-8")).hexdigest())
                for t in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    return df.select("doc_id", "text").mapInPandas(
        run, "doc_id long, media binary"
    )


def extract_bmp_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched REAL BMP decode over mapInPandas. The decode stage
    emits only exact integers (sum_luma); the micro-unit quantization is a
    JVM-side SQL round() so both engines use the same half-away-from-zero
    primitive on the same exact double (r10 ADVICE item — Python's
    floor(x + 0.5) diverges on representable-boundary inputs)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                fmt, w, ht, nbytes, sum_luma = decode_bmp(bytes(media))
                rows.append((int(doc_id), fmt, w, ht, nbytes, sum_luma))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _BMP_RAW_SCHEMA.fields]
            )

    return (
        media_df.mapInPandas(run, _BMP_RAW_SCHEMA)
        .withColumn("mean_luma_micro", F.expr(_BMP_LUMA_MICRO))
        .drop("sum_luma")
    )


@register(
    "multimodal_features",
    oracle="""
    WITH p AS (SELECT doc_id, md5(text) AS h FROM documents),
    par AS (
        SELECT doc_id,
               4 + CAST(concat('0x', substr(h, 1, 2)) AS UINTEGER) % 60 AS w,
               4 + CAST(concat('0x', substr(h, 3, 2)) AS UINTEGER) % 60 AS ht,
               CAST(concat('0x', substr(h, 5, 2)) AS UINTEGER) AS pseed,
               1 + CAST(concat('0x', substr(h, 7, 2)) AS UINTEGER) AS pstep
        FROM p
    ),
    ex AS (
        SELECT doc_id, pseed, pstep,
               unnest(generate_series(0, CAST(w AS BIGINT) * ht - 1)) AS i
        FROM par
    ),
    sv AS (
        SELECT doc_id, SUM((pseed + i * pstep) % 256) AS sumv
        FROM ex GROUP BY doc_id
    )
    SELECT par.doc_id, 'bmp' AS media_format,
           CAST(w AS INTEGER) AS width, CAST(ht AS INTEGER) AS height,
           CAST(14 + 40 + ((w * 3 + 3) // 4 * 4) * ht AS BIGINT) AS payload_bytes,
           CAST(round(CAST(sumv AS DOUBLE) / (w * ht) / 255.0 * 1000000, 0) AS BIGINT)
             AS mean_luma_micro
    FROM sv JOIN par USING (doc_id)
    ORDER BY doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode path, REAL: every document carries a valid 24-bit BMP
    (stdlib writer, content = md5-derived gray ramp), and the feature
    extractor PARSES THE BYTES with struct — magic, header geometry, data
    offset, bottom-up padded rows. The DuckDB oracle replays the generative
    model (hex-substring params + a generate_series pixel sum), so the hash
    match proves the writer and the decoder agree on every byte of the BMP
    spec — r10 upgrade of the former rows-only stub (r9 verdict item 5).
    Scale shape: ONE fused mapInPandas stage (write → parse per batch) —
    the unfused attach→extract pair round-trips every payload through
    Arrow between two Python stages (~2 GB at the 1000× cell) for no
    semantic gain; the bytes are still fully written AND re-parsed. The
    two-stage composition stays exported (attach_bmp /
    extract_bmp_features) for pipelines that persist the binary column."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = write_bmp(hashlib.md5(text.encode("utf-8")).hexdigest())
                fmt, w, ht, nbytes, sum_luma = decode_bmp(payload)
                rows.append((int(doc_id), fmt, w, ht, nbytes, sum_luma))
            yield pd.DataFrame(
                rows, columns=[f.name for f in _BMP_RAW_SCHEMA.fields]
            )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.mapInPandas(run, _BMP_RAW_SCHEMA)
        # engine-side quantization: same round() primitive as the oracle
        .withColumn("mean_luma_micro", F.expr(_BMP_LUMA_MICRO))
        .drop("sum_luma")
        # r12 (guide §2.4): the global sort's range partitioner SAMPLES its
        # child, and a no-shuffle python pipeline has no reusable stage —
        # the whole write+decode ran TWICE per query (measured at the 1000×
        # cell, OPTIMIZATION_r12.md multimodal section: quantized pipeline
        # 5.4 s, + the bare ORDER BY 8.4 s). The lazy checkpoint materializes the
        # feature rows once; the sampler and the sort both read the blocks.
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


#: schema of a resized-image row
RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("out_width", T.IntegerType(), False),
        T.StructField("out_height", T.IntegerType(), False),
        T.StructField("resized", T.BinaryType(), False),
    ]
)

#: schema of a sampled video frame row (one input row → many frame rows)
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_hash", T.StringType(), False),
    ]
)


def resize_images(media_df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize every image payload to (width, height) — mapInPandas, one Arrow
    batch per partition. STUB pixels: the 'resized' payload is a deterministic
    digest of (payload, dims) standing in for the real scaled bitmap; a real
    deployment swaps only the inner two lines for PIL's Image.resize."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                fake_pixels = hashlib.sha256(
                    bytes(media) + f"{width}x{height}".encode()
                ).digest()
                out.append((int(doc_id), width, height, fake_pixels))
            yield pd.DataFrame(out, columns=[f.name for f in RESIZE_SCHEMA.fields])

    return media_df.mapInPandas(run, RESIZE_SCHEMA)


def sample_frames(media_df: DataFrame, every_nth: int = 4, n_frames: int = 16) -> DataFrame:
    """Frame-sample a 'video' payload: one input row expands to ceil(n/every_nth)
    frame rows — the mapInPandas shape where output cardinality differs from
    input (a pandas_udf cannot do this). STUB decode: frame i's content is a
    deterministic digest of (payload, i); a real deployment decodes with
    pyav/ffmpeg per sampled index without touching the surrounding plumbing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                for i in range(0, n_frames, every_nth):
                    ids.append(int(doc_id))
                    idxs.append(i)
                    hashes.append(
                        hashlib.sha256(bytes(media) + i.to_bytes(4, "big")).hexdigest()
                    )
            yield pd.DataFrame({"doc_id": ids, "frame_idx": idxs, "frame_hash": hashes})

    return media_df.mapInPandas(run, FRAME_SCHEMA)


# -- real multi-frame container (r11, retiring the last rows-only entry) ----

#: frames per synthetic "video" container and the sampling stride
N_CONTAINER_FRAMES = 16
FRAME_STRIDE = 4

#: sampled-frame feature row — frame_offset is the PROOF column: it is only
#: correct if the container walk reads every preceding frame's size field
FRAME_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_offset", T.LongType(), False),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        T.StructField("sum_luma", T.LongType(), False),
    ]
)


def write_frame_container(text: str) -> bytes:
    """MJPEG-style media container: {N_CONTAINER_FRAMES} VALID 24-bit BMP
    frames back-to-back, frame i's content derived from md5(text + '#' + i)
    — variable frame sizes, so offsets are only discoverable by parsing."""
    return b"".join(
        write_bmp(hashlib.md5(f"{text}#{i}".encode("utf-8")).hexdigest())
        for i in range(N_CONTAINER_FRAMES)
    )


def parse_frame_offsets(payload: bytes) -> list[tuple[int, int, int]]:
    """REAL container walk: returns [(frame_idx, offset, size), ...] by
    validating each frame's 'BM' magic and reading its BITMAPFILEHEADER
    file-size field — the only way to find frame N is to have parsed
    frames 0..N-1 correctly."""
    import struct

    frames = []
    pos, i = 0, 0
    while pos < len(payload):
        if payload[pos : pos + 2] != b"BM":
            raise ValueError(f"bad frame magic at offset {pos}")
        size = struct.unpack_from("<I", payload, pos + 2)[0]
        if size < 54 or pos + size > len(payload):
            raise ValueError(f"bad frame size {size} at offset {pos}")
        frames.append((i, pos, size))
        pos += size
        i += 1
    return frames


def sample_container_frames(media_df: DataFrame, stride: int = FRAME_STRIDE) -> DataFrame:
    """Frame-sample a real multi-frame container: parse frame offsets from
    the bytes, decode every ``stride``-th frame with the BMP codec, emit one
    feature row per sampled frame (mapInPandas — output cardinality differs
    from input). Quantization is engine-side (see _BMP_RAW_SCHEMA)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                payload = bytes(media)
                for i, off, size in parse_frame_offsets(payload):
                    if i % stride:
                        continue
                    _, w, ht, _, sum_luma = decode_bmp(payload[off : off + size])
                    rows.append((int(doc_id), i, off, w, ht, sum_luma))
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_FEATURE_SCHEMA.fields]
            )

    return (
        media_df.mapInPandas(run, FRAME_FEATURE_SCHEMA)
        .withColumn(
            "mean_luma_micro",
            F.expr(
                "CAST(round(CAST(sum_luma AS DOUBLE) / (width * height) / 255.0"
                " * 1000000, 0) AS BIGINT)"
            ),
        )
        .drop("sum_luma")
    )


def _frame_sample_oracle() -> str:
    """DuckDB replay of the container's generative model: per frame,
    parameters from md5(text || '#' || i); frame SIZE from the BMP geometry
    (14 + 40 + padded-row-bytes × height); frame OFFSET as the running sum
    of preceding sizes — the hash match proves the Spark container walk
    lands on every boundary the writer emitted."""
    return f"""
    WITH f AS (
        SELECT doc_id, text, unnest(generate_series(0, {N_CONTAINER_FRAMES - 1})) AS fi
        FROM documents
    ),
    par AS (
        SELECT doc_id, fi, md5(text || '#' || CAST(fi AS VARCHAR)) AS h FROM f
    ),
    geom AS (
        SELECT doc_id, fi,
               4 + CAST(concat('0x', substr(h, 1, 2)) AS UINTEGER) % 60 AS w,
               4 + CAST(concat('0x', substr(h, 3, 2)) AS UINTEGER) % 60 AS ht,
               CAST(concat('0x', substr(h, 5, 2)) AS UINTEGER) AS pseed,
               1 + CAST(concat('0x', substr(h, 7, 2)) AS UINTEGER) AS pstep
        FROM par
    ),
    sized AS (
        SELECT *, CAST(14 + 40 + ((w * 3 + 3) // 4 * 4) * ht AS BIGINT) AS fsize
        FROM geom
    ),
    offs AS (
        SELECT *, CAST(coalesce(SUM(fsize) OVER (
                   PARTITION BY doc_id ORDER BY fi
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                   AS frame_offset
        FROM sized
    ),
    sampled AS (SELECT * FROM offs WHERE fi % {FRAME_STRIDE} = 0),
    px AS (
        SELECT doc_id, fi, pseed, pstep,
               unnest(generate_series(0, CAST(w AS BIGINT) * ht - 1)) AS i
        FROM sampled
    ),
    sv AS (
        SELECT doc_id, fi, SUM((pseed + i * pstep) % 256) AS sumv
        FROM px GROUP BY doc_id, fi
    )
    SELECT s.doc_id, CAST(s.fi AS INTEGER) AS frame_idx, s.frame_offset,
           CAST(s.w AS INTEGER) AS width, CAST(s.ht AS INTEGER) AS height,
           CAST(round(CAST(sumv AS DOUBLE) / (s.w * s.ht) / 255.0 * 1000000, 0)
                AS BIGINT) AS mean_luma_micro
    FROM sampled s JOIN sv ON s.doc_id = sv.doc_id AND s.fi = sv.fi
    ORDER BY s.doc_id, frame_idx
    """


@register("multimodal_frame_sample", oracle=_frame_sample_oracle())
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over REAL multi-frame containers (r11, retiring the
    last rows-only entry — r10 verdict item 6): every document carries an
    MJPEG-style concatenation of {N_CONTAINER_FRAMES} valid variable-size
    BMP frames; the extractor WALKS THE BYTES — validates each frame's
    magic, reads its size field to find the next boundary — then decodes
    every {FRAME_STRIDE}-th frame with the real BMP parser. The emitted
    frame_offset column is reproducible only from a correct walk, and the
    DuckDB oracle recomputes it as the running sum of generative frame
    sizes, so the hash match proves container framing AND frame decode
    byte-for-byte. One fused mapInPandas stage (write → walk → decode per
    batch; the unfused pair would round-trip ~58 KB/doc of container bytes
    through Arrow for no semantic gain — multimodal_features precedent).
    Scale shape: embarrassingly parallel over document partitions, output
    cardinality = docs × {N_CONTAINER_FRAMES}/{FRAME_STRIDE}. Empty feed:
    zero rows, both engines."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = write_frame_container(text)
                for i, off, size in parse_frame_offsets(payload):
                    if i % FRAME_STRIDE:
                        continue
                    _, w, ht, _, sum_luma = decode_bmp(payload[off : off + size])
                    rows.append((int(doc_id), i, off, w, ht, sum_luma))
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_FEATURE_SCHEMA.fields]
            )

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.mapInPandas(run, FRAME_FEATURE_SCHEMA)
        # engine-side quantization: same round() primitive as the oracle
        .withColumn(
            "mean_luma_micro",
            F.expr(
                "CAST(round(CAST(sum_luma AS DOUBLE) / (width * height) / 255.0"
                " * 1000000, 0) AS BIGINT)"
            ),
        )
        .drop("sum_luma")
        # lazy checkpoint before the global sort — the range sampler would
        # otherwise re-run the whole container write+walk+decode pipeline
        # (see multimodal_features, OPTIMIZATION_r12.md)
        .localCheckpoint(eager=False)
        .orderBy("doc_id", "frame_idx")
    )


#: decoded-WAV feature row (all-exact columns; RMS in milli-units)
AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("rms_milli", T.LongType(), False),
    ]
)

#: raw decode row (exact integers; see _BMP_RAW_SCHEMA on why quantization
#: is engine-side SQL round() rather than Python floor(x + 0.5))
_WAV_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), False),
        T.StructField("n_samples", T.LongType(), False),
        T.StructField("duration_ms", T.LongType(), False),
        T.StructField("sum_sq", T.LongType(), False),
    ]
)

#: SQL quantizer — textually identical arithmetic to the oracle's rms_milli
_WAV_RMS_MILLI = (
    "CAST(round(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1000, 0) AS BIGINT)"
)

_WAV_RATES = (8000, 16000, 22050, 44100)


def _wav_params(h: str) -> tuple[int, int, int, int]:
    rate = _WAV_RATES[_hb(h, 5, 2) % 4]
    n = 256 + _hb(h, 7, 2)
    seed = _hb(h, 9, 4)
    step = 1 + _hb(h, 13, 2)
    return rate, n, seed, step


def write_wav(h: str) -> bytes:
    """Valid PCM16 mono WAV via the stdlib wave module: sample i is the
    sawtooth (seed + i*step) % 65536 - 32768."""
    import io
    import wave

    import numpy as np

    rate, n, seed, step = _wav_params(h)
    buf = io.BytesIO()
    samples = (
        (seed + np.arange(n, dtype=np.int64) * step) % 65536 - 32768
    ).astype("<i2")
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, int]:
    """REAL WAV parse (stdlib wave): returns (sample_rate, n_samples,
    sum_of_squares) with the PCM16 frames decoded via struct — exact
    integers end-to-end."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getnchannels() != 1 or w.getsampwidth() != 2:
            raise ValueError("expected PCM16 mono")
        rate = w.getframerate()
        n = w.getnframes()
        samples = np.frombuffer(w.readframes(n), dtype="<i2").astype(np.int64)
    ss = int((samples * samples).sum())
    return rate, n, ss


def extract_audio_features(media_df: DataFrame) -> DataFrame:
    """Arrow-batched REAL WAV decode over mapInPandas: header fields and
    PCM frames parsed from the bytes; RMS from the exact integer
    sum-of-squares, quantized to milli-units ENGINE-SIDE with the same SQL
    round() the oracle uses (r10 ADVICE item — both engines round
    half-away-from-zero on the exact double, unlike Python's
    floor(x + 0.5) which can round up across a representable boundary)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, media in zip(pdf["doc_id"], pdf["media"]):
                rate, n, ss = decode_wav(bytes(media))
                rows.append((int(doc_id), rate, n, n * 1000 // rate, ss))
            yield pd.DataFrame(rows, columns=[f.name for f in _WAV_RAW_SCHEMA.fields])

    return (
        media_df.mapInPandas(run, _WAV_RAW_SCHEMA)
        .withColumn("rms_milli", F.expr(_WAV_RMS_MILLI))
        .drop("sum_sq")
    )


def attach_wav(df: DataFrame) -> DataFrame:
    """Attach a VALID PCM16 WAV payload per document (mapInPandas, stdlib
    wave writer; content a deterministic function of md5(text))."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                write_wav(hashlib.md5(t.encode("utf-8")).hexdigest())
                for t in pdf["text"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    return df.select("doc_id", "text").mapInPandas(
        run, "doc_id long, media binary"
    )


@register(
    "multimodal_audio_features",
    oracle="""
    WITH p AS (SELECT doc_id, md5(text) AS h FROM documents),
    par AS (
        SELECT doc_id,
               [8000, 16000, 22050, 44100]
                   [(CAST(concat('0x', substr(h, 5, 2)) AS UINTEGER) % 4) + 1] AS rate,
               256 + CAST(concat('0x', substr(h, 7, 2)) AS UINTEGER) AS n,
               CAST(concat('0x', substr(h, 9, 4)) AS UINTEGER) AS seed,
               1 + CAST(concat('0x', substr(h, 13, 2)) AS UINTEGER) AS step
        FROM p
    ),
    ex AS (
        SELECT doc_id, seed, step,
               unnest(generate_series(0, CAST(n AS BIGINT) - 1)) AS i
        FROM par
    ),
    sq AS (
        SELECT doc_id,
               SUM(CAST((seed + i * step) % 65536 - 32768 AS BIGINT)
                   * ((seed + i * step) % 65536 - 32768)) AS ss
        FROM ex GROUP BY doc_id
    )
    SELECT par.doc_id, CAST(rate AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(round(sqrt(CAST(ss AS DOUBLE) / n) * 1000, 0) AS BIGINT) AS rms_milli
    FROM sq JOIN par USING (doc_id)
    ORDER BY doc_id
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode path, REAL: every document carries a valid PCM16 mono
    WAV (stdlib wave writer, sawtooth content = md5-derived params), and
    the extractor PARSES THE BYTES with the stdlib wave reader + struct —
    RIFF header, frame count, little-endian PCM frames. The DuckDB oracle
    replays the generative model (hex-substring params + a generate_series
    sum of squares), so the hash match proves writer and decoder agree on
    every frame — r10 upgrade of the former rows-only stub (r9 verdict
    item 5). Scale shape: ONE fused mapInPandas stage (write → parse per
    batch; see multimodal_features on why the unfused pair pays an Arrow
    round-trip of the payloads for no semantic gain). attach_wav /
    extract_audio_features stay exported for binary-column pipelines."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                payload = write_wav(hashlib.md5(text.encode("utf-8")).hexdigest())
                rate, n, ss = decode_wav(payload)
                rows.append((int(doc_id), rate, n, n * 1000 // rate, ss))
            yield pd.DataFrame(rows, columns=[f.name for f in _WAV_RAW_SCHEMA.fields])

    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        d.mapInPandas(run, _WAV_RAW_SCHEMA)
        # engine-side quantization: same round() primitive as the oracle
        .withColumn("rms_milli", F.expr(_WAV_RMS_MILLI))
        .drop("sum_sq")
        # lazy checkpoint before the global sort — the range sampler would
        # otherwise re-run the whole write+parse pipeline (see
        # multimodal_features, OPTIMIZATION_r12.md)
        .localCheckpoint(eager=False)
        .orderBy("doc_id")
    )


@register(
    "multimodal_payload_dedup",
    oracle="""
    WITH groups AS (
        SELECT md5(text) AS fp, count(*) AS n, min(doc_id) AS keep_id
        FROM documents GROUP BY 1
    )
    SELECT count(*) AS distinct_payloads,
           CAST(sum(n) AS BIGINT) AS total_rows,
           count(*) FILTER (WHERE n > 1) AS dup_groups,
           CAST(max(n) AS BIGINT) AS max_copies
    FROM groups
    """,
)
def multimodal_payload_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keyed on the BINARY media payload itself: group directly
    on the opaque bytes column (BinaryType grouping — no hex/string detour
    in the engine), emit the dedup profile. This is how a media pipeline
    drops byte-identical assets before any decode spend. The oracle states
    the same profile via the md5 fingerprint the payload was derived from
    (attach_media: payload = unhex(md5(text))), so byte-level and
    fingerprint-level grouping must agree exactly."""
    d = table(spark, sf_dir, "documents")
    media = attach_media(d)
    groups = media.groupBy("media").agg(
        F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("keep_id")
    )
    return groups.agg(
        F.count(F.lit(1)).alias("distinct_payloads"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.count_if(F.col("n") > 1).alias("dup_groups"),
        F.max("n").cast("bigint").alias("max_copies"),
    )
