"""Multimodal columns — binary payloads with typed metadata.

The mandated pattern for image/audio/video at 100 TB: payloads as opaque
``binary`` columns + a typed header, feature extraction as Arrow-batched
``mapInPandas``. Since no media libraries ship in this container, the
payloads use a self-describing SYNTHETIC container format ("SY1") that is
decoded END-TO-END — header parse → typed dimensions → sample array →
features — so the full decode path (magic validation, per-modality
branching, body length checks, feature math over decoded samples) is
real and oracle-verified. A production deployment swaps `_decode_body`'s
sample generator for PIL/ffmpeg/torchaudio output; every Spark-side
piece (schema, batch shape, partition flow) is unchanged.

Format (big-endian):
  image: b"SY1I" + u16 width + u16 height + width*height sample bytes
  audio: b"SY1A" + u32 n_samples + n_samples sample bytes
  video: b"SY1V" + u16 n_frames + u8 fw + u8 fh + n_frames*fw*fh bytes

Sample bytes are the deterministic affine stream
``(doc_id * 2654435761 + i * 40503) % 256`` — chosen because a DuckDB
oracle can recompute the identical stream with generate_series, making
the decoded features hash-checkable.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F

from ..registry import register
from ._shared import qround, t, with_stats

_MAGIC = b"SY1"
_A1, _A2 = 2654435761, 40503  # affine sample-stream multipliers
_FRAME_W, _FRAME_H = 4, 4  # video frame dims (16 bytes/frame)
_FRAME_STRIDE = 4  # keep every 4th frame


def _sample_stream(doc_id: int, n: int, offset: int = 0) -> bytes:
    """The deterministic body bytes — stands in for real pixel/PCM data."""
    return bytes((doc_id * _A1 + (offset + i) * _A2) % 256 for i in range(n))


def encode_synthetic(doc_id: int) -> tuple[bytes, str]:
    """Build a self-describing payload for a doc. Modality and dimensions
    derive from doc_id alone so the oracle can reproduce them."""
    m = doc_id % 3
    if m == 0:
        w, h = 8, 4 + doc_id % 4
        return _MAGIC + b"I" + struct.pack(">HH", w, h) + _sample_stream(doc_id, w * h), "image"
    if m == 1:
        n = 32 + doc_id % 32
        return _MAGIC + b"A" + struct.pack(">I", n) + _sample_stream(doc_id, n), "audio"
    nf = 8 + doc_id % 8
    body = _sample_stream(doc_id, nf * _FRAME_W * _FRAME_H)
    return _MAGIC + b"V" + struct.pack(">HBB", nf, _FRAME_W, _FRAME_H) + body, "video"


def decode_media(payload: bytes) -> dict:
    """REAL decode: validate magic, parse the typed header, slice the
    sample array, verify body length. Returns modality, dimensions and
    the decoded samples. Raises ValueError on a corrupt payload — the
    error path a quarantine pipeline would route on."""
    if payload[:3] != _MAGIC:
        raise ValueError(f"bad magic {payload[:3]!r}")
    kind = payload[3:4]
    if kind == b"I":
        w, h = struct.unpack(">HH", payload[4:8])
        body = payload[8:]
        if len(body) != w * h:
            raise ValueError(f"image body {len(body)} != {w}x{h}")
        return {"modality": "image", "dims": (w, h), "samples": body}
    if kind == b"A":
        (n,) = struct.unpack(">I", payload[4:8])
        body = payload[8:]
        if len(body) != n:
            raise ValueError(f"audio body {len(body)} != {n}")
        return {"modality": "audio", "dims": (n,), "samples": body}
    if kind == b"V":
        nf, fw, fh = struct.unpack(">HBB", payload[4:8])
        body = payload[8:]
        if len(body) != nf * fw * fh:
            raise ValueError(f"video body {len(body)} != {nf}x{fw}x{fh}")
        return {"modality": "video", "dims": (nf, fw, fh), "samples": body}
    raise ValueError(f"unknown modality byte {kind!r}")


def _binify(spark, sf_dir):
    """doc_id → synthetic binary payload, built executor-side inside an
    Arrow batch (stands in for reading real media blobs; the downstream
    decode never knows the difference)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            enc = [encode_synthetic(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "payload": [p for p, _ in enc],
                    "declared_modality": [m for _, m in enc],
                }
            )

    d = t(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(gen, schema="doc_id bigint, payload binary, declared_modality string")


_OUT_SCHEMA = "doc_id bigint, modality string, n_samples bigint, sample_sum bigint"


def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched decode + feature extraction over binary payloads."""
    for pdf in batches:
        decoded = [decode_media(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "modality": [d["modality"] for d in decoded],
                "n_samples": [len(d["samples"]) for d in decoded],
                "sample_sum": [sum(d["samples"]) for d in decoded],
            }
        )


@register(
    "mm_features",
    oracle=f"""
WITH m AS (
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
           CASE doc_id % 3
             WHEN 0 THEN 8 * (4 + doc_id % 4)
             WHEN 1 THEN 32 + doc_id % 32
             ELSE (8 + doc_id % 8) * {_FRAME_W * _FRAME_H}
           END AS n
    FROM documents
)
SELECT doc_id, modality, CAST(n AS BIGINT) AS n_samples,
       CAST(list_aggregate(list_transform(range(0, n),
            i -> (doc_id * {_A1} + i * {_A2}) % 256), 'sum') AS BIGINT) AS sample_sum
FROM m
""",
)
def mm_features(spark, sf_dir):
    """Binary-column pipeline, decoded END-TO-END: synthesize payload →
    mapInPandas decode (magic + header parse + body validation) →
    per-modality features over the decoded sample array. Two narrow
    Arrow stages, zero shuffles; the oracle recomputes the identical
    features from the format's deterministic sample stream."""
    return _binify(spark, sf_dir).mapInPandas(_extract, schema=_OUT_SCHEMA)


_FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, frame_bytes bigint, frame_checksum bigint"


def _frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One video row → many sampled-frame rows. The real-video version
    swaps the decoded byte planes for ffmpeg keyframes; the batch shape —
    explode inside the Arrow worker, never on the driver — is identical."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_bytes": [], "frame_checksum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            dec = decode_media(payload)
            if dec["modality"] != "video":
                continue
            nf, fw, fh = dec["dims"]
            fsize = fw * fh
            for i in range(0, nf, _FRAME_STRIDE):
                frame = dec["samples"][i * fsize : (i + 1) * fsize]
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["frame_bytes"].append(len(frame))
                out["frame_checksum"].append(sum(frame))
        yield pd.DataFrame(out)


@register(
    "mm_framesample",
    oracle=f"""
WITH v AS (
    SELECT doc_id, 8 + doc_id % 8 AS n_frames FROM documents WHERE doc_id % 3 = 2
), f AS (
    SELECT doc_id, unnest(range(0, n_frames)) AS frame_idx FROM v
)
SELECT doc_id, frame_idx,
       CAST({_FRAME_W * _FRAME_H} AS BIGINT) AS frame_bytes,
       CAST(list_aggregate(list_transform(
               range(frame_idx * {_FRAME_W * _FRAME_H}, (frame_idx + 1) * {_FRAME_W * _FRAME_H}),
               p -> (doc_id * {_A1} + p * {_A2}) % 256), 'sum') AS BIGINT) AS frame_checksum
FROM f WHERE frame_idx % {_FRAME_STRIDE} = 0
""",
)
def mm_framesample(spark, sf_dir):
    """Video frame sampling over a decoded binary column: parse the
    video header, slice fixed-size frame planes from the decoded body,
    keep every {stride}-th, one output row per sampled frame. The
    explode happens inside the Arrow batch (mapInPandas), so at 100 TB
    the fan-out never serializes through the driver and stays
    partition-local."""
    return _binify(spark, sf_dir).mapInPandas(_frame_sample, schema=_FRAME_SCHEMA)


_RESIZE_SCHEMA = (
    "doc_id bigint, orig_w bigint, orig_h bigint, resized_pixels bigint, resized_checksum bigint"
)


def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Downsample-by-2 resize over decoded image planes — stands in for a
    PIL thumbnail; same series→series Arrow batch shape."""
    for pdf in batches:
        out: dict[str, list] = {
            "doc_id": [], "orig_w": [], "orig_h": [], "resized_pixels": [], "resized_checksum": []
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            dec = decode_media(payload)
            if dec["modality"] != "image":
                continue
            w, h = dec["dims"]
            resized = dec["samples"][::2]
            out["doc_id"].append(doc_id)
            out["orig_w"].append(w)
            out["orig_h"].append(h)
            out["resized_pixels"].append(len(resized))
            out["resized_checksum"].append(sum(resized))
        yield pd.DataFrame(out)


@register(
    "mm_resize",
    oracle=f"""
SELECT doc_id,
       CAST(8 AS BIGINT) AS orig_w,
       CAST(4 + doc_id % 4 AS BIGINT) AS orig_h,
       CAST((8 * (4 + doc_id % 4) + 1) // 2 AS BIGINT) AS resized_pixels,
       CAST(list_aggregate(list_transform(
               range(0, 8 * (4 + doc_id % 4), 2),
               p -> (doc_id * {_A1} + p * {_A2}) % 256), 'sum') AS BIGINT) AS resized_checksum
FROM documents WHERE doc_id % 3 = 0
""",
)
def mm_resize(spark, sf_dir):
    """Image-resize plumbing over a decoded binary column: header parse →
    pixel plane → downsample-by-2 → re-emitted features + dimensions.
    Narrow per-partition transform, no shuffle; the production decode
    swaps in PIL without touching the Spark plan."""
    return _binify(spark, sf_dir).mapInPandas(_resize, schema=_RESIZE_SCHEMA)


_PHASH_SCHEMA = "doc_id bigint, phash bigint"


def _phash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Average-hash over the decoded pixel plane: bit i set iff pixel i
    is strictly brighter than the image mean. The real-image version
    grayscales + resizes to 8x8 with PIL first; the hash math and the
    Arrow batch shape are identical."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "phash": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            dec = decode_media(payload)
            if dec["modality"] != "image":
                continue
            px = dec["samples"]
            mean = sum(px) / len(px)
            h = 0
            for i, p in enumerate(px):
                if p > mean:
                    h |= 1 << i
            out["doc_id"].append(doc_id)
            out["phash"].append(h)
        yield pd.DataFrame(out)


@register(
    "mm_phash_dedup",
    oracle=f"""
WITH px AS (
    SELECT doc_id, 8 * (4 + doc_id % 4) AS n,
           list_transform(range(0, 8 * (4 + doc_id % 4)),
                          i -> (doc_id * {_A1} + i * {_A2}) % 256) AS samples
    FROM documents WHERE doc_id % 3 = 0
), h AS (
    SELECT doc_id,
           CAST(list_aggregate(samples, 'sum') AS DOUBLE) / n AS mean,
           samples, n
    FROM px
), p AS (
    SELECT doc_id,
           CAST(list_aggregate(list_transform(range(0, n),
                i -> CASE WHEN samples[i + 1] > mean THEN 1::BIGINT << i ELSE 0 END),
                'sum') AS BIGINT) AS phash
    FROM h
)
SELECT doc_id, phash,
       CAST(COUNT(*) OVER (PARTITION BY phash) AS BIGINT) AS group_size,
       MIN(doc_id) OVER (PARTITION BY phash) AS keep_doc_id
FROM p
""",
)
def mm_phash_dedup(spark, sf_dir):
    """Perceptual-hash image dedup — the first-pass near-dup filter every
    100 TB multimodal corpus runs before any embedding model: decode the
    binary image column executor-side (Arrow batches), compute a 64-bit
    average-hash per image, then group identical hashes into dup groups
    keeping the lowest doc_id. Decode + hash are narrow (zero shuffle);
    the only exchange is the hash groupBy on one 64-bit key — the
    llm_dedup_exact shape, through the multimodal decode path. Hamming-
    near pairs extend via banded equi-join (the llm_dedup_simhash
    pattern) without changing this op's plan. The oracle recomputes the
    identical hash from the format's deterministic sample stream."""
    from pyspark.sql import Window

    hashes = _binify(spark, sf_dir).mapInPandas(_phash, schema=_PHASH_SCHEMA)
    # Window over phash, NOT groupBy + self-join: the join form re-runs
    # the Arrow decode pass once per consumer — the single most
    # expensive duplication possible here (caught by the duplicate-scan
    # plan sweep). One decode, one exchange.
    w = Window.partitionBy("phash")
    return hashes.select(
        "doc_id",
        "phash",
        F.count(F.lit(1)).over(w).cast("bigint").alias("group_size"),
        F.min("doc_id").over(w).alias("keep_doc_id"),
    )


@register(
    "mm_caption_align",
    oracle=r"""
WITH words AS (
    SELECT doc_id,
           unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
    FROM documents
), bucketed AS (
    SELECT doc_id,
           CAST(CAST(('0x' || substr(md5(word), 1, 13)) AS BIGINT) % 64 AS INTEGER) AS b,
           CAST(COUNT(*) AS DOUBLE) AS c
    FROM words GROUP BY 1, 2
), dots AS (
    SELECT bk.doc_id,
           SUM(bk.c * CAST(e.embedding[bk.b + 1] AS DOUBLE)) AS dot,
           SQRT(SUM(bk.c * bk.c)) AS tnorm
    FROM bucketed bk JOIN embeddings e ON bk.doc_id = e.vec_id
    GROUP BY 1
), enorm AS (
    SELECT vec_id,
           SQRT(SUM(CAST(embedding[g.i] AS DOUBLE) * CAST(embedding[g.i] AS DOUBLE))) AS enorm
    FROM embeddings, generate_series(1, 64) g(i)
    GROUP BY 1
)
SELECT d.doc_id,
       FLOOR(d.dot / (d.tnorm * e.enorm) * 1000000 + 0.5) / 1000000 AS align_score,
       d.dot / (d.tnorm * e.enorm) > 0.05 AS is_aligned
FROM dots d JOIN enorm e ON d.doc_id = e.vec_id
""",
)
def mm_caption_align(spark, sf_dir):
    """CLIP-style caption↔embedding alignment filter — the multimodal
    curation step that drops miscaptioned pairs before training: score
    each (document text, paired embedding) by the cosine between the
    caption's hashed bag-of-words histogram (md5 word hash mod 64, the
    embedding's dimensionality) and the embedding vector. The text
    histogram is never materialized as a dense vector: the cosine
    numerator is the SPARSE dot Σ count_b · emb[b] computed by joining
    per-(doc, bucket) counts straight onto the embedding array — one
    explode-aggregate, one equi-join on the pair key, linear in total
    words. A real deployment swaps the hashed histogram for a text-tower
    embedding; the pairing join and the sparse-dot shape are unchanged."""
    words = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("word"),
    )
    bucketed = words.groupBy(
        "doc_id",
        (
            F.conv(F.substring(F.md5("word"), 1, 13), 16, 10).cast("bigint") % 64
        ).cast("int").alias("b"),
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    e = t(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        "embedding",
        F.expr(
            "sqrt(aggregate(transform(embedding, x -> cast(x as double) * cast(x as double)),"
            " 0D, (a, x) -> a + x))"
        ).alias("enorm"),
    )
    dots = (
        bucketed.join(e, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("c") * F.expr("cast(element_at(embedding, b + 1) as double)")
            ).alias("dot"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("tnorm"),
            F.first("enorm").alias("enorm"),
        )
    )
    cos = F.col("dot") / (F.col("tnorm") * F.col("enorm"))
    return dots.select(
        "doc_id",
        qround(cos).alias("align_score"),
        (cos > 0.05).alias("is_aligned"),
    )


@register(
    "mm_header_parse",
    oracle="""
SELECT doc_id,
       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       CASE doc_id % 3 WHEN 0 THEN 8
                       WHEN 1 THEN 32 + doc_id % 32
                       ELSE 8 + doc_id % 8 END AS dim1,
       CASE doc_id % 3 WHEN 0 THEN 4 + doc_id % 4
                       WHEN 1 THEN NULL
                       ELSE 16 END AS dim2,
       CASE doc_id % 3 WHEN 0 THEN 8 * (4 + doc_id % 4)
                       WHEN 1 THEN 32 + doc_id % 32
                       ELSE (8 + doc_id % 8) * 16 END AS body_len,
       TRUE AS header_ok
FROM documents
""",
)
def mm_header_parse(spark, sf_dir):
    """Header-only metadata extraction from the binary payload IN
    CODEGEN — no Arrow hop, no Python: magic bytes validated and
    big-endian u16/u32 dimension fields decoded with substring-on-binary
    + hex + conv JVM expressions. This is the 100 TB fast path for the
    header-only passes a media pipeline runs constantly (routing,
    size-bucketing, corruption triage) where shipping payload bytes to
    Python would dominate the cost; the full body decode stays on the
    mapInPandas path (mm_features). The oracle recomputes the expected
    dimensions from the container's doc_id-derived layout; header_ok
    asserts magic + per-modality body-length consistency Spark-side."""
    b = _binify(spark, sf_dir)
    u8 = lambda pos: F.conv(F.hex(F.expr(f"substring(payload, {pos}, 1)")), 16, 10).cast("bigint")
    u16 = lambda pos: F.conv(F.hex(F.expr(f"substring(payload, {pos}, 2)")), 16, 10).cast("bigint")
    u32 = lambda pos: F.conv(F.hex(F.expr(f"substring(payload, {pos}, 4)")), 16, 10).cast("bigint")
    tag = F.expr("substring(payload, 4, 1)").cast("string")
    modality = (
        F.when(tag == "I", "image").when(tag == "A", "audio").otherwise("video")
    )
    dim1 = (
        F.when(tag == "I", u16(5))
        .when(tag == "A", u32(5))
        .otherwise(u16(5))
    )
    dim2 = (
        F.when(tag == "I", u16(7))
        .when(tag == "A", F.lit(None).cast("bigint"))
        .otherwise(u8(7) * u8(8))
    )
    body_len = (F.length("payload") - 8).cast("bigint")  # all headers are 8 bytes
    magic_ok = F.expr("substring(payload, 1, 3)").cast("string") == "SY1"
    expect_body = (
        F.when(tag == "I", u16(5) * u16(7))
        .when(tag == "A", u32(5))
        .otherwise(u16(5) * u8(7) * u8(8))
    )
    return b.select(
        "doc_id",
        modality.alias("modality"),
        dim1.alias("dim1"),
        dim2.alias("dim2"),
        body_len.alias("body_len"),
        (magic_ok & (body_len == expect_body)).alias("header_ok"),
    )


@register(
    "mm_tile_grid",
    oracle="""
WITH imgs AS (
    SELECT doc_id, 8 AS w, 4 + doc_id % 4 AS h
    FROM documents WHERE doc_id % 3 = 0
), grid AS (
    SELECT doc_id, w, h,
           (w + 3) // 4 AS tx_n, (h + 3) // 4 AS ty_n
    FROM imgs
)
SELECT g.doc_id,
       CAST(i % tx_n AS BIGINT) AS tx,
       CAST(i // tx_n AS BIGINT) AS ty,
       CAST(LEAST(4, w - (i % tx_n) * 4) AS BIGINT) AS tile_w,
       CAST(LEAST(4, h - (i // tx_n) * 4) AS BIGINT) AS tile_h
FROM grid g, LATERAL (SELECT unnest(range(0, tx_n * ty_n)) AS i) s
""",
)
def mm_tile_grid(spark, sf_dir):
    """ViT-style patch-grid expansion — vision preprocessing turns every
    image into a grid of fixed-size patches (plus ragged right/bottom
    edge tiles); the downstream embed step runs per patch, so the
    engine must explode images into patch rows WITHOUT leaving codegen.
    The image dimensions are parsed from the REAL binary header (the
    same substring+conv decode as mm_header_parse — no Python, no
    Arrow hop), then `posexplode(sequence(...))` emits one row per
    4x4 tile with its clipped extent. The oracle regenerates the grid
    arithmetic from the container's doc_id-derived layout. Fan-out is
    bounded (ceil(w/4)*ceil(h/4) per image), a pure narrow projection:
    at 100 TB this pipelines inside the scan stage with zero shuffles."""
    b = _binify(spark, sf_dir)
    u16 = lambda pos: F.conv(F.hex(F.expr(f"substring(payload, {pos}, 2)")), 16, 10).cast("bigint")
    tag = F.expr("substring(payload, 4, 1)").cast("string")
    imgs = b.filter(tag == "I").select(
        "doc_id", u16(5).alias("w"), u16(7).alias("h")
    )
    grid = imgs.select(
        "doc_id", "w", "h",
        F.floor((F.col("w") + 3) / 4).alias("tx_n"),
        F.floor((F.col("h") + 3) / 4).alias("ty_n"),
    )
    exploded = grid.select(
        "doc_id", "w", "h", "tx_n",
        F.explode(F.expr("sequence(0, tx_n * ty_n - 1)")).alias("i"),
    )
    tx = F.col("i") % F.col("tx_n")
    ty = F.floor(F.col("i") / F.col("tx_n"))
    return exploded.select(
        "doc_id",
        tx.cast("bigint").alias("tx"),
        ty.cast("bigint").alias("ty"),
        F.least(F.lit(4), F.col("w") - tx * 4).cast("bigint").alias("tile_w"),
        F.least(F.lit(4), F.col("h") - ty * 4).cast("bigint").alias("tile_h"),
    )


def _audio_samples(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One audio row → one row per PCM sample (Arrow-side explode)."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "idx": [], "sample": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            dec = decode_media(payload)
            if dec["modality"] != "audio":
                continue
            for i, s in enumerate(dec["samples"]):
                out["doc_id"].append(doc_id)
                out["idx"].append(i)
                out["sample"].append(s)
        yield pd.DataFrame(out)


@register(
    "mm_activity_segments",
    oracle=f"""
WITH samples AS (
    SELECT doc_id, i AS idx, (doc_id * {_A1} + i * {_A2}) % 256 AS sample
    FROM (SELECT doc_id, 32 + doc_id % 32 AS n FROM documents WHERE doc_id % 3 = 1),
         LATERAL (SELECT unnest(range(0, n)) AS i) s
), active AS (
    SELECT doc_id, idx,
           idx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY idx) AS seg
    FROM samples WHERE sample >= 128
), segs AS (
    SELECT doc_id, seg, COUNT(*) AS seg_len
    FROM active GROUP BY doc_id, seg
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(MAX(seg_len) AS BIGINT) AS max_seg_len,
       CAST(SUM(seg_len) AS BIGINT) AS n_active
FROM segs GROUP BY doc_id
""",
)
def mm_activity_segments(spark, sf_dir):
    """Voice-activity-style segmentation over decoded audio — the
    speech-pipeline primitive that turns raw PCM into utterance spans
    (then only the active spans get transcribed/embedded). The decode
    explodes samples INSIDE the Arrow worker (one audio row → n sample
    rows, bounded n ≤ 63 — never a driver-side loop), thresholding and
    the gaps-and-islands run-grouping (idx − row_number = segment id)
    run as native window/aggregate passes partitioned by doc_id. A
    production swap puts real PCM frames and an energy threshold in
    the same seams. Integer-exact end to end; the oracle regenerates
    the deterministic sample stream and the identical island algebra."""
    from pyspark.sql import Window

    samples = _binify(spark, sf_dir).mapInPandas(
        _audio_samples, schema="doc_id bigint, idx bigint, sample bigint"
    )
    w = Window.partitionBy("doc_id").orderBy("idx")
    active = samples.filter(F.col("sample") >= 128).withColumn(
        "seg", F.col("idx") - F.row_number().over(w)
    )
    segs = active.groupBy("doc_id", "seg").agg(F.count(F.lit(1)).alias("seg_len"))
    return segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        F.max("seg_len").cast("bigint").alias("max_seg_len"),
        F.sum("seg_len").cast("bigint").alias("n_active"),
    )


@register(
    "mm_modality_balance",
    oracle="""
WITH m AS (
    SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
               AS modality,
           8 + CASE doc_id % 3
             WHEN 0 THEN 8 * (4 + doc_id % 4)
             WHEN 1 THEN 32 + doc_id % 32
             ELSE (8 + doc_id % 8) * 16
           END AS payload_bytes
    FROM documents
), per AS (
    SELECT modality, COUNT(*) AS n,
           CAST(SUM(payload_bytes) AS BIGINT) AS total_bytes
    FROM m GROUP BY modality
), tot AS (SELECT SUM(n) AS nt FROM per)
SELECT modality, CAST(n AS BIGINT) AS n_docs, total_bytes,
       ROUND(CAST(n AS DOUBLE) / nt, 6) AS share,
       ROUND((1.0 / 3) / (CAST(n AS DOUBLE) / nt), 6) AS resample_factor
FROM per, tot
""",
)
def mm_modality_balance(spark, sf_dir):
    """Modality mixture balance — llm_mixture_balance's multimodal
    sibling: a vision-language training mix is specified as modality
    shares, and the resample factor per modality (target share /
    actual share) is what the sampling stage multiplies against. The
    actual mix is measured from the REAL payload headers (the same
    codegen substring+conv decode as mm_header_parse — byte sizes
    include the 8-byte header, i.e. what storage actually bills), not
    from metadata that may lie. One narrow decode + one aggregate +
    one broadcast total; at 100 TB the mix table is 3 rows."""
    b = _binify(spark, sf_dir)
    tag = F.expr("substring(payload, 4, 1)").cast("string")
    modality = (
        F.when(tag == "I", "image").when(tag == "A", "audio").otherwise("video")
    )
    per = b.select(
        modality.alias("modality"), F.length("payload").cast("bigint").alias("payload_bytes")
    ).groupBy("modality").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("payload_bytes").cast("bigint").alias("total_bytes"),
    )
    share = F.col("n").cast("double") / F.col("nt")
    return with_stats(per, F.sum("n").alias("nt")).select(
        "modality",
        F.col("n").cast("bigint").alias("n_docs"),
        "total_bytes",
        F.round(share, 6).alias("share"),
        F.round((F.lit(1.0) / 3) / share, 6).alias("resample_factor"),
    )


def _all_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """One video row → one row per frame (no stride — boundary
    detection needs consecutive frames)."""
    for pdf in batches:
        out: dict[str, list] = {"doc_id": [], "frame_idx": [], "checksum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            dec = decode_media(payload)
            if dec["modality"] != "video":
                continue
            nf, fw, fh = dec["dims"]
            fsize = fw * fh
            for i in range(nf):
                out["doc_id"].append(doc_id)
                out["frame_idx"].append(i)
                out["checksum"].append(sum(dec["samples"][i * fsize : (i + 1) * fsize]))
        yield pd.DataFrame(out)


@register(
    "mm_shot_boundaries",
    oracle=f"""
WITH vids AS (
    SELECT doc_id, 8 + doc_id % 8 AS nf
    FROM documents WHERE doc_id % 3 = 2
), frames AS (
    SELECT doc_id, f.i AS frame_idx,
           list_aggregate(list_transform(range(f.i * 16, (f.i + 1) * 16),
               j -> (doc_id * {_A1} + j * {_A2}) % 256), 'sum') AS checksum
    FROM vids, LATERAL (SELECT unnest(range(0, nf)) AS i) f
), deltas AS (
    SELECT doc_id, frame_idx, checksum,
           ABS(checksum - LAG(checksum) OVER (PARTITION BY doc_id
                                              ORDER BY frame_idx)) AS d
    FROM frames
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(1 + SUM(CASE WHEN d > 300 THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
       CAST(MAX(d) AS BIGINT) AS max_delta
FROM deltas GROUP BY doc_id
""",
)
def mm_shot_boundaries(spark, sf_dir):
    """Shot-boundary detection — the video-pipeline segmentation step
    (cut detection before per-shot captioning/embedding): decode EVERY
    frame (Arrow-side explode, no stride — boundaries live between
    consecutive frames), per-frame content checksum, and a cut
    wherever the frame-to-frame delta exceeds threshold; shots =
    cuts + 1. A production swap replaces the checksum with a frame-
    histogram distance in the same per-doc LAG window — the Spark
    shape (mapInPandas decode → doc-keyed ordered window → aggregate)
    is the deliverable. The oracle regenerates the deterministic frame
    stream; integer-exact end to end."""
    frames = _binify(spark, sf_dir).mapInPandas(
        _all_frames, schema="doc_id bigint, frame_idx bigint, checksum bigint"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    deltas = frames.withColumn(
        "d", F.abs(F.col("checksum") - F.lag("checksum").over(w))
    )
    return deltas.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        (1 + F.sum((F.col("d") > 300).cast("long"))).cast("bigint").alias("n_shots"),
        F.max("d").cast("bigint").alias("max_delta"),
    )
