"""Multimodal column support: opaque binary payloads + typed metadata.

An LLM-data pipeline carries images/audio/video as ``binary`` columns
with a metadata struct alongside. This module provides the Spark-side
plumbing — schema, partition-aware batching, Arrow-batched UDF
signatures. ``extract_features``, ``resize_payload`` and
``sample_frames`` stand in for library codecs (image/audio libs are
not installed) with deterministic byte-level fakes of the real op's
shape, so the full pipeline is testable end-to-end;
``decode_png_stats`` and ``decode_gif_stats`` run real codecs written
on the stdlib (``functions.png``/``functions.gif``).

Design rules that hold at 100 TB:

* Payload bytes NEVER pass through a row-at-a-time Python UDF — all
  Python crossings are Arrow batches, through ONE helper:
  ``_map_rows`` holds the module's only ``mapInPandas``, and every
  kernel is a row function (one input row → zero, one or many output
  tuples) plus its output schema.
* One NULL-payload rule for the seven decoders (``_decode_rows``): a
  NULL payload keeps its id (and passthrough columns) with NULL stats;
  malformed non-NULL bytes still raise ``ValueError``. The three
  stand-ins accept NULL as before: ``extract_features`` gives
  ``n_bytes`` 0 and NULL features, ``resize_payload`` and
  ``sample_frames`` read it as empty bytes.
* Metadata predicates (format/width/size filters) are plain Column
  expressions on the struct, so Catalyst pushes them into the parquet
  scan and prunes the (huge) payload column when it isn't selected.
* Feature extraction emits a bounded-size vector per row; the payload
  column is dropped before any shuffle (shuffling raw media is the #1
  scale-killer for multimodal tables).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gcp_food_delivery_data_pipeline_spark.functions.gif import (
    decode_gif_gray,
    encode_gif_gray,
)
from gcp_food_delivery_data_pipeline_spark.functions.png import (
    decode_png_gray,
    decode_png_rgb,
    encode_png_gray,
    encode_png_rgb,
)
from gcp_food_delivery_data_pipeline_spark.functions.wav import (
    decode_wav_pcm16,
    encode_wav_pcm16,
)
from gcp_food_delivery_data_pipeline_spark.operators.scale import (
    ensure_min_partitions,
)
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

META_FIELDS = ["media_type", "format", "width", "height", "n_bytes"]

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def _map_rows(
    df: DataFrame,
    cols: tuple[str, ...],
    fn: Callable[..., Iterable[tuple]],
    schema: StructType,
) -> DataFrame:
    """The module's one Arrow crossing: ``df``'s ``cols`` reach Python
    one Arrow batch at a time, ``fn(*row)`` returns that row's output
    tuples in ``schema`` order (none, one or many), and each batch's
    tuples go back as one frame.

    Output columns are built ``object``-typed: pandas would turn an
    int column holding a ``None`` into float64 and round values past
    2**53 on the way to Arrow.
    """
    names = schema.fieldNames()

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                out for row in zip(*(pdf[c] for c in cols)) for out in fn(*row)
            ]
            yield pd.DataFrame(rows, columns=names, dtype=object)

    return ensure_min_partitions(df.select(*cols)).mapInPandas(process, schema)


def _decode_rows(
    df: DataFrame,
    id_col: str,
    payload_col: str,
    stats: Callable[[bytes], tuple | None],
    schema: StructType,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """A decoder over ``_map_rows``: each row gives ``(id, *stats(bytes),
    *passthrough)``; ``stats`` returns ``None`` to drop the row. A NULL
    payload keeps its id and passthrough columns with NULL stats."""
    nulls = (None,) * (len(schema.fields) - 1 - len(passthrough))

    def row(doc_id, payload, *extra):
        if payload is None:
            return [(doc_id, *nulls, *extra)]
        out = stats(bytes(payload))
        return [] if out is None else [(doc_id, *out, *extra)]

    return _map_rows(df, (id_col, payload_col, *passthrough), row, schema)


def _with_meta(
    flat: DataFrame, media_type: str, fmt: str | Column, *fields: str | Column
) -> DataFrame:
    """``flat``'s id (its first column) and ``payload``, plus the typed
    ``meta`` struct ``(media_type, format, *fields)``; ``fmt`` is a
    literal or a Column."""
    return flat.select(
        flat.columns[0],
        "payload",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            *fields,
        ).alias("meta"),
    )


def attach_fake_payload(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize a multimodal-shaped frame from the documents table:
    payload = UTF-8 bytes of the text (a deterministic stand-in for
    image bytes), metadata = typed struct derived from the content.

    Real pipelines read these columns straight from parquet; this
    exists so tests and the driver tables can exercise the plumbing.
    """
    n_bytes = F.octet_length(F.col(text_col)).cast("long")
    flat = documents.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        ((n_bytes % 64) + 1).cast("int").alias("width"),
        ((n_bytes % 48) + 1).cast("int").alias("height"),
        n_bytes.alias("n_bytes"),
    )
    fmt = F.when((F.col("n_bytes") % 2) == 0, F.lit("png")).otherwise(
        F.lit("jpeg")
    )
    return _with_meta(flat, "image", fmt, "width", "height", "n_bytes")


def filter_by_meta(
    df: DataFrame,
    formats: list[str] | None = None,
    min_width: int | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Metadata predicate pushdown path — struct-field filters only.

    Selecting from ``meta.*`` never touches ``payload``: with payload
    and meta in separate parquet columns the scan skips the media bytes
    entirely (verify with ``.explain`` → ReadSchema).
    """
    out = df
    if formats is not None:
        out = out.filter(F.col("meta.format").isin(formats))
    if min_width is not None:
        out = out.filter(F.col("meta.width") >= min_width)
    if max_bytes is not None:
        out = out.filter(F.col("meta.n_bytes") <= max_bytes)
    return out


def _fake_features(payload: bytes, dim: int) -> list[float]:
    """Deterministic stand-in featurizer: byte-histogram folded to dim."""
    acc = [0.0] * dim
    for i, byte in enumerate(payload):
        acc[i % dim] += float(byte) / 255.0
    return acc


def extract_features(
    df: DataFrame,
    dim: int = 16,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    ``mapInPandas``: each Arrow batch crosses to Python ONCE; the
    output drops the payload (features only), so nothing downstream
    ever shuffles media bytes. The featurizer is a deterministic
    byte-histogram folded to ``dim`` — the place a codec
    (PIL/ffmpeg/...) decode would sit.
    """

    def row(doc_id, p):
        if p is None:
            return [(doc_id, 0, None)]
        return [(doc_id, len(p), _fake_features(p, dim))]

    return _map_rows(df, (id_col, payload_col), row, FEATURE_SCHEMA)


RESIZE_FLAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def resize_payload(
    df: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Resize every payload to ``width x height`` — Arrow-batched, same
    (payload, meta) contract out as in, so resizes chain with the other
    multimodal ops.

    The source payload is byte-cycled to exactly ``width*height``
    bytes (empty payload → zero bytes), a deterministic stand-in for a
    codec resize (PIL/libvips) with the real op's shape: output size is
    target-determined, content is source-determined. Output payload
    size is FIXED per call — downstream batch sizing
    (maxRecordsPerFile, Arrow batch bytes) can rely on it, which is the
    property a real thumbnailing stage is deployed for at scale. A NULL
    ``meta`` keeps its row, with NULL ``media_type`` and ``format``.
    """
    n_out = width * height

    def row(doc_id, p, meta):
        if p is None or len(p) == 0:
            resized = bytes(n_out)
        else:
            resized = (bytes(p) * (n_out // len(p) + 1))[:n_out]
        kind, fmt = (None, None) if meta is None else (
            meta["media_type"], meta["format"]
        )
        return [(doc_id, resized, kind, fmt, width, height, n_out)]

    flat = _map_rows(df, (id_col, "payload", "meta"), row, RESIZE_FLAT_SCHEMA)
    return flat.select(
        "doc_id",
        "payload",
        F.struct(*META_FIELDS).alias("meta"),
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def sample_frames(
    df: DataFrame,
    n_frames: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Sample ``n_frames`` frames from each (video-shaped) payload —
    the explode-shaped multimodal op: one input row → n output rows,
    each carrying a bounded frame payload instead of the whole video.

    Emits ``n_frames`` contiguous even byte-slices (earlier frames get
    the remainder bytes), a stand-in for a demuxer (ffmpeg) that keeps
    the real op's cardinality and size arithmetic. The full payload
    never leaves the scan stage: the fan-out happens inside the same
    Arrow pass, and only frame-sized slices flow on.
    """

    def row(doc_id, p):
        p = bytes(p) if p is not None else b""
        base, rem = divmod(len(p), n_frames)
        frames, off = [], 0
        for i in range(n_frames):
            size = base + (1 if i < rem else 0)
            frames.append((doc_id, i, p[off : off + size]))
            off += size
        return frames

    return _map_rows(df, (id_col, payload_col), row, FRAME_SCHEMA)


PNG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_px", DoubleType()),
    ]
)

_IMAGE_FLAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def attach_png_payload(
    documents: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize REAL PNG payloads (not byte fakes) from the documents
    table: each doc gets an 8-bit grayscale gradient image whose
    geometry and base shade derive from ``doc_id`` —
    ``width = id % 16 + 1``, ``height = id % 12 + 1``,
    ``pixel(x, y) = id % 200 + x + y`` (≤ 226, so no wrap). Encoding
    goes through ``functions.png.encode_png_gray`` with cycling row
    filters, so the bytes are standards-compliant PNGs any viewer
    opens, and decode exercises every PNG filter type.

    Arrow-batched like every payload producer; the meta struct carries
    the same typed fields as ``attach_fake_payload``.
    """

    def row(doc_id):
        i = int(doc_id)
        w, h, c = i % 16 + 1, i % 12 + 1, i % 200
        pixels = bytes(c + x + y for y in range(h) for x in range(w))
        png = encode_png_gray(w, h, pixels, filter_mode="cycle")
        return [(i, png, w, h, len(png))]

    flat = _map_rows(documents, (id_col,), row, _IMAGE_FLAT_SCHEMA)
    return _with_meta(flat, "image", "png", "width", "height", "n_bytes")


def decode_png_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """REAL image decode over the payload column: parse the PNG
    (signature, chunks, CRCs), inflate IDAT with zlib, reconstruct all
    five scanline filter types, and emit per-image stats —
    ``(doc_id, width, height, mean_px)``. This is the end-to-end form
    of the decode stage ``extract_features`` fakes: same Arrow
    batching, same payload-drop-before-shuffle shape, but the bytes
    actually round-trip through a working codec (``functions.png``).

    ``passthrough`` names extra input columns echoed onto each output
    row (appended after the stats columns). When a caller needs scan
    metadata (e.g. the media source's ``kind``) alongside the decoded
    stats, carrying it through the Arrow batch costs a few bytes per
    row — versus the join-back alternative, which re-scans the whole
    media source (the Python Data Source API has no column pruning, so
    the "metadata" scan re-reads every payload byte) and shuffles both
    sides (guide §4.1: pass the columns the plan needs; §2.4: remove
    the join's exchanges outright).
    """

    # A passthrough name that collides with a stats column would
    # give the output two fields of one name; one equal to id/payload
    # duplicates the select (ADVICE r15) — refuse both.
    reserved = {"doc_id", "width", "height", "mean_px", id_col, payload_col}
    dup = sorted(set(passthrough) & reserved)
    if dup:
        raise ValueError(
            "decode_png_stats: passthrough collides with stats/id/"
            f"payload columns: {dup}"
        )

    def stats(p):
        w, h, pixels = decode_png_gray(p)
        return w, h, sum(pixels) / (w * h)

    schema = StructType(
        PNG_STATS_SCHEMA.fields + [df.schema[c] for c in passthrough]
    )
    return _decode_rows(df, id_col, payload_col, stats, schema, passthrough)


PNG_RGB_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def attach_png_rgb_payload(
    documents: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize REAL truecolor PNG payloads (color type 2) from the
    documents table: each doc gets an 8-bit RGB gradient whose
    geometry and base shades derive from ``doc_id`` —
    ``width = id % 12 + 1``, ``height = id % 9 + 1``,
    ``r(x,y) = id % 180 + x``, ``g(x,y) = id % 180 + y``,
    ``b(x,y) = id % 80 + x + y`` (maxima 190/187/98, so no wrap).
    Encoding goes through ``functions.png.encode_png_rgb`` with
    cycling row filters, so the bytes are standards-compliant
    truecolor PNGs and decode exercises every filter type at bpp=3
    (the "left" reference 3 bytes back — the branch the grayscale
    codec never takes).
    """

    def row(doc_id):
        i = int(doc_id)
        w, h = i % 12 + 1, i % 9 + 1
        cg, cb = i % 180, i % 80
        pixels = bytearray()
        for y in range(h):
            for x in range(w):
                pixels += bytes((cg + x, cg + y, cb + x + y))
        png = encode_png_rgb(w, h, bytes(pixels), filter_mode="cycle")
        return [(i, png, w, h, len(png))]

    flat = _map_rows(documents, (id_col,), row, _IMAGE_FLAT_SCHEMA)
    return _with_meta(flat, "image", "png", "width", "height", "n_bytes")


def decode_png_rgb_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL truecolor decode over the payload column: parse the PNG,
    CRC-check, inflate, reconstruct bpp=3 filters, and emit per-image
    per-channel stats ``(doc_id, width, height, mean_r, mean_g,
    mean_b)`` — the color sibling of ``decode_png_stats``, same Arrow
    batching and payload-drop-before-shuffle shape.
    """

    def stats(p):
        w, h, pixels = decode_png_rgb(p)
        n = w * h
        return (w, h, *(sum(pixels[c::3]) / n for c in range(3)))

    return _decode_rows(df, id_col, payload_col, stats, PNG_RGB_STATS_SCHEMA)


WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("sum_samples", LongType()),
    ]
)


def attach_wav_payload(
    documents: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize REAL WAV payloads from the documents table: each doc
    gets a mono 16-bit PCM ramp whose geometry derives from ``doc_id``
    — ``n_samples = id % 50 + 10``, ``sample_rate = 8000 + (id % 3) *
    4000``, ``sample[i] = id % 1000 + i``. Encoding goes through the
    stdlib ``wave`` writer (``functions.wav``), so the bytes are
    standards-compliant RIFF/PCM any audio tool opens.
    """

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("sample_rate", IntegerType()),
            StructField("n_bytes", LongType()),
        ]
    )

    def row(doc_id):
        i = int(doc_id)
        n, rate, c = i % 50 + 10, 8000 + (i % 3) * 4000, i % 1000
        wav = encode_wav_pcm16([c + k for k in range(n)], rate)
        return [(i, wav, rate, len(wav))]

    flat = _map_rows(documents, (id_col,), row, out_schema)
    width = F.col("sample_rate").alias("width")
    height = F.lit(1).alias("height")
    return _with_meta(flat, "audio", "wav", width, height, "n_bytes")


def decode_wav_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL audio decode over the payload column: parse the RIFF
    container with the stdlib ``wave`` reader, unpack the PCM frames,
    and emit per-clip stats ``(doc_id, sample_rate, n_samples,
    sum_samples)`` — the audio twin of ``decode_png_stats``, same
    Arrow batching, same payload-drop-before-shuffle shape.
    """

    def stats(p):
        rate, n, samples = decode_wav_pcm16(p)
        return rate, n, sum(samples)

    return _decode_rows(df, id_col, payload_col, stats, WAV_STATS_SCHEMA)


GIF_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_px", DoubleType()),
    ]
)

_GIF_FLAT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)


def attach_gif_payload(
    documents: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize REAL animated-GIF payloads (functions/gif.py) from
    the documents table — the VIDEO-shaped media column: ``n_frames =
    id % 5 + 1`` grayscale frames of ``(id % 10 + 1) × (id % 7 + 1)``,
    frame f's pixel(x, y) = ``id % 150 + 10·f + x + y`` (≤ 204, no
    wrap). Bytes are standards-compliant GIF89a any viewer animates;
    the arithmetic construction is what lets the oracle pin decode
    stats in closed form."""

    def row(doc_id):
        i = int(doc_id)
        nf, w, h, c = i % 5 + 1, i % 10 + 1, i % 7 + 1, i % 150
        frames = [
            bytes(c + 10 * f + x + y for y in range(h) for x in range(w))
            for f in range(nf)
        ]
        gif = encode_gif_gray(w, h, frames)
        return [(i, gif, nf, w, h, len(gif))]

    flat = _map_rows(documents, (id_col,), row, _GIF_FLAT_SCHEMA)
    return _with_meta(
        flat, "video", "gif", "n_frames", "width", "height", "n_bytes"
    )


def decode_gif_stats(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL multi-frame decode over the payload column: parse the GIF
    container, LZW-decode EVERY frame, and emit
    ``(doc_id, n_frames, width, height, mean_px)`` where ``mean_px``
    averages over all frames' pixels — the working form of the
    frame-sampling stage ``sample_frames`` fakes."""

    def stats(p):
        w, h, frames = decode_gif_gray(p)
        mean = sum(sum(f) for f in frames) / (w * h * len(frames))
        return len(frames), w, h, mean

    return _decode_rows(df, id_col, payload_col, stats, GIF_STATS_SCHEMA)


def attach_gif_scene_payload(
    documents: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Synthesize animated GIFs with SCENE STRUCTURE: ``n_frames =
    id % 6 + 2`` grayscale frames of ``(id % 10 + 1) × (id % 7 + 1)``;
    frame f's pixel(x, y) = ``base_f + x + y`` where ``base_0 =
    id % 40`` and each transition adds 25 (a cut) when
    ``(id + f) % 3 == 0``, else 2 (intra-scene drift). Max pixel
    40 + 6·25 + 9 + 6 = 205 — no wrap. Same closed-form-construction
    contract as ``attach_gif_payload``: the bytes are real GIF89a,
    and the cut schedule is pure doc_id arithmetic the oracle
    replays."""

    def row(doc_id):
        i = int(doc_id)
        nf, w, h = i % 6 + 2, i % 10 + 1, i % 7 + 1
        base = i % 40
        frames = []
        for f in range(nf):
            if f > 0:
                base += 25 if (i + f) % 3 == 0 else 2
            frames.append(
                bytes(base + x + y for y in range(h) for x in range(w))
            )
        return [(i, encode_gif_gray(w, h, frames), nf, w, h)]

    # the GIF producer's flat columns without n_bytes
    schema = StructType(_GIF_FLAT_SCHEMA.fields[:-1])
    return _map_rows(documents, (id_col,), row, schema)


SCENE_CUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("n_cuts", IntegerType()),
        StructField("max_jump", LongType()),
    ]
)


def gif_scene_cuts(
    df: DataFrame,
    threshold_px: int = 20,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Scene-cut detection over REAL decoded GIF payloads: LZW-decode
    every frame, take each frame's EXACT integer pixel sum, and call
    a transition a cut when the per-pixel jump exceeds
    ``threshold_px`` — compared ALL-INTEGER as
    ``|S_f − S_{f−1}| > threshold_px · w · h``, so no float mean ever
    enters the decision (the pHash rule). Emits ``(doc_id, n_frames,
    n_cuts, max_jump)`` with ``max_jump`` the largest per-pixel jump
    (exact: sum deltas here are integer multiples of w·h).

    This is the video-pipeline sampling primitive: shot boundaries
    pick the frames worth featurizing. Arrow-batched ``mapInPandas``;
    payloads stay inside their partition — only the 4-column stats
    frame ever shuffles.
    """

    def stats(p):
        w, h, frames = decode_gif_gray(p)
        sums = [sum(f) for f in frames]
        deltas = [abs(b - a) for a, b in zip(sums, sums[1:])]
        return (
            len(frames),
            sum(1 for d in deltas if d > threshold_px * w * h),
            max(deltas) // (w * h) if deltas else 0,
        )

    return _decode_rows(df, id_col, payload_col, stats, SCENE_CUT_SCHEMA)


PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("phash", LongType()),
    ]
)


def phash_png(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Perceptual (average) hash of REAL decoded PNG payloads: decode
    the image (full codec path — chunks, CRCs, zlib, filters), sample
    a fixed 7x7 grid (x_i = i*w//7, y_j = j*h//7), and set bit
    k = 7*i + j when the sample exceeds the grid mean. 49 bits fit a
    positive BIGINT, and the comparison is ALL-INTEGER
    (49*sample > sum-of-samples) — no float mean, so the hash is
    engine- and platform-exact.

    This is the image twin of SimHash: near-identical images differ in
    few bits, so hamming-band bucketing (group by hash bands) finds
    visual near-duplicates without pairwise comparison — the
    image-dedup stage of a multimodal corpus pipeline. Same Arrow
    batching and payload-drop-before-shuffle shape as the decode
    stats; downstream grouping shuffles only (id, hash).
    """

    def stats(p):
        w, h, pixels = decode_png_gray(p)
        xs = [(i * w) // 7 for i in range(7)]
        ys = [(j * h) // 7 for j in range(7)]
        samples = [pixels[y * w + x] for x in xs for y in ys]  # k = 7*i + j
        total = sum(samples)
        hv = 0
        for k, s in enumerate(samples):
            if 49 * s > total:
                hv |= 1 << k
        return w, h, hv

    return _decode_rows(df, id_col, payload_col, stats, PHASH_SCHEMA)


def phash_groups(phashed: DataFrame) -> DataFrame:
    """Visual-duplicate groups by exact perceptual-hash identity:
    ``(phash, n_images, min_doc_id)`` for hashes shared by 2+ images
    — the keep-first dedup view over the perceptual key (hamming-
    tolerant matching bands the hash like SimHash; exact identity is
    the zero-distance special case and the common case for re-encoded
    identical images). One combinable groupBy."""
    return (
        phashed.groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_images") >= 2)
    )


AUDIO_FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("max_frame_energy", LongType()),
        StructField("total_energy", LongType()),
    ]
)


def audio_frame_features(
    df: DataFrame,
    frame_size: int = 16,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Frame-level audio features over REAL WAV decode: split each
    clip's PCM samples into fixed ``frame_size`` windows and emit per
    clip ``(n_frames, max_frame_energy, total_energy)`` where a
    frame's energy is its integer sum of squared samples — the
    short-time-energy primitive under VAD / silence trimming /
    loudness normalization in an audio-corpus pipeline. Clips shorter
    than one full frame are dropped (a partial window has no
    comparable energy); the trailing partial frame is discarded,
    standard hop=frame framing.

    All-integer arithmetic end to end, so the SQL oracle (which
    regenerates the deterministic ramp samples and aggregates them
    relationally) matches bit-for-bit — no float summation order to
    diverge. Same Arrow-batched ``mapInPandas`` shape as
    ``decode_wav_stats``: payload bytes never cross a shuffle, one
    output row per clip.
    """

    if frame_size < 1:
        raise ValueError(
            f"audio_frame_features: frame_size must be >= 1, got {frame_size}"
        )

    def stats(p):
        _rate, n, samples = decode_wav_pcm16(p)
        full = n // frame_size
        if not full:
            return None
        energies = [
            sum(v * v for v in samples[f * frame_size : (f + 1) * frame_size])
            for f in range(full)
        ]
        return full, max(energies), sum(energies)

    return _decode_rows(df, id_col, payload_col, stats, AUDIO_FRAME_SCHEMA)
