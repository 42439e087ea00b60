"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: media rides as an opaque
``binary`` column next to typed metadata columns; decode / resize /
feature-extract run as Arrow-batched ``mapInPandas`` stages so bytes
never materialize row-at-a-time in Python.

Decode tiers:

- **Real decoders** (:func:`decode_images`, :func:`decode_audio`) for
  the formats stdlib + numpy can parse without external libraries:
  uncompressed BMP (8-bit palette / 24-bit BI_RGB), binary PGM/PPM
  (P5/P6), and RIFF/WAVE PCM (8/16-bit). Format is sniffed from magic
  bytes; unsupported or malformed payloads yield a tagged row with
  NULL fields — a 100 TB decode job must never die on one bad file.
- **Pluggable decoders** (:func:`register_image_decoder`) close the
  compressed-codec boundary when a library IS present: a deployment
  registers ``fmt -> callable(bytes) -> (h, w, channels, luma grid)``
  and :func:`decode_images` dispatches sniffed formats to it with the
  same never-crash contract as the built-ins. Pillow, if importable,
  is auto-registered for JPEG/PNG at module load (an import-try — this
  container ships without it, so the boundary below stays honest
  here).
- **Stub** (:func:`decode_image_stub`) for compressed codecs
  (JPEG/PNG/MP3/H.264...) when no decoder is registered: an honest
  ``NotImplementedError`` — those genuinely need PIL/ffmpeg.
- **Deterministic fake** (:func:`decode_media`) whose output feeds the
  oracle-checked resize→histogram pipeline (integer-exact end to end).

The reference's payload model is exactly this shape: an opaque
``bytes`` value the engine never interprets (api/v1/log.proto:8) —
multimodal columns are its natural generalization.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = "doc_id LONG, n_bytes LONG, header_hex STRING"

#: The pluggable-decoder seam: sniffed format tag -> decoder callable.
#: Contract (identical to the built-ins'): ``fn(data: bytes)`` returns
#: ``(height, width, channels, row-major integer luma ndarray)``,
#: returns None for an in-format payload out of the decoder's scope
#: (tagged ``unsupported:<fmt>``), and raises ValueError for a
#: malformed payload (tagged ``corrupt:<fmt>``) — never anything that
#: kills the job. Registrations must happen BEFORE decode_images
#: builds its plan: the table is snapshotted into the UDF closure so
#: executors see a frozen copy (a driver-side mutation after plan
#: build is invisible, by design — no cross-process mutable state).
_IMAGE_DECODERS: dict = {}


def _id_payload(df: "DataFrame", id_col: str, payload_col: str) -> "DataFrame":
    """The shared entry projection of every decode/extract stage:
    (id -> doc_id, payload), routed through the parallelism guard so
    any new entry point inherits it by construction."""
    return _ensure_python_stage_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(payload_col).alias("payload"))
    )


def _ensure_python_stage_parallelism(df: "DataFrame") -> "DataFrame":
    """Give every Arrow/Python stage the session's full parallelism.

    mapInPandas inherits the INPUT's partitioning, and a small fixture
    (or any single unsplittable file) arrives as ONE partition —
    serializing the whole decode behind a single Python worker while
    the other cores idle (measured: the sf0.1 scene-cut decode ran
    10.5 s on one task before this, 32-way after). On a production
    corpus the scan itself yields >= defaultParallelism partitions and
    this is a NO-OP; when the input has fewer, the payload volume is
    by definition small enough that one round-robin exchange is cheap
    — so buy the cores. Deliberately round-robin, not keyed: no skew,
    rows stay whole, and determinism is unaffected (every downstream
    consumer is row-wise or re-shuffles by its own key).
    """
    if df.isStreaming:
        # partition introspection (df.rdd) is undefined on streaming
        # plans; micro-batch parallelism is the source's concern
        return df
    # Only scan-shaped lineages can be under-partitioned: any upstream
    # shuffle (join/agg/window/sort/distinct/repartition) already
    # widens the stage to spark.sql.shuffle.partitions. Checking the
    # ANALYZED logical plan costs nothing — whereas touching df.rdd on
    # a plan WITH exchanges eagerly executes those stages under AQE
    # (measured: a join+groupBy input ran 2 real jobs at
    # plan-construction time), and DataFrame.rdd does not exist at all
    # under Spark Connect, so the probe is gated to the safe shape and
    # failure falls back to leaving the partitioning alone.
    # The shape test walks the plan TREE and matches node CLASS names
    # exactly (ADVICE-r8: the earlier raw substring scan over the plan
    # string could be pacified by a column literally named "Join" —
    # a false positive only skips the widening, but that silently
    # reinstates the single-partition slow path this fix removes).
    try:
        if _plan_has_shuffle_node(df._jdf.queryExecution().analyzed()):
            return df
    except Exception:
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Logical-plan node classes whose presence means the lineage already
# shuffles (so the stage is already spark.sql.shuffle.partitions wide,
# and probing df.rdd would eagerly execute those exchange stages under
# AQE). Matched against TreeNode.nodeName() — the node's own class
# name, never a column name or literal. Conservative supersets are
# fine: a false positive only skips an optional widening.
_SHUFFLE_NODE_NAMES = frozenset(
    {
        "Join", "Aggregate", "Window", "Sort", "Distinct", "Deduplicate",
        "DeduplicateWithinWatermark", "Repartition",
        "RepartitionByExpression", "Intersect", "Except", "CoGroup",
        "FlatMapGroupsInPandas", "FlatMapGroupsInPandasWithState",
        # ADVICE-r9: "CoGroup" above only matches the Scala TYPED node;
        # pyspark's groupBy().cogroup().applyInPandas analyzes to
        # FlatMapCoGroupsInPandas,
        # and the typed groupByKey family has its own node names too —
        # all of them hash-partition their input, so probing df.rdd
        # under AQE would eagerly run those exchanges and the guard
        # would round-robin an already-shuffled lineage.
        # (MapInPandas stays OUT: it is a narrow node — a chained
        # decode's lineage can still be 1-partition-wide.)
        "FlatMapCoGroupsInPandas", "FlatMapGroupsWithState", "MapGroups",
    }
)


def _plan_has_shuffle_node(jplan) -> bool:
    """True iff any node in the analyzed logical plan TREE (children
    recursively, plus each node's correlated/IN subquery plans — their
    exchanges execute with the main query, so they gate the df.rdd
    probe just the same) is one of _SHUFFLE_NODE_NAMES by nodeName()."""
    if jplan.nodeName() in _SHUFFLE_NODE_NAMES:
        return True
    it = jplan.children().iterator()
    while it.hasNext():
        if _plan_has_shuffle_node(it.next()):
            return True
    sub = jplan.subqueries().iterator()
    while sub.hasNext():
        if _plan_has_shuffle_node(sub.next()):
            return True
    return False


def register_image_decoder(fmt: str, fn) -> None:
    """Register (or override) a decoder for a sniffed format tag (see
    :func:`sniff_media_format`: "jpeg", "png", "bmp", ...). This is
    how a real deployment closes the compressed-codec boundary —
    ``register_image_decoder("jpeg", my_turbojpeg_decode)`` — while
    this repo stays library-free."""
    _IMAGE_DECODERS[fmt] = fn


def _pillow_luma_decoder(data: bytes):
    """Pillow-backed decoder matching the built-in contract: any
    format PIL opens → 8-bit luma grid (PIL's own 601 rounding)."""
    import io

    import numpy as np
    from PIL import Image, UnidentifiedImageError

    try:
        with Image.open(io.BytesIO(data)) as im:
            channels = len(im.getbands())
            grid = np.asarray(im.convert("L"), dtype=np.int64)
    except (
        UnidentifiedImageError,
        OSError,
        ValueError,
        Image.DecompressionBombError,
    ) as e:
        # decoder contract: every MALFORMED payload maps to ValueError
        # so decode_batches' never-crash except-clause tags the row
        # corrupt:<fmt>. UnidentifiedImageError = bad header; OSError
        # with errno=None = valid header, corrupt body ("image file is
        # truncated" / "broken data stream" raised during convert/
        # load); DecompressionBombError (oversized declared dims)
        # subclasses plain Exception — NOT ValueError — so it must be
        # named explicitly. ENVIRONMENTAL OSErrors (the resource-
        # exhaustion errnos below, under executor pressure) re-raise:
        # a transient resource failure must fail the task for Spark to
        # retry, not mislabel a good payload as corrupt. The errnos
        # are WHITELISTED rather than "any errno set": a codec path
        # that attaches an errno to a corrupt-payload OSError (e.g.
        # EINVAL from a native decoder) must still map to corrupt,
        # not crash-loop the task across Spark's retries.
        import errno as _errno

        _environmental = (
            _errno.ENOMEM, _errno.EMFILE, _errno.ENFILE, _errno.EAGAIN,
        )
        if isinstance(e, OSError) and not isinstance(
            e, UnidentifiedImageError
        ) and e.errno in _environmental:
            raise
        raise ValueError(str(e)) from e
    return grid.shape[0], grid.shape[1], channels, grid.reshape(-1)


try:  # import-try: Pillow is absent from this container; a deployment
    # that ships it gets JPEG/PNG decode with zero extra wiring
    import PIL  # noqa: F401

    register_image_decoder("jpeg", _pillow_luma_decoder)
    register_image_decoder("png", _pillow_luma_decoder)
except ImportError:
    pass


def decode_image_stub(payload: bytes) -> dict:
    """STUB decoder for COMPRESSED codecs (JPEG/PNG/WebP/H.264...).

    Raises NotImplementedError for pixel access in those formats —
    they need an image/video library this container doesn't ship.
    Uncompressed formats decode for real: see :func:`decode_images`
    (BMP, PGM/PPM) and :func:`decode_audio` (WAV PCM).
    """
    raise NotImplementedError(
        "compressed-codec decoding requires an image/video library not "
        "present in this container; decode_images/decode_audio handle "
        "the uncompressed formats (BMP, PGM/PPM, WAV PCM) for real"
    )


def sniff_media_format(data: bytes) -> str:
    """Magic-byte sniff — the dispatch every decode stage starts with."""
    if data[:2] == b"BM":
        return "bmp"
    if data[:2] in (b"P5", b"P6"):
        return "pnm"
    if data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        return "wav"
    if data[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return "png"
    if data[:3] == b"ID3" or data[:2] in (b"\xff\xfb", b"\xff\xf3"):
        return "mp3"
    return "unknown"


def _luma(r, g, b):
    """Integer ITU-R 601 luma on 0..255 — exact, engine-portable."""
    return (299 * r + 587 * g + 114 * b) // 1000


def _decode_bmp(data: bytes):
    """Uncompressed BMP → (height, width, channels, luma grid) or None
    for BMP variants out of scope (compression, odd bit depths).
    Raises ValueError on a truncated/malformed file."""
    import numpy as np

    if len(data) < 54:
        raise ValueError("BMP shorter than its fixed headers")
    pix_off = int.from_bytes(data[10:14], "little")
    dib = int.from_bytes(data[14:18], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if comp != 0 or bpp not in (8, 24):
        return None  # out of the uncompressed-decoder's scope
    height, bottom_up = abs(h), h > 0
    if w <= 0 or height <= 0:
        raise ValueError("BMP with non-positive dimensions")
    row_size = ((bpp * w + 31) // 32) * 4  # rows pad to 4 bytes
    n_pal = 0
    if bpp == 8:
        # biClrUsed (offset 46): palettes are OFTEN shorter than 256
        # entries; 0 means "full size for this depth"
        n_pal = int.from_bytes(data[46:50], "little") or 256
        if not (0 < n_pal <= 256):
            raise ValueError("BMP palette size out of range")
    pal_off = 14 + dib
    # a pixel offset that overlaps the headers/palette would decode
    # header bytes as raster and report a clean row — reject it
    if pix_off < pal_off + n_pal * 4:
        raise ValueError("BMP pixel offset overlaps headers/palette")
    if len(data) < pix_off + row_size * height:
        raise ValueError("BMP raster truncated")
    rows = np.frombuffer(
        data, np.uint8, count=row_size * height, offset=pix_off
    ).reshape(height, row_size)
    if bpp == 8:
        if len(data) < pal_off + n_pal * 4:
            raise ValueError("BMP palette truncated")
        pal = np.frombuffer(data, np.uint8, count=n_pal * 4, offset=pal_off)
        pal = pal.reshape(n_pal, 4).astype(np.int64)  # B, G, R, reserved
        lut = np.zeros(256, dtype=np.int64)  # out-of-palette indices → 0
        lut[:n_pal] = _luma(pal[:, 2], pal[:, 1], pal[:, 0])
        px = lut[rows[:, :w].astype(np.int64)]
        channels = 1
    else:
        bgr = rows[:, : w * 3].reshape(height, w, 3).astype(np.int64)
        px = _luma(bgr[..., 2], bgr[..., 1], bgr[..., 0])
        channels = 3
    if bottom_up:
        px = px[::-1]
    return height, w, channels, px.reshape(-1)


def _decode_pnm(data: bytes):
    """Binary PGM (P5) / PPM (P6), maxval ≤ 255 → (h, w, channels,
    luma grid). Raises ValueError on malformed headers/rasters."""
    import numpy as np

    magic = data[:2]
    pos, fields = 2, []
    while len(fields) < 3:
        if pos >= len(data):
            raise ValueError("PNM header truncated")
        c = data[pos : pos + 1]
        if c.isspace():
            pos += 1
        elif c == b"#":  # comment to end of line
            nl = data.find(b"\n", pos)
            if nl < 0:
                raise ValueError("PNM comment unterminated")
            pos = nl + 1
        elif c.isdigit():
            end = pos
            while end < len(data) and data[end : end + 1].isdigit():
                end += 1
            fields.append(int(data[pos:end]))
            pos = end
        else:
            raise ValueError("PNM header garbage")
    w, h, maxval = fields
    if w <= 0 or h <= 0 or not (0 < maxval <= 255):
        raise ValueError("PNM dimensions/maxval out of range")
    # exactly one whitespace byte separates header and raster; a
    # missing separator would mis-frame every pixel by one byte and
    # still report a clean decode — reject instead
    if pos >= len(data) or not data[pos : pos + 1].isspace():
        raise ValueError("PNM header/raster separator missing")
    pos += 1
    ch = 1 if magic == b"P5" else 3
    need = w * h * ch
    if len(data) < pos + need:
        raise ValueError("PNM raster truncated")
    raster = np.frombuffer(data, np.uint8, count=need, offset=pos).astype(np.int64)
    if maxval != 255:
        # the PNM contract makes maxval full-white: rescale to the
        # 0..255 output grid (integer, engine-portable) so a maxval=15
        # white image doesn't read as near-black downstream
        raster = (raster * 255) // maxval
    if ch == 1:
        px = raster
    else:
        rgb = raster.reshape(-1, 3)
        px = _luma(rgb[:, 0], rgb[:, 1], rgb[:, 2])
    return h, w, ch, px


IMAGE_DECODE_SCHEMA = (
    "doc_id LONG, format STRING, height INT, width INT, channels INT, "
    "pixels ARRAY<INT>"
)


def decode_images(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """REAL image decode for library-free formats — uncompressed BMP
    (8-bit palette and 24-bit BI_RGB, row padding and bottom-up rows
    handled) and binary PGM/PPM — as one Arrow-batched mapInPandas
    stage. Output pixels are the row-major integer luma grid (exact
    ITU-R 601 on 0..255), so the decoded output composes with
    resize_media / extract_pixel_histogram unchanged.

    Never crashes the job: compressed/unknown formats yield their
    sniffed tag with NULL fields, malformed payloads of a supported
    format yield ``corrupt:<fmt>`` with NULL fields, NULL payloads a
    NULL-format row.
    """
    cols = _id_payload(df, id_col, payload_col)
    # built-ins + the pluggable registry, SNAPSHOTTED into the closure:
    # executors see a frozen copy; registrations after plan build are
    # deliberately invisible (no cross-process mutable state)
    decoders = {"bmp": _decode_bmp, "pnm": _decode_pnm, **_IMAGE_DECODERS}

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "format", "height", "width", "channels", "pixels")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                fmt, decoded = None, None
                if payload is not None:
                    data = bytes(payload)
                    fmt = sniff_media_format(data)
                    dec = decoders.get(fmt)
                    if dec is not None:
                        try:
                            decoded = dec(data)
                            if decoded is None:  # in-format but out of scope
                                fmt = f"unsupported:{fmt}"
                        except ValueError:
                            fmt = f"corrupt:{fmt}"
                out["doc_id"].append(doc_id)
                out["format"].append(fmt)
                h, w, ch, px = decoded if decoded is not None else (None,) * 4
                out["height"].append(h)
                out["width"].append(w)
                out["channels"].append(ch)
                # Arrow accepts numpy arrays for ARRAY<INT> directly —
                # per-pixel Python int boxing would dominate decode
                # cost on megapixel images
                out["pixels"].append(None if px is None else px.astype(np.int32))
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"],
                    "format": out["format"],
                    "height": pd.Series(out["height"], dtype="Int32"),
                    "width": pd.Series(out["width"], dtype="Int32"),
                    "channels": pd.Series(out["channels"], dtype="Int32"),
                    "pixels": out["pixels"],
                }
            )

    return cols.mapInPandas(decode_batches, schema=IMAGE_DECODE_SCHEMA)


AUDIO_DECODE_SCHEMA = (
    "doc_id LONG, format STRING, sample_rate INT, n_channels INT, "
    "n_samples LONG, energy BIGINT, sample_prefix ARRAY<INT>"
)


def decode_audio(
    df: DataFrame,
    prefix: int = 16,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """REAL audio decode for RIFF/WAVE PCM (8- and 16-bit) via the
    stdlib ``wave`` reader + numpy sample conversion — Arrow-batched
    mapInPandas, same never-crash contract as :func:`decode_images`.

    Output per payload: sample_rate / channel count / total frame
    count, the exact integer signal energy Σs² (8-bit samples are
    centered at 128 first; s² ≤ 2³⁰ keeps centuries of audio inside
    BIGINT), and the first ``prefix`` interleaved samples. Compressed
    audio (mp3 etc.) is tagged and NULL — that's the
    :func:`decode_image_stub` boundary.
    """
    import io
    import wave

    import numpy as np

    cols = _id_payload(df, id_col, payload_col)

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keys = ("doc_id", "format", "sample_rate", "n_channels", "n_samples",
                "energy", "sample_prefix")

        for pdf in batches:
            out = {k: [] for k in keys}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                fmt = None
                vals = (None,) * 5
                if payload is not None:
                    data = bytes(payload)
                    fmt = sniff_media_format(data)
                    if fmt == "wav":
                        try:
                            with wave.open(io.BytesIO(data)) as wf:
                                width = wf.getsampwidth()
                                n_frames = wf.getnframes()
                                raw = wf.readframes(n_frames)
                                if width not in (1, 2):
                                    fmt = "unsupported:wav"
                                elif len(raw) != n_frames * wf.getnchannels() * width:
                                    # data chunk shorter than its header
                                    # claims: energy over the decoded
                                    # half with a clean tag would be a
                                    # silently inconsistent row
                                    fmt = "corrupt:wav"
                                else:
                                    if width == 1:  # unsigned, centered at 128
                                        s = np.frombuffer(raw, np.uint8).astype(np.int64) - 128
                                    else:
                                        s = np.frombuffer(raw, "<i2").astype(np.int64)
                                    vals = (
                                        wf.getframerate(),
                                        wf.getnchannels(),
                                        n_frames,
                                        int((s * s).sum()),
                                        [int(v) for v in s[:prefix]],
                                    )
                        except (wave.Error, EOFError, ValueError):
                            fmt = "corrupt:wav"
                out["doc_id"].append(doc_id)
                out["format"].append(fmt)
                for k, v in zip(keys[2:], vals):
                    out[k].append(v)
            yield pd.DataFrame(
                {
                    "doc_id": out["doc_id"],
                    "format": out["format"],
                    "sample_rate": pd.Series(out["sample_rate"], dtype="Int32"),
                    "n_channels": pd.Series(out["n_channels"], dtype="Int32"),
                    "n_samples": pd.Series(out["n_samples"], dtype="Int64"),
                    "energy": pd.Series(out["energy"], dtype="Int64"),
                    "sample_prefix": out["sample_prefix"],
                }
            )

    return cols.mapInPandas(decode_batches, schema=AUDIO_DECODE_SCHEMA)


FRAME_SCHEMA = "doc_id LONG, frame_idx LONG, frame_bytes LONG, frame_md5 STRING"
DECODE_SCHEMA = "doc_id LONG, height INT, width INT, channels INT, pixels ARRAY<INT>"
FEATURE_SCHEMA = "doc_id LONG, feature ARRAY<DOUBLE>"


def sample_frames(
    df: DataFrame,
    frame_bytes: int = 64,
    every_n: int = 2,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Video-style frame sampling over an opaque binary payload.

    Treats the payload as fixed-size ``frame_bytes`` chunks and emits
    every ``every_n``-th chunk as (doc_id, frame_idx, frame_bytes,
    frame_md5). This is the real production plumbing for frame
    extraction — mapInPandas fan-out (one input row → many frame
    rows), Arrow-batched, no driver involvement; a real deployment
    replaces byte-chunking with an ffmpeg keyframe iterator and the
    md5 with a perceptual hash.
    """
    cols = _id_payload(df, id_col, payload_col)

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            ids, idxs, sizes, digests = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue  # null payload: no frames (like empty)
                data = bytes(payload)
                n_frames = max((len(data) + frame_bytes - 1) // frame_bytes, 0)
                for k in range(0, n_frames, every_n):
                    chunk = data[k * frame_bytes : (k + 1) * frame_bytes]
                    ids.append(doc_id)
                    idxs.append(k)
                    sizes.append(len(chunk))
                    digests.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame_bytes": sizes, "frame_md5": digests}
            )

    return cols.mapInPandas(frame_batches, schema=FRAME_SCHEMA)


def _slice_mean_pixels(payloads, n_px: int):
    """The deterministic-fake decode core, batch-vectorized: one
    ``(null_mask, pixels)`` pair per input batch, where ``pixels`` is
    an ``(n_rows, n_px)`` int64 grid of per-slice byte means.
    Single-sourced so the pixel-emitting stage (:func:`decode_media`)
    and the fused hash stage (:func:`decode_dhash64`) can never drift.

    Vectorization: concatenate payloads, segment-mean all docs' slices
    in ONE reduceat (empty payloads -> one 0 byte; empty slices of
    short payloads fall back to the byte at the slice start, matching
    the per-doc nearest-rank rule)."""
    import numpy as np

    null_mask = np.array([p is None for p in payloads])
    raw = [
        b"\x00" if p is None or not len(p) else bytes(p)
        for p in payloads
    ]
    lens = np.array([len(r) for r in raw], dtype=np.int64)
    data = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.float64)
    doc_starts = np.cumsum(lens) - lens
    bounds = doc_starts[:, None] + (np.arange(n_px) * lens[:, None]) // n_px
    starts = bounds.ravel()
    sums = np.add.reduceat(data, starts)
    seg = np.diff(np.append(starts, len(data)))
    counts = np.maximum(seg, 1)
    empty = seg == 0
    means = np.where(empty, data[np.minimum(starts, len(data) - 1)], sums / counts)
    pixels = means.astype(np.int64).reshape(len(raw), n_px)
    return null_mask, pixels


def decode_media(
    df: DataFrame,
    height: int = 4,
    width: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """DETERMINISTIC-FAKE decoder with real decode-stage plumbing.

    A real deployment calls PIL/ffmpeg here (see decode_image_stub for
    the honest NotImplementedError); this fake derives an h x w
    single-channel intensity grid from the payload bytes (mean byte
    value per equal slice — deterministic, library-free), so every
    downstream stage (resize, feature extract) exercises the exact
    schema/batch shape a real decoder would produce.
    """
    cols = _id_payload(df, id_col, payload_col)
    n_px = height * width

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            null_mask, pixels = _slice_mean_pixels(pdf["payload"], n_px)
            n = len(pixels)
            dims = pd.Series(np.full(n, height)).astype("Int32").mask(null_mask)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # null payload -> all-NULL decode row (propagate,
                    # don't crash the Arrow worker on len(None))
                    "height": dims,
                    "width": pd.Series(np.full(n, width)).astype("Int32").mask(null_mask),
                    "channels": pd.Series(np.full(n, 1)).astype("Int32").mask(null_mask),
                    "pixels": [
                        None if isnull else px
                        for isnull, px in zip(null_mask, pixels)
                    ],
                }
            )

    return cols.mapInPandas(decode_batches, schema=DECODE_SCHEMA)


def resize_media(df: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Nearest-neighbor resize over decoded pixel grids — REAL
    implementation (pure numpy index math works on fake and real
    pixels alike). Input = decode_media output; same schema out with
    the new geometry."""

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            null_mask = pdf["pixels"].isna().to_numpy()
            # one fancy-index per (h, w) geometry group, not per row
            out = np.empty((len(pdf), out_h * out_w), dtype=np.int64)
            hw = pdf[["height", "width"]].to_numpy(dtype="float64")
            for h, w in {tuple(x) for x in hw[~null_mask]}:
                h, w = int(h), int(w)
                mask = (hw[:, 0] == h) & (hw[:, 1] == w) & ~null_mask
                grids = np.stack(pdf["pixels"][mask].to_numpy()).reshape(-1, h, w)
                rows = (np.arange(out_h) * h) // out_h
                cols_ = (np.arange(out_w) * w) // out_w
                out[mask] = grids[:, rows][:, :, cols_].reshape(-1, out_h * out_w)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "height": pd.Series(np.full(len(pdf), out_h)).astype("Int32").mask(null_mask),
                    "width": pd.Series(np.full(len(pdf), out_w)).astype("Int32").mask(null_mask),
                    "channels": pdf["channels"],
                    "pixels": [
                        None if isnull else px
                        for isnull, px in zip(null_mask, out)
                    ],
                }
            )

    return df.mapInPandas(resize_batches, schema=DECODE_SCHEMA)


def extract_features(
    df: DataFrame,
    dim: int = 16,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Byte-histogram feature vector (dim buckets, L2-normalized) —
    a deterministic, library-free stand-in for a CNN/CLIP embedding
    with the real feature-stage plumbing. Output composes directly
    with operators.similarity (ANN over media features).
    """
    cols = _id_payload(df, id_col, payload_col)
    assert 256 % dim == 0

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            null_mask = np.array([p is None for p in pdf["payload"]])
            raw = [b"" if p is None else bytes(p) for p in pdf["payload"]]
            lens = np.array([len(r) for r in raw], dtype=np.int64)
            data = np.frombuffer(b"".join(raw), dtype=np.uint8).astype(np.int64)
            doc_idx = np.repeat(np.arange(len(raw)), lens)
            hists = np.bincount(
                data // (256 // dim) + doc_idx * dim, minlength=dim * len(raw)
            ).reshape(len(raw), dim).astype(np.float64)
            norms = np.maximum(np.linalg.norm(hists, axis=1, keepdims=True), 1e-300)
            normed = hists / norms
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # null payload -> NULL feature (propagate, not crash)
                    "feature": [
                        None if isnull else f
                        for isnull, f in zip(null_mask, normed)
                    ],
                }
            )

    return cols.mapInPandas(feature_batches, schema=FEATURE_SCHEMA)


def extract_pixel_features(df: DataFrame, dim: int = 16) -> DataFrame:
    """Intensity-histogram feature over decoded/resized pixel grids
    (dim buckets over 0..255, L2-normalized): the float twin of
    `extract_pixel_histogram`, implemented ON TOP of it — the bucket
    math lives once (the oracle gate relies on the integer/float twin
    relationship), and the normalization is plain JVM-side column
    arithmetic, so no second Python stage runs at all. NULL pixels
    propagate as a NULL feature."""
    h = extract_pixel_histogram(df, dim)
    norm = F.sqrt(
        F.aggregate(
            "hist", F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    return h.select(
        "doc_id",
        F.transform(
            "hist", lambda x: x.cast("double") / F.greatest(norm, F.lit(1e-300))
        ).alias("feature"),
    )


PIXEL_HIST_SCHEMA = "doc_id LONG, hist ARRAY<LONG>"


def extract_pixel_histogram(df: DataFrame, dim: int = 16) -> DataFrame:
    """Integer twin of `extract_pixel_features`: the raw intensity
    histogram counts (dim buckets over 0..255), UN-normalized — every
    value is an exact BIGINT, which is what lets the full
    decode→resize→feature chain sit in the hash-compared oracle gate
    (the L2-normalized float variant is built on top of this). NULL
    pixel rows propagate as NULL histograms."""
    assert 256 % dim == 0

    def hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            null_mask = pdf["pixels"].isna().to_numpy()
            # grids may have DIFFERENT sizes within one batch (e.g.
            # decode_images over a mixed-geometry corpus): concatenate
            # with per-row segment ids instead of np.stack, which
            # requires uniform shapes and would kill the task
            safe = [
                np.empty(0, dtype=np.int64) if isnull else np.asarray(px, dtype=np.int64)
                for isnull, px in zip(null_mask, pdf["pixels"])
            ]
            lens = np.array([len(a) for a in safe], dtype=np.int64)
            flat = np.concatenate(safe) if safe else np.empty(0, dtype=np.int64)
            idx = np.repeat(np.arange(len(safe)), lens)
            buckets = flat // (256 // dim) + dim * idx
            hists = np.bincount(buckets, minlength=dim * len(safe)).reshape(
                len(safe), dim
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "hist": [
                        None if isnull else h
                        for isnull, h in zip(null_mask, hists)
                    ],
                }
            )

    return df.mapInPandas(hist_batches, schema=PIXEL_HIST_SCHEMA)


def extract_media_meta(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Arrow-batched metadata extraction over a binary column.

    Returns (doc_id, n_bytes, header_hex) — byte length and the hex of
    the first 4 bytes (the "magic number" sniff every media pipeline
    starts with). Demonstrates the mapInPandas batch shape: each
    pandas batch holds the binary column as Python bytes; real
    decoders iterate exactly like this.
    """
    cols = _id_payload(df, id_col, payload_col)

    def meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    # null payload -> NULL metadata (propagate, not crash)
                    "n_bytes": payloads.map(
                        lambda b: None if b is None else len(b)
                    ).astype("Int64"),
                    "header_hex": payloads.map(
                        lambda b: None if b is None else bytes(b[:4]).hex().upper()
                    ),
                }
            )

    return cols.mapInPandas(meta_batches, schema=MEDIA_META_SCHEMA)


def dhash64(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit difference hash (dHash) over decoded luma grids — the
    standard perceptual image fingerprint for near-duplicate photos
    (resize to 9x8 luma, set bit r*8+c iff pixel[r][c+1] > pixel[r][c];
    near-identical images differ in a few bits, so Hamming-radius
    blocking finds them without an all-pairs pass).

    Input is :func:`decode_media` / :func:`decode_images` /
    :func:`resize_media` output at height=8, width=9 — the hash is
    decoder-agnostic, so a deployment that registers a real JPEG
    decoder (``register_image_decoder``) feeds this unchanged.
    Output is (id, simhash_lo, simhash_hi): the hash split into the
    two 32-bit words :func:`proglog_spark.operators.dedup.
    hamming_pairs` banding expects (bits 0-31 / 32-63), so the
    SimHash text machinery — pigeonhole-complete block candidate
    generation + exact Hamming verify — does image blocking with
    ZERO new join code. The whole computation is built-in column
    expressions on the already-decoded grid: static bit arithmetic,
    whole-stage codegen, no Python in this stage, no shuffle.

    NULL pixel rows (null payloads / decode failures upstream) drop —
    a row with no image has no perceptual identity to dedup on.

    Reference parity note: the reference has no media operators at
    all (payloads are opaque bytes, api/v1/log.proto:8); this extends
    its duplication motif (internal/log/replicator.go — O32) to the
    image tier of a multimodal training pipeline.
    """

    def bit(k: int):
        r, c = divmod(k, 8)
        return (
            F.col("pixels").getItem(r * 9 + c + 1)
            > F.col("pixels").getItem(r * 9 + c)
        ).cast("long")

    def word(lo_bit: int):
        w = F.lit(0).cast("long")
        for k in range(lo_bit, lo_bit + 32):
            w = w + F.shiftleft(bit(k), k - lo_bit)
        return w

    # geometry guard: a wrong-geometry grid (e.g. decode_media's 4x4
    # default) would make getItem(16..71) NULL, silently collapsing
    # every hash toward 0 and flooding hamming_pairs with false
    # duplicates — fail the job instead (JVM-side, no extra pass)
    ok = (F.col("height") == 8) & (F.col("width") == 9)

    def guarded(w, name):
        return F.when(ok, w).otherwise(
            F.raise_error(
                F.lit("dhash64 requires 8x9 grids (decode at height=8, width=9)")
            )
        ).alias(name)

    return df.where(F.col("pixels").isNotNull()).select(
        F.col(id_col).alias("id"),
        guarded(word(0), "simhash_lo"),
        guarded(word(32), "simhash_hi"),
    )


DECODE_DHASH_SCHEMA = "id LONG, simhash_lo LONG, simhash_hi LONG"


def decode_dhash64(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Fused ``dhash64(decode_media(df, height=8, width=9))`` in ONE
    mapInPandas stage — bit-identical output (pinned by
    tests/test_multimodal.py::test_decode_dhash64_matches_composed), built
    for the frame-fingerprint paths where the decoded grid exists only
    to be hashed.

    Why fuse (optimization guide §4.2 / §8.3 "shuffle keys, not
    payloads" applied to the Python boundary): the composed pipeline
    ships a 72-element ``ARRAY<INT>`` per frame back through Arrow and
    then runs a 128-``getItem`` JVM expression pass over it; per-frame
    the decision only needs THREE longs. Fusing computes the dHash
    words where the pixels already are (one vectorized numpy pass over
    the whole batch: shared :func:`_slice_mean_pixels` decode core +
    one boolean compare and two matmuls for the bit packing), so only
    ``(id, lo, hi)`` ever crosses the boundary. Geometry is 8x9 by
    construction, which is exactly the precondition ``dhash64`` guards
    for; NULL payloads drop, matching ``dhash64``'s NULL-pixels drop.

    ``id_col`` must be integral (the frame-uid paths' shape). Callers
    needing the pixel grid downstream (histogram / resize / PNG
    round-trip) keep the composed operators.
    """
    cols = _id_payload(df, id_col, payload_col)

    def hash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        w_lo = (np.int64(1) << np.arange(32, dtype=np.int64))
        for pdf in batches:
            null_mask, pixels = _slice_mean_pixels(pdf["payload"], 72)
            keep = ~null_mask
            px = pixels[keep].reshape(-1, 8, 9)
            # bit r*8+c set iff grid[r][c+1] > grid[r][c] — dhash64's
            # bit() rule, vectorized over the whole batch
            bits = (px[:, :, 1:] > px[:, :, :-1]).reshape(-1, 64)
            lo = bits[:, :32].astype(np.int64) @ w_lo
            hi = bits[:, 32:].astype(np.int64) @ w_lo
            yield pd.DataFrame(
                {
                    "id": np.asarray(pdf["doc_id"])[keep],
                    "simhash_lo": lo,
                    "simhash_hi": hi,
                }
            )

    return cols.mapInPandas(hash_batches, schema=DECODE_DHASH_SCHEMA)


def decode_pixel_histogram(
    df: DataFrame,
    height: int,
    width: int,
    dim: int = 16,
    out_h: int | None = None,
    out_w: int | None = None,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Fused ``extract_pixel_histogram(resize_media?(decode_media(df,
    height, width)), dim)`` in ONE mapInPandas stage — bit-identical
    output (pinned by tests/test_multimodal.py::
    test_decode_pixel_histogram_matches_composed), built for the
    feature paths where the decoded grid exists only to be histogrammed.

    Why fuse (optimization guide §4.2 applied to the Python boundary,
    the :func:`decode_dhash64` rationale): the composed chain ships an
    ``ARRAY<INT>`` pixel grid per row across the Arrow boundary once
    per stage (twice more when a resize sits in the middle); per row
    the consumer only needs ``dim`` histogram counts. Fusing runs the
    shared :func:`_slice_mean_pixels` decode core, the nearest-neighbor
    index math of ``resize_media`` (when ``out_h``/``out_w`` are set),
    and one batch-wide ``bincount`` where the pixels already are, so
    only ``(doc_id, hist[dim])`` ever crosses. NULL payloads yield a
    NULL histogram (decode's NULL propagation composed with the
    histogram stage's NULL passthrough); empty payloads decode to the
    all-zero grid exactly as in ``decode_media``.

    Callers needing the pixel grid itself (PNG round-trip, dHash over
    resized grids) keep the composed operators.
    """
    assert 256 % dim == 0
    cols = _id_payload(df, id_col, payload_col)
    n_px = height * width

    if (out_h is None) != (out_w is None):
        raise ValueError("out_h and out_w must be set together")

    def hist_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            null_mask, pixels = _slice_mean_pixels(pdf["payload"], n_px)
            if out_h is not None:
                rows = (np.arange(out_h) * height) // out_h
                cols_ = (np.arange(out_w) * width) // out_w
                pixels = (
                    pixels.reshape(-1, height, width)[:, rows][:, :, cols_]
                    .reshape(-1, out_h * out_w)
                )
            n, m = pixels.shape
            idx = np.repeat(np.arange(n), m)
            hists = np.bincount(
                pixels.ravel() // (256 // dim) + dim * idx,
                minlength=dim * n,
            ).reshape(n, dim)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "hist": [
                        None if isnull else h
                        for isnull, h in zip(null_mask, hists)
                    ],
                }
            )

    return cols.mapInPandas(hist_batches, schema=PIXEL_HIST_SCHEMA)


def audio_ahash64(
    df: DataFrame,
    frame_len: int = 3,
    id_col: str = "doc_id",
    samples_col: str = "sample_prefix",
) -> DataFrame:
    """64-bit perceptual AUDIO fingerprint over decoded PCM samples —
    the dHash idea applied to the signal's short-time energy envelope
    (the core of real audio fingerprints like Chromaprint/Shazam:
    hash the SIGN of energy differences between adjacent analysis
    frames, which survives gain changes, requantization, and codec
    noise far better than the raw samples).

    Input is :func:`decode_audio` output (or any (id, array<int>
    samples) table): the sample array is cut into 65 consecutive
    frames of ``frame_len`` samples; frame k's energy is the integer
    Σs² over its samples (missing samples past a short clip's end
    contribute 0 — empty-slice aggregate); bit k (k = 0..63) is set
    iff energy[k+1] > energy[k]. Integer-exact end to end, so the
    whole hash is replayable in ANSI SQL for the oracle gate.

    Output is (id, simhash_lo, simhash_hi) — the hash split into the
    two 32-bit words :func:`proglog_spark.operators.dedup.
    hamming_pairs` banding expects, so the SimHash/dHash pigeonhole
    blocking + exact-Hamming-verify machinery does audio near-dup
    with ZERO new join code (the same reuse dhash64 bought images).
    The computation is built-in column expressions on the decoded
    array: 65 slice-aggregates + static bit arithmetic, whole-stage
    codegen, no Python in this stage, no shuffle.

    NULL sample rows (null payloads / non-WAV / corrupt headers
    upstream) drop — a row with no decoded signal has no perceptual
    identity to dedup on.

    Reference parity note: the reference has no media operators
    (payloads are opaque bytes, api/v1/log.proto:8); this extends its
    duplication motif (internal/log/replicator.go — O32) to the audio
    tier, completing the perceptual-dedup matrix (text SimHash, image
    dHash, video frame-dHash, audio energy-hash).
    """
    en = audio_frame_energies(
        df, n_frames=65, frame_len=frame_len, id_col=id_col,
        samples_col=samples_col,
    )
    return ahash64_from_energies(en)


def ahash64_from_energies(en: DataFrame) -> DataFrame:
    """The bit-packing half of :func:`audio_ahash64`, split out (r11)
    so a caller that already holds the 65-frame energy envelope —
    e.g. a session-shared :func:`audio_frame_energies` table also
    feeding envelope similarity search — can fingerprint it without
    recomputing the decode + envelope chain. Input is
    ``audio_frame_energies`` output ``(id, energies ARRAY<BIGINT>)``
    with 65 frames; output and bit rule are exactly
    :func:`audio_ahash64`'s (bit k set iff energy[k+1] > energy[k],
    two 32-bit words). Same built-in-expressions / codegen posture —
    no Python, no shuffle."""
    zero = F.lit(0).cast("long")

    def word(lo_bit: int):
        w = zero
        for k in range(lo_bit, lo_bit + 32):
            bit = (
                F.col("energies").getItem(k + 1) > F.col("energies").getItem(k)
            ).cast("long")
            w = w + F.shiftleft(bit, k - lo_bit)
        return w

    return en.select(
        "id",
        word(0).alias("simhash_lo"),
        word(32).alias("simhash_hi"),
    )


def audio_frame_energies(
    df: DataFrame,
    n_frames: int = 65,
    frame_len: int = 3,
    id_col: str = "doc_id",
    samples_col: str = "sample_prefix",
) -> DataFrame:
    """Short-time ENERGY ENVELOPE of decoded PCM: the sample array cut
    into ``n_frames`` consecutive frames of ``frame_len`` samples,
    each frame reduced to its integer energy Σs² (samples past a
    short clip's end contribute 0 — empty-slice aggregate). Output is
    (id, energies ARRAY<BIGINT>) — the audio tier's feature vector,
    feeding both the perceptual fingerprint (:func:`audio_ahash64`
    hashes the envelope's difference signs) and similarity search
    (integer envelope dot products, the image-histogram-top-k posture
    on audio). Bounds: a frame energy ≤ frame_len·32768² < 2³³ for
    16-bit PCM, so the HASH path (sign comparisons) is always safe;
    envelope DOT products are BIGINT-safe for 8-bit PCM
    (65·(3·128²)² < 2⁴⁴) but can EXCEED 2⁶³ for loud 16-bit clips
    (65·(3·32768²)² ≈ 10¹⁹) — under Spark's default ANSI mode such a
    dot fails loudly with ARITHMETIC_OVERFLOW rather than wrapping;
    to dot 16-bit envelopes, cast to DECIMAL(38,0) or rescale the
    samples first (`docs_audio_energy_topk` rides the 8-bit path).
    NULL sample rows drop (no decoded signal → no identity).
    All built-in slice-aggregate expressions: codegen, no Python in
    this stage, no shuffle."""
    zero = F.lit(0).cast("long")

    def energy(k: int):
        frame = F.slice(F.col(samples_col), k * frame_len + 1, frame_len)
        return F.aggregate(
            frame, zero, lambda acc, x: acc + x.cast("long") * x.cast("long")
        )

    return df.where(F.col(samples_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.array(*[energy(k) for k in range(n_frames)]).alias("energies"),
    )
