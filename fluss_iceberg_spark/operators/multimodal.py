"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design for image/audio/video at 100 TB: the payload is an opaque
``binary`` column that never leaves the JVM except inside Arrow batches;
metadata (mime, byte length, content hash) travels in cheap typed columns
so filtering/joining/pruning happens without touching payload bytes.
Decode / feature-extraction runs as ``mapInPandas`` over Arrow batches —
partition-parallel, zero driver involvement.

Two decode kernels share the plumbing: ``decode_image_stub`` (clearly
marked stub — deterministic fake features from payload bytes, for the
plumbing tests) and ``decode_real`` (real container-header decode:
Pillow where installed, pure-Python header probes from
operators/codecs.py where not, so the real path executes in this
codec-less container too). The Spark side — schema, batch iteration,
partitioning — is identical and tested for both.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id long, n_bytes int, sha256 string, fake_width int, fake_height int"
)


def binarize_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Simulate a multimodal ingest: payload = utf-8 bytes of the text
    (stands in for image bytes), plus the typed metadata columns."""
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("sha256"),
    )


def decode_image_stub(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas decode kernel (STUB).

    Real deployments replace the body with an actual decoder (PIL/ffmpeg)
    — the signature, Arrow batch shape and output schema stay identical.
    Deterministic fake features: width/height derived from the first/last
    payload bytes (vectorized via the pandas bytes accessor — no per-row
    Python lambdas). Metadata already computed JVM-side (n_bytes, sha256
    from ``binarize_documents``) passes straight through instead of being
    recomputed per row in Python (the r01 anti-pattern)."""
    for pdf in batch_iter:
        payloads = pdf["payload"]
        first = payloads.str[0].fillna(-1).astype("int64")
        last = payloads.str[-1].fillna(-1).astype("int64")
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["n_bytes"].astype("Int32"),
                "sha256": pdf["sha256"],
                "fake_width": (1 + first.where(first >= 0, 0)).astype("int32"),
                "fake_height": (1 + last.where(last >= 0, 0)).astype("int32"),
            }
        )
        yield out


REAL_DECODED_SCHEMA = (
    "doc_id long, n_bytes int, sha256 string, width int, height int, "
    "mode string"
)


def decode_real_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel decoding REAL image payloads. Decoder choice
    happens once per worker: PIL where Pillow is installed (the full
    production codec surface), else the pure-Python header probes
    (operators/codecs.py — PNG/JPEG/GIF/BMP/PPM from their public
    specs). Both paths extract the same features — (width, height,
    mode) live in the container header, which is exactly what PIL's
    lazy ``Image.open`` reads too — so the seam swaps breadth of
    formats, not semantics, and the pure path keeps the real decode
    executable in codec-less environments like this container.
    Undecodable payloads yield NULL width/height/mode rather than
    failing the batch (a 100 TB crawl always contains corrupt blobs)."""
    import io

    try:
        from PIL import Image

        def probe(b: bytes):
            try:
                with Image.open(io.BytesIO(b)) as im:
                    return im.width, im.height, im.mode
            except Exception:
                return None

    except ImportError:
        from fluss_iceberg_spark.operators.codecs import probe_image as probe

    for pdf in batch_iter:
        widths, heights, modes = [], [], []
        for payload in pdf["payload"]:
            # NULL payloads (failed fetches) and unconvertible cells are
            # corrupt-blob cases: NULL features, never a task failure
            try:
                got = probe(bytes(payload)) if payload is not None else None
            except (TypeError, ValueError):
                got = None
            w, h, m = got if got is not None else (None, None, None)
            widths.append(w)
            heights.append(h)
            modes.append(m)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                # nullable Int32: a NULL payload carries NULL n_bytes,
                # which a plain int32 astype would refuse (NaN)
                "n_bytes": pdf["n_bytes"].astype("Int32"),
                "sha256": pdf["sha256"],
                "width": pd.Series(widths, dtype="Int32"),
                "height": pd.Series(heights, dtype="Int32"),
                "mode": pd.Series(modes, dtype="object"),
            }
        )


def decode_real(binarized: DataFrame) -> DataFrame:
    """Real media decode over the binary column: mapInPandas over Arrow
    batches, metadata passed through JVM-side — the same Spark plan as
    the stub path. Executes everywhere: via Pillow when installed, via
    the pure-Python header probes (operators/codecs.py) when not."""
    return binarized.mapInPandas(decode_real_kernel, REAL_DECODED_SCHEMA)


def decoded_features(docs: DataFrame) -> DataFrame:
    """Binary ingest → mapInPandas decode (stub) over Arrow batches."""
    return binarize_documents(docs).mapInPandas(decode_image_stub, DECODED_SCHEMA)


FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_offset int, frame_hash string"


def sample_frames_kernel(n_frames: int = 4, frame_bytes: int = 16):
    """mapInPandas kernel factory: N evenly spaced byte-range "frames" per
    payload, each hashed (sha256 hex) as the stand-in frame feature. A
    real video pipeline swaps the slice+hash for a codec frame-grab —
    signature, Arrow batch shape and output schema stay identical. The
    per-row loop over ≤ n_frames tiny slices is the honest shape here:
    frame extraction is inherently per-frame work."""
    import hashlib

    def kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batch_iter:
            ids, idxs, offs, hashes = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n = len(b)
                for i in range(n_frames):
                    off = (i * n) // n_frames
                    ids.append(doc_id)
                    idxs.append(i)
                    offs.append(off)
                    hashes.append(
                        hashlib.sha256(b[off : off + frame_bytes]).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_offset": pd.Series(offs, dtype="int32"),
                    "frame_hash": pd.Series(hashes, dtype="object"),
                }
            )

    return kernel


def sampled_frames(
    docs: DataFrame, n_frames: int = 4, frame_bytes: int = 16
) -> DataFrame:
    """Frame sampling over multimodal payloads (binary ingest →
    mapInPandas kernel): one row per (doc, frame)."""
    return binarize_documents(docs).mapInPandas(
        sample_frames_kernel(n_frames, frame_bytes), FRAMES_SCHEMA
    )


# ------------------------------------------------------- raster features

PIXEL_STATS_SCHEMA = (
    "doc_id long, width int, height int, n_pixels int, "
    "sum_r long, sum_g long, sum_b long, min_v int, max_v int"
)


def pixel_stats_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL raster decode (operators/rasters.py —
    PNG/netpbm/BMP pixel arrays, not just headers) → exact integer
    channel statistics. All-integer outputs (sums, min, max) so an
    arithmetic oracle can replay them bit-exactly; undecodable payloads
    yield NULL stats, never a task failure. Grayscale rasters populate
    sum_r only (the single channel); RGBA ignores alpha."""
    from fluss_iceberg_spark.operators.rasters import decode_pixels

    import numpy as np

    for pdf in batch_iter:
        n = len(pdf)
        width = np.full(n, None, dtype=object)
        height = np.full(n, None, dtype=object)
        npix = np.full(n, None, dtype=object)
        sums = [[None] * n for _ in range(3)]
        minv = np.full(n, None, dtype=object)
        maxv = np.full(n, None, dtype=object)
        for k, payload in enumerate(pdf["payload"]):
            got = decode_pixels(payload) if payload is not None else None
            if got is None:
                continue
            arr, _mode = got
            h, w, c = arr.shape
            width[k], height[k], npix[k] = w, h, w * h
            flat = arr.reshape(-1, c).astype(np.int64)
            for ch in range(min(c, 3)):
                sums[ch][k] = int(flat[:, ch].sum())
            minv[k] = int(arr.min())
            maxv[k] = int(arr.max())
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": pd.Series(width, dtype="Int32"),
                "height": pd.Series(height, dtype="Int32"),
                "n_pixels": pd.Series(npix, dtype="Int32"),
                "sum_r": pd.Series(sums[0], dtype="Int64"),
                "sum_g": pd.Series(sums[1], dtype="Int64"),
                "sum_b": pd.Series(sums[2], dtype="Int64"),
                "min_v": pd.Series(minv, dtype="Int32"),
                "max_v": pd.Series(maxv, dtype="Int32"),
            }
        )


def pixel_stats(binarized: DataFrame) -> DataFrame:
    """Per-image exact channel statistics over decoded rasters."""
    return binarized.select("doc_id", "payload").mapInPandas(
        pixel_stats_kernel, PIXEL_STATS_SCHEMA
    )


AHASH_SCHEMA = "doc_id long, width int, height int, ahash string"


def ahash_bits(arr) -> str | None:
    """64-bit average hash (aHash) with EXACT integer semantics: gray =
    per-pixel channel sum (no division), 8x8 block grid with boundaries
    floor(k*dim/8), bit[r,c] = block_sum * n_pixels > total_sum *
    block_n_pixels (cross-multiplied — never a float). Returned as a
    64-char '0'/'1' string, identical across engines by construction.
    Images smaller than 8x8 hash to None. Block sums come from an
    integral image (two cumsums), so the kernel is O(pixels) vectorized."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    if h < 8 or w < 8:
        return None
    gray = arr.astype(np.int64).sum(axis=2) if arr.ndim == 3 else arr.astype(np.int64)
    integral = np.zeros((h + 1, w + 1), dtype=np.int64)
    integral[1:, 1:] = gray.cumsum(0).cumsum(1)
    ys = [(k * h) // 8 for k in range(9)]
    xs = [(k * w) // 8 for k in range(9)]
    yi = np.array(ys)
    xi = np.array(xs)
    bsum = (
        integral[np.ix_(yi[1:], xi[1:])]
        - integral[np.ix_(yi[:-1], xi[1:])]
        - integral[np.ix_(yi[1:], xi[:-1])]
        + integral[np.ix_(yi[:-1], xi[:-1])]
    )
    bnpix = np.outer(np.diff(yi), np.diff(xi))
    total = int(gray.sum())
    bits = bsum * (h * w) > total * bnpix
    return "".join("1" if b else "0" for b in bits.ravel())


def ahash_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: raster decode → 64-bit average hash."""
    from fluss_iceberg_spark.operators.rasters import decode_pixels

    for pdf in batch_iter:
        widths, heights, hashes = [], [], []
        for payload in pdf["payload"]:
            got = decode_pixels(payload) if payload is not None else None
            if got is None:
                widths.append(None)
                heights.append(None)
                hashes.append(None)
                continue
            arr, _mode = got
            widths.append(arr.shape[1])
            heights.append(arr.shape[0])
            hashes.append(ahash_bits(arr))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": pd.Series(widths, dtype="Int32"),
                "height": pd.Series(heights, dtype="Int32"),
                "ahash": pd.Series(hashes, dtype="object"),
            }
        )


def perceptual_hashes(binarized: DataFrame) -> DataFrame:
    """Per-image 64-bit aHash over decoded rasters: the image near-dup
    fingerprint. At 100 TB the downstream dedup is a GROUP BY on the
    64-bit hash (exact-duplicate collapse) or a banded hamming join
    (near-dup) — either way the raster never leaves the map side; only
    the 8-byte fingerprint shuffles. ``spread`` parallelizes the decode
    when the payload source scans as few splits (r13: the synthesized
    corpus arrived as ONE split, so the whole decode ran serially on one
    core — 3.5 s/pass measured); a real multi-split 100 TB scan passes
    through untouched (operators/util.spread)."""
    from fluss_iceberg_spark.operators.util import spread

    return spread(binarized.select("doc_id", "payload")).mapInPandas(
        ahash_kernel, AHASH_SCHEMA
    )


def synth_png_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel synthesizing REAL PNG payloads whose pixels are
    a pure arithmetic function of doc_id: w = doc_id%9+8, h = doc_id%5+8,
    RGB pixel byte i = (doc_id*31 + i*7) % 251, scanline filter =
    doc_id%5 (the corpus exercises all five PNG filters). The encoder
    (rasters.encode_png) applies filters FORWARD; the decode kernel must
    invert zlib + filtering to recover the raster, so a downstream
    arithmetic oracle match proves the full PNG raster path."""
    import numpy as np

    from fluss_iceberg_spark.operators.rasters import encode_png

    for pdf in batch_iter:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            w, h = d % 9 + 8, d % 5 + 8
            v = (d * 31 + np.arange(w * h * 3, dtype=np.int64) * 7) % 251
            payloads.append(encode_png(v.astype(np.uint8).reshape(h, w, 3), d % 5))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": pd.Series(payloads, dtype="object")}
        )


def synth_png_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → deterministic PNG payload (see synth_png_kernel).
    ``spread`` parallelizes synth+downstream decode when the doc source
    scans as few splits (r13; no-op on real multi-split inputs)."""
    from fluss_iceberg_spark.operators.util import spread

    return spread(docs.select("doc_id")).mapInPandas(
        synth_png_kernel, "doc_id long, payload binary"
    )


# ------------------------------------------------------ animation frames

GIF_FRAMES_SCHEMA = (
    "doc_id long, frame_idx int, width int, height int, delay_cs int, "
    "n_px int, sum_idx long, min_idx int, max_idx int"
)


def gif_frames_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL animated-GIF decode (operators/gif.py —
    LZW inflate of every frame's palette-index raster) → one row per
    (doc, frame) with exact integer raster statistics and the frame's
    graphic-control delay. Undecodable payloads contribute no rows
    (frame explosion semantics, like sampled_frames); the corrupt-blob
    policy for scalar features lives in the pixel/audio kernels."""
    from fluss_iceberg_spark.operators.gif import decode_gif_frames

    import numpy as np

    for pdf in batch_iter:
        rows: dict[str, list] = {k: [] for k in (
            "doc_id", "frame_idx", "width", "height", "delay_cs",
            "n_px", "sum_idx", "min_idx", "max_idx",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            frames = decode_gif_frames(payload) if payload is not None else None
            if frames is None:
                continue
            for f in frames:
                arr = f["indices"].astype(np.int64)
                rows["doc_id"].append(doc_id)
                rows["frame_idx"].append(f["frame_idx"])
                rows["width"].append(f["width"])
                rows["height"].append(f["height"])
                rows["delay_cs"].append(f["delay_cs"])
                rows["n_px"].append(arr.size)
                rows["sum_idx"].append(int(arr.sum()))
                rows["min_idx"].append(int(arr.min()))
                rows["max_idx"].append(int(arr.max()))
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(rows["doc_id"], dtype="int64"),
                "frame_idx": pd.Series(rows["frame_idx"], dtype="int32"),
                "width": pd.Series(rows["width"], dtype="int32"),
                "height": pd.Series(rows["height"], dtype="int32"),
                "delay_cs": pd.Series(rows["delay_cs"], dtype="int32"),
                "n_px": pd.Series(rows["n_px"], dtype="int32"),
                "sum_idx": pd.Series(rows["sum_idx"], dtype="int64"),
                "min_idx": pd.Series(rows["min_idx"], dtype="int32"),
                "max_idx": pd.Series(rows["max_idx"], dtype="int32"),
            }
        )


def gif_frame_features(binarized: DataFrame) -> DataFrame:
    """Per-frame exact statistics over decoded animated-GIF payloads."""
    return binarized.select("doc_id", "payload").mapInPandas(
        gif_frames_kernel, GIF_FRAMES_SCHEMA
    )


def synth_gif_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel synthesizing REAL animated GIFs whose frames
    are a pure arithmetic function of doc_id: n_frames = doc_id%4 + 2,
    geometry w = doc_id%6 + 6 / h = doc_id%4 + 5, per-frame delay =
    (doc_id + f) % 50 cs, palette-index pixel i of frame f =
    (doc_id*7 + f*13 + i*3) % 128. The encoder's flat LZW shares no
    code with the decoder's dynamic-dictionary LZW, so recovering the
    indices downstream proves a real inflate."""
    import numpy as np

    from fluss_iceberg_spark.operators.gif import encode_gif

    palette = np.stack(
        [np.arange(128, dtype=np.uint8) * 2] * 3, axis=1
    )  # 128 grays
    for pdf in batch_iter:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            n_frames, w, h = d % 4 + 2, d % 6 + 6, d % 4 + 5
            i = np.arange(w * h, dtype=np.int64)
            frames = [
                ((d * 7 + f * 13 + i * 3) % 128).astype(np.uint8).reshape(h, w)
                for f in range(n_frames)
            ]
            delays = [(d + f) % 50 for f in range(n_frames)]
            payloads.append(encode_gif(frames, palette, delays))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": pd.Series(payloads, dtype="object")}
        )


def synth_gif_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → deterministic animated-GIF payload (see synth_gif_kernel).
    ``spread``: see synth_png_payloads (r13)."""
    from fluss_iceberg_spark.operators.util import spread

    return spread(docs.select("doc_id")).mapInPandas(
        synth_gif_kernel, "doc_id long, payload binary"
    )


def ahash_near_pairs(
    hashes: DataFrame, max_hamming: int = 6, n_bands: int = 8
) -> DataFrame:
    """Image near-dup PAIRS within a hamming radius over 64-bit aHashes —
    the bit-sampling LSH shape: split the hash into ``n_bands`` equal
    bands, join on (band index, band value), then verify exact hamming
    distance on the candidates. By pigeonhole the banding is EXACT (not
    approximate) for ``max_hamming < n_bands``: a pair differing in at
    most n_bands-1 bits must agree on at least one whole band. At 100 TB
    the band join is the only shuffle and carries (doc_id, 8-char band)
    rows; the quadratic blowup is confined to per-band-value candidate
    groups, and the hamming verify runs inside whole-stage codegen on
    the candidate stream — no raster, no full cross join, anywhere.

    Returns (doc_a, doc_b, hamming) with doc_a < doc_b."""
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding is exact only for max_hamming < n_bands "
            f"({max_hamming} >= {n_bands})"
        )
    width = 64 // n_bands
    # The FINGERPRINT frame (doc_id + 8-byte hash) feeds four subtrees:
    # the vocabulary distinct, both re-expansion joins and the intra-hash
    # self-join. Hash-partitioning it on ahash gives the three doc-level
    # subtrees one exchange, which Spark reuses, so with nothing cached
    # (and nothing left to release) the raster-decode kernel runs twice:
    # once there, once under the vocabulary's column-pruned copy. The
    # doc_id filter is the one the self-join's `<` implies; stating it
    # here keeps that subtree's exchange identical to the other two.
    h = (
        hashes.where(F.col("ahash").isNotNull() & F.col("doc_id").isNotNull())
        .select("doc_id", "ahash")
        .repartition("ahash")
    )
    # Band-join over DISTINCT hash VALUES, not documents: a duplicate-heavy
    # corpus has vastly fewer fingerprints than rows (the whole point of
    # near-dup detection), and banding documents directly makes every
    # duplicate cluster a quadratic join bucket carrying 64-char strings —
    # measured 200x slower at sf0.1. The vocabulary form keeps the
    # quadratic work at |distinct hashes|² worst case and re-expands to
    # doc pairs only for qualifying hash pairs, so the output is the only
    # thing proportional to true duplicate mass (same trick as
    # operators/dedup.py's PassJoin DISTINCT vocabulary).
    dh = h.select("ahash").distinct()
    bands = dh.select(
        "ahash",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> substring(ahash, b * {width} + 1, {width}))"
            )
        ).alias("band_idx", "band"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.ahash") < F.col("b.ahash")),
        )
        .select(F.col("a.ahash").alias("ha"), F.col("b.ahash").alias("hb"))
        .distinct()  # a close hash pair shares several bands
    )
    qual = cand.withColumn(
        "hamming",
        F.expr(
            "aggregate(sequence(1, 64), 0, (acc, i) -> "
            "acc + IF(substring(ha, i, 1) = substring(hb, i, 1), 0, 1))"
        ).cast("int"),
    ).where(F.col("hamming") <= max_hamming)
    # expand qualifying hash pairs back to doc pairs (broadcast: the
    # qualifying set is fingerprint-vocabulary-sized by construction)
    inter = (
        h.alias("x")
        .join(F.broadcast(qual), F.col("x.ahash") == F.col("ha"))
        .join(h.alias("y"), F.col("y.ahash") == F.col("hb"))
        .select(
            F.least("x.doc_id", "y.doc_id").alias("doc_a"),
            F.greatest("x.doc_id", "y.doc_id").alias("doc_b"),
            "hamming",
        )
    )
    intra = (
        h.alias("x")
        .join(h.alias("y"), (F.col("x.ahash") == F.col("y.ahash"))
              & (F.col("x.doc_id") < F.col("y.doc_id")))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return inter.unionByName(intra)


# -------------------------------------------------------- audio features

AUDIO_FEATURES_SCHEMA = (
    "doc_id long, n_frames int, channels int, rate int, duration_us long, "
    "sum_samples long, energy long, min_s int, max_s int, crossings int"
)


def audio_features_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL WAV/RIFF PCM decode (operators/audio.py)
    → exact integer waveform statistics (frame/channel counts, integer
    duration, sample sum, energy = sum of squares, min/max, channel-0
    zero crossings). All-integer outputs so an arithmetic oracle can
    replay them; undecodable payloads yield NULL features."""
    import numpy as np

    from fluss_iceberg_spark.operators.audio import decode_wav, zero_crossings

    for pdf in batch_iter:
        cols: dict[str, list] = {k: [] for k in (
            "n_frames", "channels", "rate", "duration_us",
            "sum_samples", "energy", "min_s", "max_s", "crossings",
        )}
        for payload in pdf["payload"]:
            got = decode_wav(payload) if payload is not None else None
            if got is None:
                for k in cols:
                    cols[k].append(None)
                continue
            arr, rate = got
            n, c = arr.shape
            a64 = arr.astype(np.int64)
            cols["n_frames"].append(n)
            cols["channels"].append(c)
            cols["rate"].append(rate)
            cols["duration_us"].append(n * 1_000_000 // rate)
            cols["sum_samples"].append(int(a64.sum()))
            cols["energy"].append(int((a64 * a64).sum()))
            cols["min_s"].append(int(arr.min()))
            cols["max_s"].append(int(arr.max()))
            cols["crossings"].append(zero_crossings(arr[:, 0]))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_frames": pd.Series(cols["n_frames"], dtype="Int32"),
                "channels": pd.Series(cols["channels"], dtype="Int32"),
                "rate": pd.Series(cols["rate"], dtype="Int32"),
                "duration_us": pd.Series(cols["duration_us"], dtype="Int64"),
                "sum_samples": pd.Series(cols["sum_samples"], dtype="Int64"),
                "energy": pd.Series(cols["energy"], dtype="Int64"),
                "min_s": pd.Series(cols["min_s"], dtype="Int32"),
                "max_s": pd.Series(cols["max_s"], dtype="Int32"),
                "crossings": pd.Series(cols["crossings"], dtype="Int32"),
            }
        )


def audio_features(binarized: DataFrame) -> DataFrame:
    """Per-clip exact waveform statistics over decoded WAV payloads."""
    return binarized.select("doc_id", "payload").mapInPandas(
        audio_features_kernel, AUDIO_FEATURES_SCHEMA
    )


def synth_wav_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel synthesizing REAL WAV payloads whose waveform
    is a pure arithmetic function of doc_id: channels = 1 + doc_id%2,
    rate = 8000 + (doc_id%4)*4000, n_frames = doc_id%50 + 20, and the
    bit width alternates (8-bit unsigned-biased when doc_id%3 == 0, else
    16-bit signed) so the corpus exercises both PCM sample layouts.
    Flattened interleaved sample j = (doc_id*13 + j*17) % 200 - 100
    (8-bit) or % 4001 - 2000 (16-bit). The encoder (audio.encode_wav)
    shares no parsing code with the decoder."""
    import numpy as np

    from fluss_iceberg_spark.operators.audio import encode_wav

    for pdf in batch_iter:
        payloads = []
        for doc_id in pdf["doc_id"]:
            d = int(doc_id)
            c = 1 + d % 2
            rate = 8000 + (d % 4) * 4000
            n = d % 50 + 20
            j = np.arange(n * c, dtype=np.int64)
            if d % 3 == 0:
                bits, v = 8, (d * 13 + j * 17) % 200 - 100
            else:
                bits, v = 16, (d * 13 + j * 17) % 4001 - 2000
            payloads.append(encode_wav(v.reshape(n, c), rate, bits))
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "payload": pd.Series(payloads, dtype="object")}
        )


def synth_wav_payloads(docs: DataFrame) -> DataFrame:
    """doc_id → deterministic WAV payload (see synth_wav_kernel).
    ``spread``: see synth_png_payloads (r13)."""
    from fluss_iceberg_spark.operators.util import spread

    return spread(docs.select("doc_id")).mapInPandas(
        synth_wav_kernel, "doc_id long, payload binary"
    )


def resize_features(
    decoded: DataFrame, max_w: int = 64, max_h: int = 64
) -> DataFrame:
    """Resize planning on decoded dimensions: aspect-preserving clamp to
    (max_w, max_h). Pure column arithmetic — a real pipeline applies the
    computed scale inside the decode kernel; the dimension math itself
    belongs JVM-side."""
    scale = F.least(
        F.lit(1.0),
        F.lit(float(max_w)) / F.col("fake_width"),
        F.lit(float(max_h)) / F.col("fake_height"),
    )
    return decoded.select(
        "doc_id",
        "fake_width",
        "fake_height",
        F.round(scale, 6).alias("scale"),
        F.greatest(F.lit(1), F.floor(F.col("fake_width") * scale)).cast("int").alias("new_width"),
        F.greatest(F.lit(1), F.floor(F.col("fake_height") * scale)).cast("int").alias("new_height"),
    )


# ------------------------------------------------------ video (ISO-BMFF)

MP4_META_SCHEMA = (
    "doc_id long, brand string, handler string, width int, height int, "
    "timescale int, duration long, duration_ms long, n_frames int, "
    "total_bytes long"
)

MP4_FRAME_SCHEMA = (
    "doc_id long, frame_idx int, dur int, n_bytes int, sum_b long, "
    "min_b int, max_b int"
)


def _synth_mp4_batch(pdf: pd.DataFrame, with_sync: bool) -> pd.DataFrame:
    """Synthesize REAL ISO-BMFF/MP4 payloads whose sample table and
    frame bytes are pure arithmetic functions of doc_id: n_frames =
    doc_id%6 + 3, frame i size = 16 + (doc_id+i*3)%9, frame byte k =
    (doc_id*7 + i*31 + k*13) % 251, duration run-split at n//2
    (100 + doc_id%7 then 150 + doc_id%11 — exercises multi-run stts),
    timescale = 1000 + (doc_id%3)*200, track dims ((doc_id%5+2)*16,
    (doc_id%4+2)*16 — 16.16 fixed-point in tkhd), two frames per chunk
    with a short tail chunk (exercises the stsc chunk-run expansion).
    With ``with_sync``, an stss box marks every (doc_id%3 + 2)-th frame
    as a keyframe. The writer (video.encode_mp4) shares no parsing code
    with the parser."""
    from fluss_iceberg_spark.operators.video import encode_mp4

    payloads = []
    for doc_id in pdf["doc_id"]:
        d = int(doc_id)
        n = d % 6 + 3
        frames = [
            bytes(
                (d * 7 + i * 31 + k * 13) % 251
                for k in range(16 + (d + i * 3) % 9)
            )
            for i in range(n)
        ]
        durs = [
            100 + d % 7 if i < n // 2 else 150 + d % 11 for i in range(n)
        ]
        payloads.append(
            encode_mp4(
                frames,
                durs,
                1000 + (d % 3) * 200,
                (d % 5 + 2) * 16,
                (d % 4 + 2) * 16,
                sync_every=(d % 3 + 2) if with_sync else 0,
            )
        )
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"], "payload": pd.Series(payloads, dtype="object")}
    )


def synth_mp4_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batch_iter:
        yield _synth_mp4_batch(pdf, with_sync=False)


def synth_mp4_payloads(docs: DataFrame, with_sync: bool = False) -> DataFrame:
    """doc_id → deterministic MP4 payload (see _synth_mp4_batch).
    ``spread``: see synth_png_payloads (r13)."""
    from fluss_iceberg_spark.operators.util import spread

    if with_sync:

        def kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batch_iter:
                yield _synth_mp4_batch(pdf, with_sync=True)

        return spread(docs.select("doc_id")).mapInPandas(
            kernel, "doc_id long, payload binary"
        )
    return spread(docs.select("doc_id")).mapInPandas(
        synth_mp4_kernel, "doc_id long, payload binary"
    )


def mp4_metadata_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: REAL ISO-BMFF parse (operators/video.py) →
    container metadata (brand, handler, fixed-point track dims, movie
    timescale/duration, frame count, total sample bytes). Undecodable
    payloads yield NULL features. This is the metadata-only path — it
    reads ftyp + moov and never touches mdat, the 100 TB catalog-scan
    shape for video corpora."""
    from fluss_iceberg_spark.operators.video import parse_mp4

    keys = (
        "brand", "handler", "width", "height", "timescale",
        "duration", "duration_ms", "n_frames", "total_bytes",
    )
    for pdf in batch_iter:
        cols: dict[str, list] = {k: [] for k in keys}
        for payload in pdf["payload"]:
            t = parse_mp4(payload) if payload is not None else None
            if t is None:
                for k in keys:
                    cols[k].append(None)
                continue
            cols["brand"].append(t.brand)
            cols["handler"].append(t.handler)
            cols["width"].append(t.width)
            cols["height"].append(t.height)
            cols["timescale"].append(t.timescale)
            cols["duration"].append(t.duration)
            cols["duration_ms"].append(t.duration * 1000 // t.timescale)
            cols["n_frames"].append(t.n_frames)
            cols["total_bytes"].append(sum(t.sizes))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "brand": pd.Series(cols["brand"], dtype="object"),
                "handler": pd.Series(cols["handler"], dtype="object"),
                "width": pd.Series(cols["width"], dtype="Int32"),
                "height": pd.Series(cols["height"], dtype="Int32"),
                "timescale": pd.Series(cols["timescale"], dtype="Int32"),
                "duration": pd.Series(cols["duration"], dtype="Int64"),
                "duration_ms": pd.Series(cols["duration_ms"], dtype="Int64"),
                "n_frames": pd.Series(cols["n_frames"], dtype="Int32"),
                "total_bytes": pd.Series(cols["total_bytes"], dtype="Int64"),
            }
        )


def mp4_metadata(binarized: DataFrame) -> DataFrame:
    """Per-video container metadata via the real ISO-BMFF box walk."""
    return binarized.select("doc_id", "payload").mapInPandas(
        mp4_metadata_kernel, MP4_META_SCHEMA
    )


def mp4_frame_stats_kernel(
    batch_iter: Iterator[pd.DataFrame], sync_only: bool = False
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: parse the sample table, then slice each
    frame's bytes straight out of mdat via its (offset, size) byte range
    — the IO-proportional frame-sampling path — and reduce every frame
    to exact integer statistics (duration, byte count, sum/min/max).
    One output row per frame; corrupt payloads contribute nothing. With
    ``sync_only``, only stss keyframes are sliced and decoded — the
    practical video-ingest pattern (keyframes decode standalone; delta
    frames need their GOP), so kernel cost is ∝ keyframes taken."""
    from fluss_iceberg_spark.operators.video import frame_bytes, parse_mp4

    for pdf in batch_iter:
        out: dict[str, list] = {
            k: []
            for k in (
                "doc_id", "frame_idx", "dur", "n_bytes", "sum_b", "min_b", "max_b"
            )
        }
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            t = parse_mp4(payload) if payload is not None else None
            if t is None:
                continue
            for i in range(t.n_frames):
                if sync_only and not t.sync[i]:
                    continue  # decode keyframes only (stss table)
                fb = frame_bytes(payload, t, i)
                out["doc_id"].append(int(doc_id))
                out["frame_idx"].append(i)
                out["dur"].append(t.durations[i])
                out["n_bytes"].append(len(fb))
                out["sum_b"].append(sum(fb))
                out["min_b"].append(min(fb) if fb else None)
                out["max_b"].append(max(fb) if fb else None)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                "frame_idx": pd.Series(out["frame_idx"], dtype="Int32"),
                "dur": pd.Series(out["dur"], dtype="Int32"),
                "n_bytes": pd.Series(out["n_bytes"], dtype="Int32"),
                "sum_b": pd.Series(out["sum_b"], dtype="Int64"),
                "min_b": pd.Series(out["min_b"], dtype="Int32"),
                "max_b": pd.Series(out["max_b"], dtype="Int32"),
            }
        )


def mp4_frame_stats(binarized: DataFrame, sync_only: bool = False) -> DataFrame:
    """Per-frame exact byte statistics over parsed MP4 payloads; with
    ``sync_only``, keyframes only (see mp4_frame_stats_kernel)."""
    if sync_only:

        def kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            yield from mp4_frame_stats_kernel(batch_iter, sync_only=True)

        return binarized.select("doc_id", "payload").mapInPandas(
            kernel, MP4_FRAME_SCHEMA
        )
    return binarized.select("doc_id", "payload").mapInPandas(
        mp4_frame_stats_kernel, MP4_FRAME_SCHEMA
    )


def video_scene_cuts(frame_stats: DataFrame, threshold_milli: int = 40) -> DataFrame:
    """Shot-boundary detection over decoded frame statistics: a cut is a
    jump in mean frame brightness (|mean_i - mean_{i-1}| in 1/1000
    brightness units > threshold). The per-frame means come from the
    Arrow decode kernel; the detection itself is pure JVM column
    arithmetic over a per-video window — no payload bytes move through
    the shuffle, only (doc_id, frame_idx, mean) rows, which is the
    100 TB shape (stats are ~24 bytes/frame regardless of frame size)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    # integer div keeps both engines exact (no double-rounding at the cut)
    mean_milli = F.expr("sum_b * 1000 div n_bytes")
    scored = frame_stats.select(
        "doc_id", "frame_idx", mean_milli.alias("mean_milli")
    ).withColumn("prev_milli", F.lag("mean_milli").over(w))
    return (
        scored.where(
            F.col("prev_milli").isNotNull()
            & (F.abs(F.col("mean_milli") - F.col("prev_milli")) > threshold_milli)
        )
        .select(
            "doc_id",
            "frame_idx",
            (F.col("mean_milli") - F.col("prev_milli")).alias("delta_milli"),
        )
    )


# ---------------------------------------------------------------------------
# pHash — DCT-based perceptual hash, the frequency-domain step up from
# aHash (robust to brightness/contrast shifts because bits compare DCT
# coefficients to their own median, not raw blocks to the global mean).
# EXACT integer semantics end-to-end so the driver hash-gates it across
# engines: luminance = channel sum // 3; 8x8 average pooling with block
# assignment i = x*8 // w and value sum // count; unnormalized 2-D
# DCT-II with a FIXED-POINT cosine table (round(cos((2t+1)u*pi/16) *
# 2^14) — the 64 integers are generated once in Python and embedded
# verbatim in both the kernel and the SQL oracle, so no engine ever
# evaluates a transcendental); median = the 32nd-smallest of the 63 AC
# coefficients (lower median, an order statistic — integer); bit_k =
# coef_k > median, serialized as a 64-char '0'/'1' string (the aHash
# convention — no int64 sign games). int64 bounds: |coef| <= 765 * 2^28
# * 64 ≈ 1.3e13.
# ---------------------------------------------------------------------------

_DCT_SHIFT = 14


def dct_cos_table() -> list:
    """C[u][t] = round(cos((2t+1)·u·π/16) · 2^14) — 64 integers shared
    by the numpy kernel and the DuckDB oracle (generated here, embedded
    as literals there; Python's IEEE cos+round is the single source)."""
    import math

    return [
        [
            int(round(math.cos((2 * t + 1) * u * math.pi / 16) * (1 << _DCT_SHIFT)))
            for t in range(8)
        ]
        for u in range(8)
    ]


def phash_bits(arr) -> str | None:
    """64-bit pHash of a decoded raster (HxW or HxWx3 uint8) — see the
    section comment for the exact integer pipeline. < 8x8 → None."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    if h < 8 or w < 8:
        return None
    gray = (
        arr.astype(np.int64).sum(axis=2) // 3
        if arr.ndim == 3
        else arr.astype(np.int64)
    )
    bx = (np.arange(w) * 8) // w
    by = (np.arange(h) * 8) // h
    blk = (by[:, None] * 8 + bx[None, :]).ravel()
    sums = np.zeros(64, dtype=np.int64)
    np.add.at(sums, blk, gray.ravel())
    counts = np.bincount(blk, minlength=64)
    g = (sums // counts).reshape(8, 8)  # every block occupied when >=8x8
    c = np.array(dct_cos_table(), dtype=np.int64)
    d = c @ g @ c.T
    flat = d.ravel()
    med = int(np.sort(flat[1:])[31])  # lower median of the 63 AC coefs
    return "".join("1" if v > med else "0" for v in flat)


PHASH_SCHEMA = "doc_id long, width int, height int, phash string"


def phash_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: raster decode → 64-bit DCT perceptual hash."""
    from fluss_iceberg_spark.operators.rasters import decode_pixels

    for pdf in batch_iter:
        widths, heights, hashes = [], [], []
        for payload in pdf["payload"]:
            got = decode_pixels(payload) if payload is not None else None
            if got is None:
                widths.append(None)
                heights.append(None)
                hashes.append(None)
                continue
            arr, _mode = got
            widths.append(arr.shape[1])
            heights.append(arr.shape[0])
            hashes.append(phash_bits(arr))
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "width": pd.Series(widths, dtype="Int32"),
                "height": pd.Series(heights, dtype="Int32"),
                "phash": pd.Series(hashes, dtype="object"),
            }
        )


def dct_hashes(binarized: DataFrame) -> DataFrame:
    """Per-image 64-bit pHash over decoded rasters. Same 100 TB shape as
    perceptual_hashes: per-payload kernel work, only (doc_id, 8-byte
    fingerprint) ever leaves the scan."""
    return binarized.mapInPandas(phash_kernel, schema=PHASH_SCHEMA)


AUDIO_SPECTRUM_SCHEMA = (
    "doc_id long, p1 long, p2 long, p4 long, p8 long, dom_bin int"
)


def audio_spectrum_kernel(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: WAV decode → fixed-frame integer DFT powers
    at the probe bins (operators/audio.spectrum64) + dominant bin."""
    from fluss_iceberg_spark.operators.audio import decode_wav, spectrum64

    for pdf in batch_iter:
        cols: dict[str, list] = {k: [] for k in ("p1", "p2", "p4", "p8", "dom_bin")}
        for payload in pdf["payload"]:
            got = decode_wav(payload) if payload is not None else None
            if got is None:
                for k in cols:
                    cols[k].append(None)
                continue
            arr, _rate = got
            s = spectrum64(arr[:, 0])
            for k in ("p1", "p2", "p4", "p8", "dom_bin"):
                cols[k].append(s[k] if k != "dom_bin" else s["dom_bin"])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "p1": pd.Series(cols["p1"], dtype="Int64"),
                "p2": pd.Series(cols["p2"], dtype="Int64"),
                "p4": pd.Series(cols["p4"], dtype="Int64"),
                "p8": pd.Series(cols["p8"], dtype="Int64"),
                "dom_bin": pd.Series(cols["dom_bin"], dtype="Int32"),
            }
        )


def audio_spectrum(binarized: DataFrame) -> DataFrame:
    """Per-clip integer DFT spectrum over decoded channel-0 PCM."""
    return binarized.select("doc_id", "payload").mapInPandas(
        audio_spectrum_kernel, schema=AUDIO_SPECTRUM_SCHEMA
    )
