"""Multimodal column operators: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched Pandas UDF
pipelines (``mapInPandas``).

Greenfield relative to the reference (SURVEY.md §2 "does NOT have" note) —
this is the 100 TB training-data path where payloads dwarf text:

- **Schema**: one row per asset — ``(media_id, kind, content: binary,
  meta: struct)``. Metadata is a typed struct (not JSON) so Catalyst can
  prune/push down on it WITHOUT touching the binary payload; a scan that
  filters on ``meta.width`` must never deserialize ``content``.
- **Partitioning**: payload rows are large and skew-prone; callers bound
  Arrow batch size with ``spark.sql.execution.arrow.maxRecordsPerBatch``
  so one batch of big videos can't OOM an executor python worker.
- **Decode dispatch**: each payload is SNIFFED by magic bytes. PNG and
  WAV payloads take the REAL decode branch (:mod:`.media_codecs` —
  stdlib zlib/wave codecs, PIL preferred when importable), so pixel/
  sample-level stats, resampling and frame extraction actually run on
  real containers; anything else falls back to a DETERMINISTIC FAKE
  over the raw bytes (documented below) so the synthetic corpus stays
  oracle-checkable. ``strict=True`` raises ``NotImplementedError`` at
  execution for any payload that would hit the fake — i.e. strict mode
  guarantees every emitted row came from a real decode.

Synthetic payload format (deterministic, built from the driver's
``documents`` table): ``content = utf-8 bytes of the document text``;
``meta.width/height`` derived from ``n_chars``. A fake "pixel" is one
byte. This keeps every operator runnable and oracle-checkable (byte ==
character, so DuckDB can recompute histograms/samples from the text).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("codec", T.StringType()),
])

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])

FEATURE_BINS = 16


def _has_pil() -> bool:
    from .media_codecs import _has_pil as probe
    return probe()


def _strict_fake(kind_hint: str) -> None:
    raise NotImplementedError(
        f"strict real decode requested but the payload is not a "
        f"recognized real container (PNG/WAV){kind_hint}; install "
        f"PIL/cv2/soundfile on the executors for wider coverage, or "
        f"call with strict=False to accept the deterministic fake")


def media_table(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from ``documents``: payload =
    utf-8 text bytes, typed metadata from the text stats. Pure Column
    exprs — the binary column is born JVM-side, no Python in the loop."""
    n = F.length("text")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                     (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            (n % 64 + 16).cast("int").alias("width"),
            (n % 48 + 12).cast("int").alias("height"),
            (n * 10).cast("long").alias("duration_ms"),
            F.lit(16000).alias("sample_rate"),
            F.lit("synthetic/v1").alias("codec"),
        ).alias("meta"),
    )


def _map_in_pandas(media: DataFrame, fn: Callable, schema: T.StructType,
                   needs: list[str]) -> DataFrame:
    """Common harness: prune to the needed columns BEFORE the Python
    boundary (Arrow ships only ``needs``), then mapInPandas."""
    return media.select(*needs).mapInPandas(fn, schema=schema)


# ---------------------------------------------------------------------------
# Decode / feature extract
# ---------------------------------------------------------------------------

DECODE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("checksum", T.LongType()),
])


def decode_stats(media: DataFrame, strict: bool = False) -> DataFrame:
    """Decode each payload to (n_bytes, checksum) over its DECODED
    content: PNG → de-filtered pixel buffer, WAV → PCM sample buffer
    (real stdlib codecs, PIL preferred when importable — see
    :mod:`.media_codecs`); unrecognized payloads fall back to the raw
    bytes (the fake), or raise under ``strict=True``. The checksum
    (sum of buffer values mod 2^31) is cheap, deterministic, and — for
    both the synthetic corpus and the PNG/WAV round-trip corpora —
    DuckDB-recomputable."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .media_codecs import decode_payload
        for pdf in batches:
            n_bytes, checksum = [], []
            for buf in pdf["content"]:
                data = bytes(buf)
                decoded = decode_payload(data)
                if decoded is None:
                    if strict:
                        _strict_fake("")
                    decoded = data
                arr = np.frombuffer(decoded, dtype=np.uint8)
                n_bytes.append(arr.size)
                checksum.append(int(arr.sum(dtype=np.int64)) % (1 << 31))
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "n_bytes": pd.Series(n_bytes, dtype="int64"),
                "checksum": pd.Series(checksum, dtype="int64"),
            })

    return _map_in_pandas(media, fn, DECODE_SCHEMA, ["media_id", "content"])


FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def byte_histogram_features(media: DataFrame) -> DataFrame:
    """Feature extraction: normalized byte histogram (``FEATURE_BINS``
    buckets of ``byte // (256/FEATURE_BINS)``) as ``array<double>`` —
    the stand-in for an image-embedding model, with the exact
    mapInPandas shape a real model UDF would use (numpy over Arrow
    batches, vectorized per batch)."""
    import numpy as np
    width = 256 // FEATURE_BINS

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for buf in pdf["content"]:
                arr = np.frombuffer(bytes(buf), dtype=np.uint8)
                if arr.size == 0:
                    feats.append([0.0] * FEATURE_BINS)
                    continue
                hist = np.bincount(arr // width,
                                   minlength=FEATURE_BINS)[:FEATURE_BINS]
                feats.append((hist / arr.size).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "features": feats})

    # No rounding anywhere: numpy's hist/size is the same correctly-
    # rounded IEEE division of the same exact integers the oracle
    # computes, so the features are bit-identical raw — while a 6-dp
    # round() is the engine/version-sensitive step (the r10 driver-red
    # class; the old numpy-half-even-vs-SQL-half-up note described the
    # round we no longer perform).
    return _map_in_pandas(media, fn, FEATURES_SCHEMA,
                          ["media_id", "content"])


# ---------------------------------------------------------------------------
# Resize / frame sample
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("meta", MEDIA_META),
])


def resize(media: DataFrame, target_w: int = 32, target_h: int = 24,
           strict: bool = False) -> DataFrame:
    """Resize, binary-in/binary-out. PNG payloads take the REAL branch:
    decode (PIL or the pure zlib reader) → 2-D nearest-neighbor
    resample → re-encode PNG, with ``meta.codec='png'`` and the new
    dimensions. Unrecognized payloads keep the fake (1-D nearest-
    neighbor over the raw byte stream), or raise under ``strict=True``.
    Both branches share the UDF shape and metadata-rewrite contract."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .media_codecs import decode_image, png_encode, sniff
        size = target_w * target_h
        for pdf in batches:
            out_content, out_meta = [], []
            for buf, meta in zip(pdf["content"], pdf["meta"]):
                data = bytes(buf)
                m = dict(meta)
                if sniff(data) == "png":
                    img = decode_image(data)
                    src = np.frombuffer(img.pixels, dtype=np.uint8) \
                        .reshape(img.height, img.width, img.channels)
                    ys = np.arange(target_h) * img.height // target_h
                    xs = np.arange(target_w) * img.width // target_w
                    out = src[ys][:, xs]
                    out_content.append(png_encode(out.tobytes(), target_w,
                                                  target_h, img.channels))
                    m["codec"] = "png"
                else:
                    if strict:
                        _strict_fake(" for resize")
                    arr = np.frombuffer(data, dtype=np.uint8)
                    idx = (np.arange(size) * max(arr.size, 1) // size) \
                        % max(arr.size, 1)
                    out_content.append(arr[idx].tobytes() if arr.size else b"")
                m["width"], m["height"] = target_w, target_h
                out_meta.append(m)
            yield pd.DataFrame({"media_id": pdf["media_id"],
                                "content": out_content, "meta": out_meta})

    return _map_in_pandas(media, fn, RESIZE_SCHEMA,
                          ["media_id", "content", "meta"])


FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
])


def frame_sample(media: DataFrame, every_n: int = 4,
                 frame_bytes: int = 16, strict: bool = False) -> DataFrame:
    """Frame sampling (1 row in → N frame rows out, the fan-out UDF
    shape): split the payload into ``frame_bytes``-sized frames, keep
    every ``every_n``-th. WAV payloads take the REAL branch — frames
    are windows of the DECODED PCM sample buffer (header stripped by
    the ``wave`` codec), i.e. real audio chunking. Video keyframe
    seeking needs cv2/ffmpeg and stays faked (frames over raw bytes);
    ``strict=True`` raises for any non-WAV payload."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media_codecs import sniff, wav_decode
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, buf in zip(pdf["media_id"], pdf["content"]):
                data = bytes(buf)
                if sniff(data) == "wav":
                    data = wav_decode(data).samples
                elif strict:
                    _strict_fake(" for frame sampling")
                n_frames = len(data) // frame_bytes
                for i in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(data[i * frame_bytes:(i + 1) * frame_bytes])
            yield pd.DataFrame({"media_id": pd.Series(ids, dtype="int64"),
                                "frame_idx": pd.Series(idxs, dtype="int32"),
                                "frame": pd.Series(frames, dtype=object)})

    return _map_in_pandas(media, fn, FRAME_SCHEMA, ["media_id", "content"])


# ---------------------------------------------------------------------------
# Real-container corpora (PNG / WAV round-trip)
# ---------------------------------------------------------------------------

PNG_WIDTH = 16


def png_media_table(docs: DataFrame,
                    meta_cols: tuple[str, ...] = ()) -> DataFrame:
    """Real-container corpus: each document's utf-8 bytes become the
    pixel buffer of an 8-bit grayscale PNG — width :data:`PNG_WIDTH`,
    height ``ceil(n/16)`` (min 1), zero-padded tail. The REAL encoder
    runs in Arrow batches; :func:`decode_stats` over the result drives
    the real decode branch end-to-end (signature sniff → IHDR parse →
    inflate → de-filter), and because the round-trip is lossless the
    DuckDB oracle recomputes every stat from the text
    (``mm_png_roundtrip_stats``).

    ``meta_cols`` (e.g. ``("lang", "source")``) ride the container as
    tEXt sidecar chunks for :func:`png_metadata` to extract without
    decode. Opt-in: the default encode reads ONLY (doc_id, text), so
    pipelines that never extract metadata keep the 2-column pruned scan
    (plan-pinned by test_png_roundtrip_single_scan_single_python_stage)
    instead of dragging every sidecar column through the encoder."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media_codecs import png_encode
        for pdf in batches:
            content, meta = [], []
            sidecars = [pdf[c] for c in meta_cols]
            for txt, *extras in zip(pdf["text"], *sidecars):
                data = (txt or "").encode("utf-8")
                h = max(1, -(-len(data) // PNG_WIDTH))
                tm = {c: str(v) for c, v in zip(meta_cols, extras)} or None
                content.append(png_encode(
                    data.ljust(PNG_WIDTH * h, b"\x00"), PNG_WIDTH, h, 1,
                    text_meta=tm))
                meta.append({"width": PNG_WIDTH, "height": h,
                             "duration_ms": 0, "sample_rate": 0,
                             "codec": "png"})
            yield pd.DataFrame({"media_id": pdf["doc_id"],
                                "kind": "image",
                                "content": content, "meta": meta})

    return (docs.select("doc_id", "text", *meta_cols)
            .mapInPandas(fn, schema=MEDIA_SCHEMA))


PNG_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("key", T.StringType()),
    T.StructField("value", T.StringType()),
])


def png_metadata(media: DataFrame) -> DataFrame:
    """In-container metadata extraction WITHOUT decode: walk each PNG's
    chunk list and emit its tEXt key/value rows (1 asset → N rows, the
    fan-out UDF shape) — the IDAT stream is never inflated, so this
    costs O(header bytes) per asset regardless of pixel count. The
    oracle-checked query (``mm_png_metadata``) pins that the embedded
    sidecar survives the container round trip exactly."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media_codecs import png_text_chunks, sniff
        for pdf in batches:
            ids, keys, vals = [], [], []
            for mid, buf in zip(pdf["media_id"], pdf["content"]):
                data = bytes(buf)
                if sniff(data) != "png":
                    continue
                for k, v in png_text_chunks(data).items():
                    ids.append(mid)
                    keys.append(k)
                    vals.append(v)
            yield pd.DataFrame({"media_id": pd.Series(ids, dtype="int64"),
                                "key": pd.Series(keys, dtype=object),
                                "value": pd.Series(vals, dtype=object)})

    return _map_in_pandas(media, fn, PNG_META_SCHEMA,
                          ["media_id", "content"])


def wav_media_table(docs: DataFrame) -> DataFrame:
    """Real-container corpus: document bytes as 8-bit mono PCM WAV.
    :func:`decode_stats` strips the 44-byte RIFF header through the
    real ``wave`` codec — the oracle twin pins ``n_bytes ==
    length(text)`` EXACTLY, which the raw-bytes fake cannot produce."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .media_codecs import wav_encode
        for pdf in batches:
            content, meta = [], []
            for txt in pdf["text"]:
                data = (txt or "").encode("utf-8")
                content.append(wav_encode(data))
                meta.append({"width": 0, "height": 0,
                             "duration_ms": len(data) * 1000 // 16000,
                             "sample_rate": 16000, "codec": "wav"})
            yield pd.DataFrame({"media_id": pdf["doc_id"],
                                "kind": "audio",
                                "content": content, "meta": meta})

    return (docs.select("doc_id", "text")
            .mapInPandas(fn, schema=MEDIA_SCHEMA))


def media_meta_summary(media: DataFrame) -> DataFrame:
    """Metadata-only rollup per kind — MUST run without touching
    ``content`` (struct-field pruning keeps the scan payload-free; the
    test pins that with .explain)."""
    return (media
            .groupBy("kind")
            .agg(F.count("*").alias("n_assets"),
                 F.max(F.col("meta.width")).alias("max_width"),
                 F.round(F.avg(F.col("meta.duration_ms")), 6)
                  .alias("avg_duration_ms")))


PHASH_CELLS = 57          # 56-bit difference hash (8 bands x 7 bits)
PHASH_BITS = PHASH_CELLS - 1


def _phash_arrow_udf():
    """Arrow-batched dHash: per payload one numpy cumsum + fancy-index
    (exact integer cell sums), float64 means, adjacent compare — the
    SAME arithmetic as the JVM expression, so the two engines are
    bit-identical (test-pinned). ~2× the JVM interpreted-HOF throughput
    at kilobyte payloads and widening with payload size (the HOF cost
    is per-BYTE interpreted; numpy's is vectorized)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    c = PHASH_CELLS

    @pandas_udf("long")
    def phash(content: pd.Series) -> pd.Series:
        out = np.empty(len(content), np.int64)
        weights = np.left_shift(np.int64(1),
                                np.arange(PHASH_BITS, dtype=np.int64))
        bounds = np.arange(c + 1, dtype=np.int64)
        for i, payload in enumerate(content):
            if payload is None:
                # Match the JVM expression, whose bit-fold yields 0 for
                # a NULL payload — the engines must stay bit-identical
                # even on content-less rows (test-pinned).
                out[i] = 0
                continue
            arr = np.frombuffer(payload, np.uint8)
            n = len(arr)
            csum = np.concatenate((np.zeros(1, np.int64),
                                   np.cumsum(arr, dtype=np.int64)))
            idx = (bounds * n) // c
            sums = csum[idx[1:]] - csum[idx[:-1]]
            lens = np.maximum(idx[1:] - idx[:-1], 1)
            means = sums.astype(np.float64) / lens
            bits = means[:-1] > means[1:]
            out[i] = int((bits.astype(np.int64) * weights).sum())
        return pd.Series(out)

    return phash


def perceptual_hash(media: DataFrame, engine: str = "auto") -> DataFrame:
    """Difference-hash ("dHash") perceptual fingerprint of each binary
    payload: the bytes are averaged into ``PHASH_CELLS`` equal slices
    (the 1-D stand-in for a resampled pixel grid — with a real codec
    the slices would be grayscale cells) and bit i is set when cell i's
    mean exceeds cell i+1's. Near-identical payloads (re-encodes,
    small edits) land within a few bits of each other. Returns
    (media_id, phash).

    Entirely JVM-side where the payload lives (same ISO-8859-1
    byte↔char trick as the quantized coarse scan); the whole
    per-payload computation is ONE pass — the byte array is let-bound
    through a one-element ``transform`` so the decode runs once, not
    once per cell (the HOF-CSE trap, see dedup.shingle_hashes). 56
    bits, not 64, so the hash stays a positive BIGINT that both engines
    band and XOR identically.

    ``engine``: ``"jvm"`` evaluates the whole hash as one Column
    expression (no Python in the path — the right default when the
    caller must stay UDF-free); ``"arrow"`` runs the numerically
    IDENTICAL computation as an Arrow-batched numpy kernel, ~2× faster
    because the per-byte fold is vectorized instead of an interpreted
    HOF; ``"auto"`` picks arrow when pandas/pyarrow import (they ship
    with the engine), falling back to jvm. Either way the payload
    never shuffles — the hash is a narrow map where the bytes live —
    and the outputs are bit-identical (pinned by
    tests/test_multimodal.py)."""
    if engine == "auto":
        try:
            import numpy  # noqa: F401
            import pandas  # noqa: F401
            engine = "arrow"
        except ImportError:
            engine = "jvm"
    if engine == "arrow":
        from .dedup import ensure_min_parallelism
        return ensure_min_parallelism(media).select(
            F.col("media_id"), _phash_arrow_udf()("content").alias("phash"))
    c = PHASH_CELLS
    # The CELL MEANS array is computed ONCE and let-bound (each cell's
    # slice is disjoint, so the whole array is one O(n) pass), then the
    # 56 bits compare ADJACENT elements of that bound array. Inlining a
    # per-cell expression into every bit term instead would evaluate
    # each interior cell twice (left and right neighbor) and blow the
    # expression tree up ~100× (measured 10.8 s → sub-second at sf0.1,
    # and a 3 MB task binary shrinks to normal).
    cell = (f"CAST(aggregate(slice(bs, (j * n) div {c} + 1, "
            f"((j + 1) * n) div {c} - (j * n) div {c}), "
            f"cast(0 as bigint), (a, x) -> a + x) AS DOUBLE) "
            f"/ greatest(((j + 1) * n) div {c} - (j * n) div {c}, 1)")
    cells = f"transform(sequence(0, {c - 1}), j -> {cell})"
    bits = (f"aggregate(sequence(1, {PHASH_BITS}), cast(0 as bigint), "
            f"(acc, i) -> acc + IF(element_at(cs, i) > "
            f"element_at(cs, i + 1), "
            f"shiftleft(cast(1 as bigint), i - 1), cast(0 as bigint)))")
    expr = (f"element_at(transform(array("
            "transform(split(decode(content, 'ISO-8859-1'), ''), "
            f"ch -> ascii(ch))), bs -> "
            f"element_at(transform(array(size(bs)), n -> "
            f"element_at(transform(array({cells}), cs -> {bits}), 1)), "
            f"1)), 1)")
    # The slice folds are interpreted HOFs (no codegen) and dominate —
    # spread small single/two-split inputs across cores first, as every
    # CPU-heavy narrow stage here does (dedup.ensure_min_parallelism).
    from .dedup import ensure_min_parallelism
    return ensure_min_parallelism(media).select(
        F.col("media_id"), F.expr(expr).alias("phash"))


def phash_near_pairs(sigs: DataFrame) -> DataFrame:
    """Near-duplicate payload pairs by perceptual-hash hamming distance
    — pigeonhole-exact via the SAME byte-banding machinery as text
    SimHash (8 bands of 7 bits over the 56-bit hash: hamming ≤ 7 forces
    ≥ 1 identical band). Returns (id_a, id_b, hamming). This is the
    multimodal NEAR-dup pass that complements
    :func:`payload_exact_dedup`'s byte-exact one."""
    from .dedup import simhash_near_pairs
    return simhash_near_pairs(sigs, id_col="media_id", sig_col="phash",
                              max_hamming=7, num_bands=8,
                              bits=PHASH_BITS)


def phash_recall_report(sigs: DataFrame) -> DataFrame:
    """Pair-recall certification of the banded phash candidate stage
    against the brute-force hamming truth — the multimodal twin of
    ``dedup_lsh_recall``. One row: (n_true_pairs, n_candidate_pairs,
    n_found_pairs, n_missed_pairs, recall, candidate_precision).

    The banding is pigeonhole-EXACT for hamming ≤ 7 (8 bands
    of 7 bits over the 56-bit dHash: ≤ 7 differing bits leave ≥ 1 band
    identical), so recall here must be exactly 1.0 — but a deployment
    reads the MEASURED number (a banding-width bug, a signature wider
    than bits, or a hamming bound raised past 7 all break the
    pigeonhole silently, and this query is what catches them).
    candidate_precision prices the verify work the band join wastes.

    Plan: candidates are the serving path's own band-join stream
    (:func:`simhash_band_candidates` — each colliding pair once via
    first-matching-band emission, no dedup exchange); the truth side is
    the deliberate brute force over SIGNATURES (8 bytes/row, ids ×
    phash broadcast against the stream — never payloads), quadratic by
    design because the banding itself is the only sub-quadratic exact
    path and a certification must be independent of what it certifies.
    At 100 TB the truth runs on a bounded certification sample, the
    same regime as ``exact_quantiles``; candidates and verify stay
    corpus-scale.

    The signature frame is MATERIALIZED up front (localCheckpoint):
    ``sigs`` is typically the live ``perceptual_hash`` pipeline — an
    ArrowEvalPython map with no exchange beneath it — and this report
    references it three ways (band candidates, truth-left streamed,
    truth-right broadcast), so without a pin the Python hashing pass
    runs three times (AQE's runtime reuse dedupes identical SHUFFLE
    subtrees, not map-side Python stages; contrast the
    dedup_lsh_recall pin lesson, where the references WERE behind
    identical exchanges and pinning lost). Measured at sf0.1:
    3.21 s → 2.16 s best-of-5 interleaved. The pinned frame is
    (id, 8-byte hash) — O(corpus) ids, never payloads."""
    from .dedup import simhash_band_candidates

    sigs = sigs.select(F.col("media_id"), F.col("phash")) \
               .localCheckpoint(eager=True)
    cand = simhash_band_candidates(sigs, id_col="media_id", sig_col="phash",
                                   num_bands=8, bits=PHASH_BITS)
    left = sigs.select(F.col("media_id").alias("id_a"),
                       F.col("phash").alias("_sa"))
    right = sigs.select(F.col("media_id").alias("id_b"),
                        F.col("phash").alias("_sb"))
    truth = (left.join(F.broadcast(right), F.col("id_a") < F.col("id_b"))
             .filter(F.bit_count(F.expr("_sa ^ _sb")) <= 7)
             .select("id_a", "id_b"))
    found = truth.join(cand.select("id_a", "id_b"),
                       ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count("*").cast("long").alias("n_true_pairs"))
    c = cand.agg(F.count("*").cast("long").alias("n_candidate_pairs"))
    f = found.agg(F.count("*").cast("long").alias("n_found_pairs"))
    nt, nc, nf = (F.col("n_true_pairs"), F.col("n_candidate_pairs"),
                  F.col("n_found_pairs"))
    return (t.crossJoin(F.broadcast(c)).crossJoin(F.broadcast(f))
            .select(
        "n_true_pairs", "n_candidate_pairs", "n_found_pairs",
        (nt - nf).alias("n_missed_pairs"),
        F.when(nt > 0, nf.cast("double") / nt.cast("double"))
         .otherwise(F.lit(1.0)).alias("recall"),
        F.when(nc > 0, nf.cast("double") / nc.cast("double"))
         .otherwise(F.lit(1.0)).alias("candidate_precision")))


def payload_exact_dedup(media: DataFrame) -> DataFrame:
    """Content-addressed exact dedup over the BINARY payload — the
    first pass every multimodal ingest runs (re-crawled and re-encoded
    assets are byte-identical far more often than text is). Returns
    (content_hash, keep_id, n_copies, bytes_saved).

    The digest is computed JVM-side where the payload already lives;
    only (digest, id, n_bytes) enters the shuffle — at 100 TB the
    payload bytes never move, which is the entire point. md5 keys are
    uniform so the digest groupBy cannot inherit source skew.

    NULL payloads are excluded up front: md5(NULL) is NULL, so without
    the filter every content-less row would collapse into one bogus
    "duplicate" group with a NULL bytes_saved. Missing content is an
    ingest-quality question (count it upstream), not a dedup one."""
    return (media.filter(F.col("content").isNotNull())
            .select(F.md5(F.col("content")).alias("content_hash"),
                         F.col("media_id"),
                         F.length(F.col("content")).alias("_n"))
            .groupBy("content_hash")
            .agg(F.min("media_id").alias("keep_id"),
                 F.count("*").alias("n_copies"),
                 ((F.count("*") - 1) * F.max("_n")).cast("bigint")
                 .alias("bytes_saved")))


SEGMENT_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("seg_idx", T.IntegerType()),
    T.StructField("start_pos", T.LongType()),
    T.StructField("end_pos", T.LongType()),
    T.StructField("n_samples", T.LongType()),
])


def wav_silence_segments(media: DataFrame, threshold: int = 32,
                         min_len: int = 8,
                         strict: bool = False) -> DataFrame:
    """Silence/low-energy segmentation over REAL-decoded 8-bit PCM: a
    segment is a maximal run of ≥ ``min_len`` consecutive samples whose
    amplitude ``|s - 128|`` stays below ``threshold`` (128 = unsigned
    8-bit midpoint). Emits (media_id, seg_idx, start_pos, end_pos,
    n_samples) per segment, seg_idx in time order — the
    voice-activity / silence-trim primitive of an audio curation
    pipeline (cut corpora at silences, drop dead air before training).

    The decode is the real ``wave`` parse (:mod:`.media_codecs` —
    header stripped, raw PCM out); run detection is numpy over the
    decoded buffer INSIDE the same Arrow batch — per-asset-local work
    with zero additional distribution cost, the 1-asset→N-segments
    fan-out shape of frame_sample. The DuckDB oracle recomputes
    segments from the source text by window-function island detection,
    so the query certifies decode + segmentation end-to-end."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .media_codecs import decode_payload, sniff
        for pdf in batches:
            ids, seg, st, en, ns = [], [], [], [], []
            for mid, buf in zip(pdf["media_id"], pdf["content"]):
                data = bytes(buf)
                if sniff(data) != "wav":
                    if strict:
                        _strict_fake("wav_silence_segments")
                    continue
                samples = np.frombuffer(decode_payload(data),
                                        dtype=np.uint8)
                quiet = np.abs(samples.astype(np.int16) - 128) < threshold
                # run boundaries: diff of the padded flag vector
                edges = np.flatnonzero(np.diff(
                    np.concatenate(([0], quiet.view(np.int8), [0]))))
                starts, ends = edges[::2], edges[1::2]
                idx = 0
                for s, e in zip(starts, ends):
                    if e - s >= min_len:
                        ids.append(mid)
                        seg.append(idx)
                        st.append(int(s))
                        en.append(int(e - 1))
                        ns.append(int(e - s))
                        idx += 1
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "seg_idx": pd.Series(seg, dtype="int32"),
                "start_pos": pd.Series(st, dtype="int64"),
                "end_pos": pd.Series(en, dtype="int64"),
                "n_samples": pd.Series(ns, dtype="int64"),
            })

    return _map_in_pandas(media, fn, SEGMENT_SCHEMA,
                          ["media_id", "content"])


NORMALIZE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("rms_before", T.DoubleType()),
    T.StructField("rms_after", T.DoubleType()),
    T.StructField("checksum", T.LongType()),
])


def wav_normalize_gain(media: DataFrame, target_rms: float = 40.0,
                       strict: bool = False) -> DataFrame:
    """Loudness (RMS gain) normalization over real 8-bit PCM — the
    audio-curation step before training on speech: decode, scale every
    sample's midpoint offset by ``target_rms / rms``, clip to the 8-bit
    range, RE-ENCODE through the real ``wave`` writer, and decode the
    re-encoded container again for the after-stats — so the emitted
    (rms_before, rms_after, checksum) certify the full
    decode→DSP→encode→decode loop, not just the arithmetic. Silent
    payloads (rms 0) pass through at unit gain rather than dividing by
    zero.

    Quantization is EXPLICIT floor(x + 0.5) (not numpy's banker's
    rint), so the DuckDB twin replays sample-exact integers; rms enters
    as an exact integer square sum before the one double sqrt."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .media_codecs import decode_payload, sniff, wav_encode
        for pdf in batches:
            ids, rb, ra, ck = [], [], [], []
            for mid, buf in zip(pdf["media_id"], pdf["content"]):
                data = bytes(buf)
                if sniff(data) != "wav":
                    if strict:
                        _strict_fake("wav_normalize_gain")
                    continue
                s = np.frombuffer(decode_payload(data), dtype=np.uint8)
                if s.size == 0:
                    continue
                off = s.astype(np.int64) - 128
                rms = float(np.sqrt(int((off * off).sum()) / s.size))
                gain = (target_rms / rms) if rms > 0 else 1.0
                sp = np.clip(np.floor(128.0 + off * gain + 0.5),
                             0.0, 255.0).astype(np.uint8)
                # re-encode + re-decode: the after-stats come from the
                # round-tripped container, certifying the writer too
                s2 = np.frombuffer(decode_payload(wav_encode(
                    sp.tobytes())), dtype=np.uint8)
                off2 = s2.astype(np.int64) - 128
                ids.append(mid)
                rb.append(rms)
                ra.append(float(np.sqrt(int((off2 * off2).sum())
                                        / s2.size)))
                ck.append(int(s2.sum(dtype=np.int64)) % (1 << 31))
            yield pd.DataFrame({
                "media_id": pd.Series(ids, dtype="int64"),
                "rms_before": pd.Series(rb, dtype="float64"),
                "rms_after": pd.Series(ra, dtype="float64"),
                "checksum": pd.Series(ck, dtype="int64"),
            })

    out = _map_in_pandas(media, fn, NORMALIZE_SCHEMA,
                         ["media_id", "content"])
    return out.select("media_id", F.round("rms_before", 6).alias("rms_before"),
                      F.round("rms_after", 6).alias("rms_after"),
                      "checksum")
