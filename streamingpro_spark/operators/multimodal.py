"""Multimodal column operators (north-star).

Images/audio/video are opaque `binary` columns with typed metadata
(Spark's own `binaryFile` source yields path/modificationTime/length/
content — the reference's equivalents are MLSQLBinaryFile.scala and
MLSQLImage.scala).  Decode/resize/frame-sample run as Arrow-batched
Pandas UDFs over mapInPandas.

Image, audio, and video metadata decode is REAL: pure-stdlib container
parsing (PNG IHDR / JPEG SOF / GIF / BMP / WAV fmt+data / AVI avih —
functions/codecs.py), matching MLSQLImage.scala's width/height/nChannels
surface without JVM codec deps.  PIXEL work is real where the codec
permits: ImageResize fully decodes 8-bit RGB PNG (zlib + scanline
unfilter), 24-bit BMP, GIF (variable-width LZW + palette, interlace
de-scramble) and JPEG (baseline + full progressive), resamples, and
re-encodes PNG; FrameSample demuxes real AVI movi-list frame chunks
AND real MP4 samples (stsz/stsc/stco → mdat slices), so
PNG/BMP/GIF/JPEG-payload frames decode end-to-end (FrameSample →
ImageResize).  Spectrograms and inter-coded video codecs stay out of
scope — those genuinely need PIL/ffmpeg-class libs absent from this
container (MIGRATION.md).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F, types as T

from streamingpro_spark.operators.base import ETAlgorithm, get_int
from streamingpro_spark.operators.registry import register_et

IMAGE_META_SCHEMA = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("format", T.StringType()),
])


@register_et("ImageMetadata")
class ImageMetadata(ETAlgorithm):
    """Attach decoded image metadata to a binary column.

    `run files as ImageMetadata.`` where contentCol="content"`.
    mapInPandas → Arrow batches; per-batch decode keeps Python overhead
    amortized.  On 100 TB: pure map stage, no shuffle; partition count
    follows the file scan (`maxPartitionBytes`).
    """

    def train(self, df, path, params, context=None):
        from streamingpro_spark.functions.codecs import make_image_meta_parser
        col = params.get("contentCol", "content")
        out_schema = T.StructType(df.schema.fields + [T.StructField("image_meta", IMAGE_META_SCHEMA)])
        parse = make_image_meta_parser()     # nested fn → by-value pickling

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                metas = [parse(c) for c in pdf[col]]
                pdf["image_meta"] = [
                    {"width": w, "height": h, "channels": ch, "format": fmt}
                    for (w, h, ch, fmt) in metas]
                yield pdf

        from streamingpro_spark.operators.base import ensure_parallelism
        return ensure_parallelism(df).mapInPandas(decode, out_schema)

    def explain_params(self):
        return [("contentCol", "binary column with encoded image bytes", "content")]


VIDEO_META_SCHEMA = T.StructType([
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("fps", T.DoubleType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("format", T.StringType()),
])


@register_et("VideoMetadata")
class VideoMetadata(ETAlgorithm):
    """Attach decoded video metadata to a binary column.

    Decode is REAL for both container families: RIFF/AVI ('avih' main
    header — the WAV chunk walk's sibling) and ISO-BMFF/MP4 (box-tree
    walk: moov→mvhd duration, trak→tkhd 16.16 fixed-point dimensions,
    mdia→mdhd + stbl→stsz timescale/sample-count → fps), all stdlib
    (functions/codecs.py make_video_meta_parser).

    Scale: map-only mapInPandas stage, no shuffle; partitioning follows
    the binary file scan."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.functions.codecs import make_video_meta_parser
        col = params.get("contentCol", "content")
        out_schema = T.StructType(
            df.schema.fields + [T.StructField("video_meta", VIDEO_META_SCHEMA)])
        parse = make_video_meta_parser()     # nested fn → by-value pickling

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                metas = [parse(c) for c in pdf[col]]
                pdf["video_meta"] = [
                    {"width": w, "height": h, "fps": fps, "n_frames": n,
                     "duration_ms": dur, "format": fmt}
                    for (w, h, fps, n, dur, fmt) in metas]
                yield pdf

        from streamingpro_spark.operators.base import ensure_parallelism
        return ensure_parallelism(df).mapInPandas(decode, out_schema)

    def explain_params(self):
        return [("contentCol", "binary column with encoded video bytes",
                 "content")]


@register_et("FrameSample")
class FrameSample(ETAlgorithm):
    """Sample N frames from a binary video column — one output row per
    sampled frame.  The demux is REAL for both container families: the
    RIFF/AVI movi list is walked chunk-by-chunk
    (make_avi_frame_extractor) and ISO-BMFF/MP4 samples are sliced out
    of mdat via the stsz/stsc/stco tables (make_mp4_sample_extractor) —
    `frame_bytes` carries the actual stored payloads at indices spread
    uniformly over the stream, with timestamps from the container frame
    rate.  Frame payloads stored as PNG/BMP/GIF/JPEG then decode
    end-to-end with ImageResize.  For a container with no stored
    samples (empty movi list / header-only moov), positions stay real
    (header-derived) and frame_bytes is null; unrecognized bytes fall
    back to uniform byte slices.  Inter-coded video codecs (H.264-class)
    stay out of scope — those need ffmpeg-class libs absent here
    (MIGRATION.md).  Scale: output rows = input × numFrames; map-only."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.functions.codecs import (
            make_avi_frame_extractor, make_mp4_sample_extractor,
            make_video_meta_parser)
        col = params.get("contentCol", "content")
        n = get_int(params, "numFrames", 4)
        base_fields = [f for f in df.schema.fields if f.name != col]
        out_schema = T.StructType(base_fields + [
            T.StructField("frame_index", T.IntegerType()),
            T.StructField("source_frame", T.LongType()),
            T.StructField("frame_time_ms", T.LongType()),
            T.StructField("frame_bytes", T.BinaryType()),
        ])
        parse = make_video_meta_parser()
        extract_avi = make_avi_frame_extractor()
        extract_mp4 = make_mp4_sample_extractor()

        def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for _, row in pdf.iterrows():
                    content = row[col] or b""
                    _, _, fps, total, _, fmt = parse(content)
                    if fmt == "avi":
                        frames = extract_avi(content)
                    elif fmt == "mp4":
                        frames = extract_mp4(content)
                    else:
                        frames = None
                    # demuxed stream length wins over the header count
                    # (real files can disagree; the stream is the truth)
                    eff_total = len(frames) if frames else total
                    chunk = max(len(content) // max(n, 1), 1)
                    for i in range(n):
                        out = {k: row[k] for k in pdf.columns if k != col}
                        out["frame_index"] = i
                        if fmt in ("avi", "mp4") and eff_total and fps:
                            src = round(i * (eff_total - 1) / max(n - 1, 1))
                            out["source_frame"] = src
                            out["frame_time_ms"] = int(src * 1000 / fps)
                            out["frame_bytes"] = (bytes(frames[src])
                                                  if frames else None)
                        elif fmt in ("avi", "mp4"):
                            out["source_frame"] = None
                            out["frame_time_ms"] = None
                            out["frame_bytes"] = None
                        else:
                            out["source_frame"] = None
                            out["frame_time_ms"] = None
                            out["frame_bytes"] = bytes(
                                content[i * chunk:(i + 1) * chunk])
                        rows.append(out)
                yield pd.DataFrame(rows,
                                   columns=[f.name for f in out_schema.fields])

        from streamingpro_spark.operators.base import ensure_parallelism
        return ensure_parallelism(df).mapInPandas(sample, out_schema)

    def explain_params(self):
        return [("contentCol", "binary column", "content"),
                ("numFrames", "frames per input row", "4")]


@register_et("ImageResize")
class ImageResize(ETAlgorithm):
    """Resize images in a binary column — REAL pixel path for the
    formats whose codecs ship here: 8-bit RGB PNG (zlib IDAT decode +
    scanline unfilter), 24-bit BMP, GIF (variable-width LZW
    decompression + palette lookup, interlace de-scramble), and JPEG
    (huffman + dequant + inverse DCT; baseline 4:4:4/4:2:0/grayscale
    with restart markers AND full progressive — spectral selection
    with EOBRUN plus successive-approximation refinement scans —
    functions/codecs.py make_jpeg_decoder), nearest-neighbor resampled
    with numpy index math and re-encoded as PNG.  Arithmetic-coded and
    lossless JPEG yield null (MIGRATION.md).
    Output column `resized` (PNG bytes).

    Scale: map-only mapInPandas, no shuffle; CPU-bound per row, so
    partitioning follows the binary scan and parallelism is free."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.functions.codecs import (make_bmp_decoder,
                                                         make_gif_decoder,
                                                         make_jpeg_decoder,
                                                         make_png_decoder,
                                                         make_rgb_png_encoder)
        col = params.get("contentCol", "content")
        tw = get_int(params, "width", 64)
        th = get_int(params, "height", 64)
        out_schema = T.StructType(df.schema.fields + [
            T.StructField("resized", T.BinaryType()),
            T.StructField("resized_format", T.StringType()),
        ])
        dec_png, dec_bmp = make_png_decoder(), make_bmp_decoder()
        dec_gif, dec_jpeg = make_gif_decoder(), make_jpeg_decoder()
        enc = make_rgb_png_encoder()

        def resize_one(content):
            import numpy as _np
            px = dec_png(content)
            if px is None:
                px = dec_bmp(content)
            if px is None:
                px = dec_gif(content)
            if px is None:
                px = dec_jpeg(content, raw=True)   # ndarray fast path
            if px is None:
                return None
            arr = _np.asarray(px, dtype=_np.uint8)      # (h, w, 3)
            h, w = arr.shape[:2]
            ys = _np.minimum((_np.arange(th) * h) // th, h - 1)
            xs = _np.minimum((_np.arange(tw) * w) // tw, w - 1)
            return enc(arr[ys][:, xs].tolist())

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                out = [resize_one(c) for c in pdf[col]]
                pdf["resized"] = out
                pdf["resized_format"] = ["png" if o is not None else None
                                         for o in out]
                yield pdf

        from streamingpro_spark.operators.base import ensure_parallelism
        return ensure_parallelism(df).mapInPandas(run, out_schema)

    def explain_params(self):
        return [("contentCol", "binary column with encoded image bytes",
                 "content"),
                ("width", "target width", "64"),
                ("height", "target height", "64")]


@register_et("AudioFeatures")
class AudioFeatures(ETAlgorithm):
    """Attach decoded audio features to a binary column.

    `run files as AudioFeatures.`` where contentCol="content"`.
    Decode is REAL for RIFF/WAVE: fmt chunk (sample rate / channels /
    bit depth) + data chunk size → sample count and duration, parsed
    with the stdlib (functions/codecs.py).  `computeStats="true"` also
    PCM-decodes the data chunk (16-bit signed / 8-bit unsigned) and
    computes real signal statistics over channel 0 with numpy: RMS
    level, absolute peak, and zero-crossing count.  Non-WAV bytes yield
    nulls — compressed formats (mp3/flac/ogg) need codec libs absent
    here.

    Scale: map-only mapInPandas stage, no shuffle; partitioning follows
    the binary file scan.
    """

    AUDIO_SCHEMA = T.StructType([
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("format", T.StringType()),
    ])

    STATS_SCHEMA = T.StructType([
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.LongType()),
        T.StructField("zero_crossings", T.LongType()),
    ])

    def train(self, df, path, params, context=None):
        from streamingpro_spark.functions.codecs import (
            make_audio_meta_parser, make_wav_pcm_decoder)
        col = params.get("contentCol", "content")
        stats = str(params.get("computeStats", "false")).lower() == "true"
        fields = df.schema.fields + [T.StructField("audio_meta",
                                                   self.AUDIO_SCHEMA)]
        if stats:
            fields = fields + [T.StructField("audio_stats",
                                             self.STATS_SCHEMA)]
        out_schema = T.StructType(fields)
        parse = make_audio_meta_parser()     # nested fn → by-value pickling
        pcm = make_wav_pcm_decoder()

        def one_stats(content):
            import numpy as _np
            dec = pcm(content)
            if dec is None:
                return {"rms": None, "peak": None, "zero_crossings": None}
            _, _, arr = dec
            c0 = arr[:, 0]
            if not len(c0):
                return {"rms": 0.0, "peak": 0, "zero_crossings": 0}
            rms = float(_np.sqrt(_np.mean(c0.astype(float) ** 2)))
            peak = int(_np.abs(c0).max())
            zc = int(_np.count_nonzero(_np.diff(_np.signbit(
                _np.where(c0 == 0, 1, c0)))))
            return {"rms": rms, "peak": peak, "zero_crossings": zc}

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                metas = [parse(c) for c in pdf[col]]
                pdf["audio_meta"] = [
                    {"sample_rate": sr, "channels": ch, "bits_per_sample": bits,
                     "n_samples": n, "duration_ms": dur, "format": fmt}
                    for (sr, ch, bits, n, dur, fmt) in metas]
                if stats:
                    pdf["audio_stats"] = [one_stats(c) for c in pdf[col]]
                yield pdf

        from streamingpro_spark.operators.base import ensure_parallelism
        return ensure_parallelism(df).mapInPandas(decode, out_schema)

    def explain_params(self):
        return [("contentCol", "binary column with encoded audio bytes",
                 "content"),
                ("computeStats", "PCM-decode and add rms/peak/"
                 "zero_crossings signal stats", "false")]


def _phash_transform(df, col, htype):
    """Shared ImagePHash/ImageDedup decode→hash pass: adds a `phash`
    long column (null when the bytes decode with none of the codecs)."""
    from streamingpro_spark.functions.codecs import (make_bmp_decoder,
                                                     make_gif_decoder,
                                                     make_jpeg_decoder,
                                                     make_png_decoder)
    if htype not in ("ahash", "dhash"):
        raise ValueError("hashType must be ahash or dhash")
    out_schema = T.StructType(df.schema.fields
                              + [T.StructField("phash", T.LongType())])
    dec_png, dec_bmp = make_png_decoder(), make_bmp_decoder()
    dec_gif, dec_jpeg = make_gif_decoder(), make_jpeg_decoder()
    dhash = htype == "dhash"

    def hash_one(content):
        import numpy as _np
        px = dec_png(content)
        if px is None:
            px = dec_bmp(content)
        if px is None:
            px = dec_gif(content)
        if px is None:
            px = dec_jpeg(content, raw=True)       # ndarray fast path
        if px is None:
            return None
        arr = _np.asarray(px, dtype=_np.float64)        # (h, w, 3)
        gray = (0.299 * arr[..., 0] + 0.587 * arr[..., 1]
                + 0.114 * arr[..., 2])
        gh, gw = (8, 9) if dhash else (8, 8)
        h, w = gray.shape
        # block-mean pool via a 4x-oversampled nearest grid: exact for
        # any input size (including h < gh), and a uniform brightness
        # shift moves every cell equally — the invariance the
        # thresholds below rely on
        ys = (_np.arange(gh * 4) * h) // (gh * 4)
        xs = (_np.arange(gw * 4) * w) // (gw * 4)
        cells = gray[ys][:, xs].reshape(gh, 4, gw, 4).mean(axis=(1, 3))
        if dhash:
            bits = (cells[:, 1:] > cells[:, :-1]).ravel()
        else:
            bits = (cells > cells.mean()).ravel()
        val = 0
        for i, b in enumerate(bits):
            if b:
                val |= 1 << i
        if val >= 1 << 63:                 # two's-complement signed long
            val -= 1 << 64
        return val

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["phash"] = pd.array([hash_one(c) for c in pdf[col]],
                                    dtype="Int64")
            yield pdf

    return df.mapInPandas(run, out_schema)


@register_et("ImagePHash")
class ImagePHash(ETAlgorithm):
    """Perceptual hash for a binary image column — output column
    `phash` (64 bits as a signed long).

    Decode runs the same real pure-Python codecs as ImageResize
    (PNG/BMP/GIF/JPEG); decoded pixels are luma-converted (ITU-R 601
    weights), block-mean pooled to the hash grid and thresholded:
    `hashType="ahash"` (default) bit i = cell i > mean(cells) on an
    8x8 grid; `hashType="dhash"` bit = horizontal gradient sign on a
    9x8 grid.  Both are invariant to uniform brightness shifts (a
    constant moves every cell and the mean equally), which is what
    makes perceptual dedup stronger than byte-level ExactDedup —
    re-encoded or brightness-adjusted copies of an image still
    collide.  Undecodable bytes yield a null phash.

    Scale: map-only mapInPandas, no shuffle; CPU-bound per row, so
    parallelism follows the binary scan (spread via
    ensure_parallelism for small inputs)."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.operators.base import ensure_parallelism
        col = params.get("contentCol", "content")
        htype = params.get("hashType", "ahash")
        return _phash_transform(ensure_parallelism(df), col, htype)

    def explain_params(self):
        return [("contentCol", "binary column with encoded image bytes",
                 "content"),
                ("hashType", "ahash (8x8 mean) | dhash (9x8 gradient)",
                 "ahash")]


@register_et("ImageDedup")
class ImageDedup(ETAlgorithm):
    """Near-duplicate image detection on perceptual hashes — the dedup
    family's multimodal member.

    `maxHamming="0"` (default): exact-phash survivors — one uniform
    shuffle keyed by the 64-bit hash, min-id row kept per hash
    (ExactDedup's shape); rows with a null phash (undecodable bytes)
    pass through untouched rather than collapsing together.

    `maxHamming="k"` (k>0): banded Hamming LSH candidate pairs — the
    64-bit hash splits into k+1 bands (pigeonhole: two hashes within
    Hamming distance k agree exactly on at least one band), candidate
    pairs from the (band, bits) buckets via the near-dup family's
    skew-guarded `lsh_candidate_pairs`, each pair carrying both hashes,
    then exact verify bit_count(xor) <= k.  Output
    (id_a, id_b, hamming), like MinHashDedup's pair contract.  No
    cross join at any point.

    `hashCol` reuses a precomputed hash column (skips decode) — e.g.
    ImagePHash output persisted once and re-deduped at several
    thresholds without re-decoding the corpus."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.operators.base import (eager_materialize,
                                                       ensure_parallelism,
                                                       script_cache)
        from streamingpro_spark.operators.dedup import lsh_candidate_pairs
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "content")
        htype = params.get("hashType", "ahash")
        hash_col = params.get("hashCol")
        k = get_int(params, "maxHamming", 0)
        if not 0 <= k <= 63:
            # negative would silently fall into exact-survivor mode (a
            # different output contract); >63 would make zero-width
            # bands whose lone bucket the skew guard silently drops
            raise ValueError(
                "ImageDedup: maxHamming must be in [0, 63] for a "
                "64-bit hash (got %d)" % k)
        max_bucket = get_int(params, "maxBucketSize", 10000)
        if hash_col:
            hashed = df.withColumn("__ph", F.col(hash_col).cast("long"))
        else:
            hashed = _phash_transform(ensure_parallelism(df), col, htype) \
                .withColumnRenamed("phash", "__ph")

        if k <= 0:
            # exact mode fans `hashed` out to three consumers (survivor
            # groupBy, semi-join probe, null filter) — cache it even in
            # the hashCol case: the hash column usually sits on a LAZY
            # view whose upstream (e.g. the ImagePHash decode) would
            # otherwise re-execute three times.  (The banded path reads
            # it once: the hashes ride along with the candidates.)
            hashed = script_cache(hashed, context, "imagededup_hash")
            survivors = (hashed.filter(F.col("__ph").isNotNull())
                         .groupBy("__ph").agg(F.min(id_col).alias(id_col)))
            kept = hashed.join(survivors.select(id_col), [id_col],
                               "left_semi")
            undecodable = hashed.filter(F.col("__ph").isNull())
            out = kept.unionByName(undecodable)
            if hash_col:
                # the caller already has the hash column — don't emit a
                # duplicate `phash` (ambiguous-reference downstream)
                return out.drop("__ph")
            return out.withColumnRenamed("__ph", "phash")

        bands = k + 1
        width = 64 // bands
        band_struct = F.array(*[
            F.struct(
                F.lit(j).alias("__band"),
                # last band takes the 64 - width*(bands-1) remainder
                (F.shiftright(F.col("__ph"), j * width).bitwiseAND(F.lit(
                    -1 if j == bands - 1
                    else (1 << width) - 1))).alias("__bh"))
            for j in range(bands)])
        # the hash rides along with each candidate, so the verify filter
        # runs before the pair distinct — candidates that share a band
        # but not the hash can far outnumber the verified pairs
        pairs = (lsh_candidate_pairs(
                     hashed.filter(F.col("__ph").isNotNull())
                     .select(F.col(id_col).alias("__id"), "__ph",
                             F.inline(band_struct)),
                     max_bucket, payload="__ph")
                 .select(F.col("doc_a").alias("id_a"),
                         F.col("doc_b").alias("id_b"),
                         F.bit_count(F.col("__pa").bitwiseXOR(
                             F.col("__pb"))).alias("hamming"))
                 .filter(F.col("hamming") <= k)
                 .distinct())
        return eager_materialize(pairs, params, context)

    def explain_params(self):
        return [("idCol", "image id column", "doc_id"),
                ("contentCol", "binary column with encoded image bytes",
                 "content"),
                ("hashCol", "precomputed 64-bit hash column (skips "
                 "decode)", ""),
                ("hashType", "ahash | dhash", "ahash"),
                ("maxHamming", "0 = exact-hash survivors; >0 = banded "
                 "LSH pairs within this Hamming distance", "0"),
                ("maxBucketSize", "skew guard: drop larger LSH buckets",
                 "10000"),
                ("eagerCache", "materialize the pair output", "true")]


@register_et("AudioFingerprint")
class AudioFingerprint(ETAlgorithm):
    """Spectral-peak audio fingerprint over the REAL WAV PCM decode —
    the peak-landmark idea of Shazam's matcher (Wang 2003, ISMIR) in
    its simplest robust form, on numpy's rfft.

    Channel 0 splits into `numSegments` contiguous segments; each
    segment's magnitude spectrum folds into `numBands` log-spaced
    bands between `minFreq` and Nyquist, and the PEAK band index is
    one-hot packed into the 64-bit `afp` column.  Gain-invariant by
    construction — scaling the signal scales every band equally, so
    re-levelled copies of a recording collide while different content
    does not.  numSegments x numBands must fit in 64 bits.  Non-WAV
    bytes (or empty audio) yield a null afp.  Dedup: chain with
    `HashDedup` (hashCol="afp") for exact survivors or banded-Hamming
    pair matching.

    Scale: map-only mapInPandas, no shuffle; CPU-bound per row."""

    def train(self, df, path, params, context=None):
        from streamingpro_spark.functions.codecs import make_wav_pcm_decoder
        from streamingpro_spark.operators.base import (ensure_parallelism,
                                                       get_float)
        col = params.get("contentCol", "content")
        n_seg = get_int(params, "numSegments", 8)
        n_bands = get_int(params, "numBands", 8)
        min_freq = get_float(params, "minFreq", 100.0)
        if n_seg < 1 or n_bands < 1 or n_seg * n_bands > 64:
            raise ValueError("numSegments and numBands must be >= 1 "
                             "and numSegments * numBands must be <= 64")
        if min_freq <= 0:
            raise ValueError("minFreq must be > 0")
        out_schema = T.StructType(df.schema.fields
                                  + [T.StructField("afp", T.LongType())])
        pcm = make_wav_pcm_decoder()

        def fp_one(content):
            import numpy as _np
            dec = pcm(content)
            if dec is None:
                return None
            sr, _, arr = dec
            c0 = arr[:, 0].astype(_np.float64)
            if len(c0) < n_seg or sr <= 2 * min_freq:
                return None
            edges = _np.geomspace(min_freq, sr / 2.0, n_bands + 1)
            seg_len = len(c0) // n_seg
            # bin→band bookkeeping is loop-invariant per row: index
            # each rfft bin into its band once (edges[b] <= f <
            # edges[b+1]), then each segment is one rfft + one bincount
            freqs = _np.fft.rfftfreq(seg_len, d=1.0 / sr)
            band_idx = _np.searchsorted(edges, freqs, side="right") - 1
            valid = (band_idx >= 0) & (band_idx < n_bands) \
                & (freqs < edges[-1])
            val = 0
            for s in range(n_seg):
                seg = c0[s * seg_len:(s + 1) * seg_len]
                mag = _np.abs(_np.fft.rfft(seg))
                energies = _np.bincount(band_idx[valid],
                                        weights=mag[valid],
                                        minlength=n_bands)
                val |= 1 << (s * n_bands + int(energies.argmax()))
            if val >= 1 << 63:             # two's-complement signed long
                val -= 1 << 64
            return val

        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                pdf = pdf.copy()
                pdf["afp"] = pd.array([fp_one(c) for c in pdf[col]],
                                      dtype="Int64")
                yield pdf

        return ensure_parallelism(df).mapInPandas(run, out_schema)

    def explain_params(self):
        return [("contentCol", "binary column with encoded audio bytes",
                 "content"),
                ("numSegments", "time segments", "8"),
                ("numBands", "log-spaced frequency bands", "8"),
                ("minFreq", "lowest band edge in Hz", "100.0")]


# The reference registers OpenCVImage / JavaImage
# (TrainAdaptor.scala:154-155) for in-table image resizing; their
# implementation modules (streaming.dsl.mmlib.algs.processing.*) depend
# on OpenCV/AWT.  ImageResize covers the same capability — real pixel
# decode + resample + re-encode — on pure-stdlib codecs, so both names
# resolve to it (param surface: contentCol/width/height).
from streamingpro_spark.operators.registry import alias_et  # noqa: E402

alias_et("JavaImage", "ImageResize")
alias_et("OpenCVImage", "ImageResize")
# generic 64-bit-hash dedup: ImageDedup's hashCol path never touches
# image bytes, so the same operator dedups ANY precomputed hash column
# (ImagePHash's phash, AudioFingerprint's afp, ...) — alias the
# modality-neutral name for that flow
alias_et("HashDedup", "ImageDedup")
