"""Multimodal (binary media) queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame;
its DuckDB oracle SQL lives in ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import _docs, query


@query
def _mm_decode_meta(spark, sf_dir):
    from task_on_dataframes_spark.operators.multimodal import (
        decode_media_meta,
        make_media_table,
    )

    docs = _docs(spark, sf_dir)
    return decode_media_meta(make_media_table(docs))

@query
def _mm_frame_sample(spark, sf_dir):
    from task_on_dataframes_spark.operators.multimodal import (
        decode_media_meta,
        make_media_table,
        sample_frames,
    )

    docs = _docs(spark, sf_dir)
    return sample_frames(decode_media_meta(make_media_table(docs)))

@query
def _mm_raw_decode(spark, sf_dir):
    """REAL pixel decode: synthesize deterministic ``image/raw`` solid-
    color images from doc_id, then extract (width, height, n_frames)
    from the actual pixel-array header via the codec-free numpy kernel.
    Every value is analytic in doc_id, so the oracle is exact."""
    from task_on_dataframes_spark.operators.multimodal import (
        decode_media_meta,
        make_raw_media_table,
    )

    docs = _docs(spark, sf_dir)
    return decode_media_meta(make_raw_media_table(docs))

@query
def _mm_png_decode(spark, sf_dir):
    """REAL compressed-codec decode in any container: synthesize RGB
    gradient PNGs from doc_id (pure-stdlib encoder, scanline filter
    cycling 0..4 per row), then inflate + unfilter them back and
    aggregate the ACTUAL decoded pixels. pixel(y,x,c) = (doc_id + 3x +
    5y + 7c) % 256 makes every output analytic, so the DuckDB oracle
    replays px_sum/px_mean exactly — one wrong byte in the codec flips
    the hash. Map-only plan; pixels never leave the executors."""
    from task_on_dataframes_spark.operators.multimodal import (
        make_png_media_table,
        png_pixel_stats,
    )

    docs = _docs(spark, sf_dir)
    return png_pixel_stats(make_png_media_table(docs))

@query
def _mm_wav_decode(spark, sf_dir):
    """REAL audio-container decode in any container: synthesize 16-bit
    PCM WAV clips from doc_id (pure-stdlib RIFF writer), then re-parse
    the chunk list and aggregate the ACTUAL decoded amplitudes.
    sample(i, c) = ((doc_id + 7i + 997c) % 4096) - 2048 makes every
    output analytic, so the DuckDB oracle replays amp_sum / amp_max /
    amp_mean exactly. Map-only plan; samples never leave executors."""
    from task_on_dataframes_spark.operators.multimodal import (
        make_wav_media_table,
        wav_amplitude_stats,
    )

    docs = _docs(spark, sf_dir)
    return wav_amplitude_stats(make_wav_media_table(docs))

@query
def _mm_audio_features(spark, sf_dir):
    """Frame-level audio featurization (16-sample frames, channel 0):
    integer frame energy + strict zero-crossing counts over REALLY
    decoded PCM — the explode-in-batch shape a speech/audio curation
    pipeline uses before quality filtering. Integer-exact oracle."""
    from task_on_dataframes_spark.operators.multimodal import (
        make_wav_media_table,
        wav_frame_features,
    )

    docs = _docs(spark, sf_dir)
    return wav_frame_features(make_wav_media_table(docs), frame_len=16)

@query
def _mm_audio_resample(spark, sf_dir):
    """Integer-exact 16 kHz resample of really-decoded channel-0 PCM
    (linear interpolation on the 2048-offset unsigned signal with
    floor division — bit-exact on every engine), aggregated with a
    positional checksum so a one-sample shift flips the hash. The
    "normalize clip rates before featurization" pipeline step."""
    from task_on_dataframes_spark.operators.multimodal import (
        make_wav_media_table,
        wav_resample,
    )

    docs = _docs(spark, sf_dir)
    return wav_resample(make_wav_media_table(docs), dst_rate=16000)

@query
def _mm_raw_pipeline(spark, sf_dir):
    """Full real-kernel media pipeline: raw images -> REAL bilinear
    resize (16x12) -> REAL pixel-histogram features (8 luminance
    buckets) -> argmax bucket + its mass. Solid-color inputs make the
    result analytic (bilinear of a constant is the constant; each RGB
    channel carries 1/3 of the histogram mass), so the DuckDB oracle
    replays the arithmetic exactly while the kernels do real pixel
    work. Map-only until the final argmax projection — no shuffle."""
    from task_on_dataframes_spark.operators.multimodal import (
        extract_features,
        make_raw_media_table,
        resize_media,
    )

    docs = _docs(spark, sf_dir)
    feats = extract_features(
        resize_media(make_raw_media_table(docs), width=16, height=12),
        dims=8,
    )
    top_val = F.array_max("features")
    return feats.select(
        "media_id",
        (F.array_position("features", top_val) - 1).alias("top_bucket"),
        F.round(top_val.cast("double"), 6).alias("top_val"),
    )
