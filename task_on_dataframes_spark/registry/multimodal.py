"""Multimodal (binary media) queries.

Each ``@query`` function maps ``(spark, sf_dir)`` to a lazy DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .common import _docs, query


@query(oracle=(
    "SELECT doc_id AS media_id, 'text/plain' AS media_type, "
    "octet_length(encode(text)) AS n_bytes, "
    "CAST(octet_length(encode(text)) % 64 + 1 AS INTEGER) AS width, "
    "CAST(octet_length(encode(text)) % 48 + 1 AS INTEGER) AS height, "
    "CAST(octet_length(encode(text)) % 10 + 1 AS INTEGER) AS n_frames "
    "FROM documents"
))
def _mm_decode_meta(spark, sf_dir):
    from task_on_dataframes_spark.operators.multimodal import (
        decode_media_meta,
        make_media_table,
    )

    docs = _docs(spark, sf_dir)
    return decode_media_meta(make_media_table(docs))

@query(oracle=(
    "WITH m AS (SELECT doc_id AS media_id, "
    "octet_length(encode(text)) % 10 + 1 AS n_frames FROM documents) "
    "SELECT media_id, CAST(f.f AS INTEGER) AS frame_idx FROM m, "
    "LATERAL unnest(generate_series(0, n_frames - 1)) AS f(f)"
))
def _mm_frame_sample(spark, sf_dir):
    from task_on_dataframes_spark.operators.multimodal import (
        decode_media_meta,
        make_media_table,
        sample_frames,
    )

    docs = _docs(spark, sf_dir)
    return sample_frames(decode_media_meta(make_media_table(docs)))

# raw-image synthesis is analytic in doc_id (solid color, header
# dims) — the oracle replays the formulas the pixel kernels
# actually computed over real arrays
@query(oracle=(
    "SELECT doc_id AS media_id, 'image/raw' AS media_type, "
    "CAST(10 + (8 + doc_id % 9) * (6 + doc_id % 7) * 3 AS BIGINT) "
    "AS n_bytes, "
    "CAST(8 + doc_id % 9 AS INTEGER) AS width, "
    "CAST(6 + doc_id % 7 AS INTEGER) AS height, "
    "CAST(1 AS INTEGER) AS n_frames FROM documents"
))
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

# PNG synthesis is an analytic RGB gradient: pixel(y, x, c) =
# (doc_id + 3x + 5y + 7c) % 256 with w = 8 + doc_id % 9 and
# h = 6 + doc_id % 7; the Spark side sums pixels it ACTUALLY
# inflated + unfiltered through the pure-stdlib codec, while the
# oracle re-derives the same sum from the synthesis rule — any
# codec byte error flips the hash
@query(oracle=(
    "WITH d AS (SELECT doc_id AS media_id, "
    "8 + doc_id % 9 AS w, 6 + doc_id % 7 AS h FROM documents), "
    "px AS (SELECT media_id, w, h, "
    "sum((media_id + 3 * gx.x + 5 * gy.y + 7 * gc.c) % 256) AS s "
    "FROM d, "
    "LATERAL unnest(generate_series(0, w - 1)) AS gx(x), "
    "LATERAL unnest(generate_series(0, h - 1)) AS gy(y), "
    "LATERAL unnest(generate_series(0, 2)) AS gc(c) "
    "GROUP BY 1, 2, 3) "
    "SELECT media_id, CAST(w AS INTEGER) AS width, "
    "CAST(h AS INTEGER) AS height, CAST(3 AS INTEGER) AS channels, "
    "CAST(s AS BIGINT) AS px_sum, "
    "round(s / (w * h * 3.0), 5) AS px_mean FROM px"
))
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

# WAV synthesis is an analytic interleaved PCM signal:
# sample(i, c) = ((doc_id + 7i + 997c) % 4096) - 2048 with
# n = 64 + doc_id % 65 frames and ch = 1 + doc_id % 2 channels;
# the Spark side aggregates amplitudes it ACTUALLY parsed out of
# the RIFF container, while the oracle re-derives the same sums
# from the synthesis rule — any chunk-walker byte error flips
# the hash
@query(oracle=(
    "WITH d AS (SELECT doc_id AS media_id, "
    "64 + doc_id % 65 AS n, 1 + doc_id % 2 AS ch, "
    "8000 + 1000 * (doc_id % 5) AS rate FROM documents), "
    "amp AS (SELECT media_id, n, ch, rate, "
    "sum(abs((media_id + 7 * gi.i + 997 * gc.c) % 4096 - 2048)) "
    "AS s, "
    "max(abs((media_id + 7 * gi.i + 997 * gc.c) % 4096 - 2048)) "
    "AS m "
    "FROM d, "
    "LATERAL unnest(generate_series(0, n - 1)) AS gi(i), "
    "LATERAL unnest(generate_series(0, ch - 1)) AS gc(c) "
    "GROUP BY 1, 2, 3, 4) "
    "SELECT media_id, CAST(rate AS INTEGER) AS sample_rate, "
    "CAST(ch AS INTEGER) AS channels, "
    "CAST(n AS INTEGER) AS n_samples, "
    "CAST(s AS BIGINT) AS amp_sum, CAST(m AS INTEGER) AS amp_max, "
    "round(s / (n * ch * 1.0), 5) AS amp_mean FROM amp"
))
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

# channel-0 frame features are integer-exact: v(k) at sample
# index i = frame*16 + k is ((media_id + 7i) % 4096) - 2048 and
# the in-frame predecessor is the same formula at i-1 (the k=0
# row is excluded from the crossing count, matching the
# within-frame strict sign-change definition on the Spark side)
@query(oracle=(
    "WITH d AS (SELECT doc_id AS media_id, "
    "(64 + doc_id % 65) // 16 AS nf FROM documents), "
    "fr AS (SELECT media_id, gf.f AS frame_idx FROM d, "
    "LATERAL unnest(generate_series(0, nf - 1)) AS gf(f) "
    "WHERE nf > 0), "
    "s AS (SELECT media_id, frame_idx, gk.k AS k, "
    "(media_id + 7 * (frame_idx * 16 + gk.k)) % 4096 - 2048 AS v, "
    "(media_id + 7 * (frame_idx * 16 + gk.k) - 7) % 4096 - 2048 "
    "AS vp "
    "FROM fr, LATERAL unnest(generate_series(0, 15)) AS gk(k)) "
    "SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx, "
    "CAST(sum(v * v) AS BIGINT) AS energy, "
    "CAST(count(*) FILTER (WHERE k > 0 AND v * vp < 0) "
    "AS INTEGER) AS zero_crossings "
    "FROM s GROUP BY media_id, frame_idx"
))
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

# channel-0 resample to 16 kHz replays analytically: the
# offset signal u(i) = (media_id + 7i) % 4096 interpolates with
# pure integer floor division, so every resampled sample (and
# the positional checksum) is exact on both engines
@query(oracle=(
    "WITH d AS (SELECT doc_id AS media_id, 64 + doc_id % 65 AS n, "
    "8000 + 1000 * (doc_id % 5) AS rate FROM documents), "
    "o AS (SELECT media_id, n, rate, "
    "(n - 1) * 16000 // rate + 1 AS n_out FROM d), "
    "s AS (SELECT media_id, n, rate, n_out, gj.j AS j, "
    "gj.j * rate // 16000 AS idx, (gj.j * rate) % 16000 AS rem "
    "FROM o, LATERAL unnest(generate_series(0, n_out - 1)) gj(j)), "
    "w AS (SELECT media_id, rate, n, n_out, j, "
    "(((media_id + 7 * idx) % 4096) * (16000 - rem) + "
    "((media_id + 7 * least(idx + 1, n - 1)) % 4096) * rem) "
    "// 16000 - 2048 AS v FROM s) "
    "SELECT media_id, CAST(rate AS INT) AS src_rate, "
    "CAST(n AS INT) AS n_in, CAST(n_out AS INT) AS n_out, "
    "CAST(sum(abs(v)) AS BIGINT) AS amp_sum, "
    "CAST(max(abs(v)) AS INT) AS amp_max, "
    "CAST(sum(v * (j % 7 + 1)) AS BIGINT) AS pos_check "
    "FROM w GROUP BY 1, 2, 3, 4"
))
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

# solid color -> bilinear resize preserves the color exactly ->
# each RGB channel holds 1/3 of the 8-bucket histogram mass;
# argmax = smallest bucket among colliding channel buckets
@query(oracle=(
    "WITH c AS (SELECT doc_id, "
    "(doc_id % 256) // 32 AS br, "
    "((7 * doc_id) % 256) // 32 AS bg, "
    "((13 * doc_id) % 256) // 32 AS bb FROM documents), "
    "k AS (SELECT doc_id, br, bg, bb, "
    "1 + CAST(bg = br AS INT) + CAST(bb = br AS INT) AS cr, "
    "CAST(br = bg AS INT) + 1 + CAST(bb = bg AS INT) AS cg, "
    "CAST(br = bb AS INT) + CAST(bg = bb AS INT) + 1 AS cb FROM c) "
    "SELECT doc_id AS media_id, "
    "CAST(least("
    "CASE WHEN cr = greatest(cr, cg, cb) THEN br ELSE 999 END, "
    "CASE WHEN cg = greatest(cr, cg, cb) THEN bg ELSE 999 END, "
    "CASE WHEN cb = greatest(cr, cg, cb) THEN bb ELSE 999 END) "
    "AS BIGINT) AS top_bucket, "
    "round(greatest(cr, cg, cb) / 3.0, 6) AS top_val FROM k"
))
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
