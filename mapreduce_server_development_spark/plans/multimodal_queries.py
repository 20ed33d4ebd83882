"""Multimodal queries: binary metadata, decode/frame-sample stubs,
tensor stats — registered with exact DuckDB oracles.

The binary payload is synthesized deterministically from the documents
fixture (see functions/multimodal.py docstring) so both engines build
identical bytes; the decode and frame-sample queries execute REAL
Arrow-batched ``mapInPandas`` plumbing on the Spark side while the
oracle reproduces the deterministic parse arithmetic in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.multimodal import (
    binary_metadata,
    decode_media_stub,
    sample_frames_stub,
    synth_media_col,
    tensor_stats,
    tile_patches_stub,
)
from ..session import materialize
from ..sources.tables import load_table
from .registry import query

#: DuckDB expression for the synthetic media payload (mirrors
#: synth_media_col byte-for-byte).
_MEDIA_SQL = """
    encode(
        CASE doc_id % 3 WHEN 0 THEN 'IMG1' WHEN 1 THEN 'AUD1' ELSE 'VID1' END
        || ':' || CAST(16 + doc_id % 48 AS VARCHAR)
        || 'x' || CAST(16 + (doc_id * 7) % 48 AS VARCHAR)
        || ':' || text
    )
"""


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", synth_media_col(F.col("doc_id"), F.col("text")).alias("media")
    )


@query(
    "q_multimodal_metadata",
    oracle=f"""
    WITH m AS (SELECT doc_id, {_MEDIA_SQL} AS media FROM documents)
    SELECT doc_id,
           CAST(octet_length(media) AS BIGINT) AS n_bytes,
           md5(hex(media)) AS content_hash,
           substring(decode(media), 1, 4) AS magic,
           CASE substring(decode(media), 1, 4)
                WHEN 'IMG1' THEN 'image' WHEN 'AUD1' THEN 'audio'
                WHEN 'VID1' THEN 'video' ELSE 'unknown' END AS modality
    FROM m
    ORDER BY doc_id
    """,
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata: size, content hash, format sniffing —
    pure JVM expressions over the binary column (no Python, no shuffle,
    no trailing sort: document-linear output)."""
    return binary_metadata(_media_df(spark, sf_dir))


@query(
    "q_media_decode",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'IMG1' WHEN 1 THEN 'AUD1' ELSE 'VID1' END
               AS modality,
           CAST(16 + doc_id % 48 AS INTEGER) AS width,
           CAST(16 + (doc_id * 7) % 48 AS INTEGER) AS height,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_payload_bytes
    FROM documents
    ORDER BY doc_id
    """,
)
def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header decode through Arrow-batched ``mapInPandas`` (the real
    production plumbing; codec stubbed deterministically). No trailing
    sort — document-linear output."""
    return decode_media_stub(_media_df(spark, sf_dir))


@query(
    "q_frame_sample",
    oracle="""
    SELECT doc_id, CAST(unnest(range(0, 8 + doc_id % 16, 4)) AS INTEGER) AS frame_idx
    FROM documents
    WHERE doc_id % 3 = 2
    ORDER BY doc_id, frame_idx
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N frame sampling over video payloads via ``mapInPandas``.
    No trailing sort — frame-linear output."""
    return sample_frames_stub(_media_df(spark, sf_dir))


@query(
    "q_image_patches",
    oracle="""
    WITH img AS (
        SELECT doc_id,
               16 + doc_id % 48 AS w,
               16 + (doc_id * 7) % 48 AS h
        FROM documents WHERE doc_id % 3 = 0
    ),
    grid AS (
        SELECT doc_id,
               CAST(ceil(h / 16.0) AS BIGINT) AS nr,
               CAST(ceil(w / 16.0) AS BIGINT) AS nc
        FROM img
    )
    SELECT doc_id,
           CAST(p // nc AS INTEGER) AS patch_row,
           CAST(p % nc AS INTEGER) AS patch_col,
           CAST((p % nc) * 16 AS INTEGER) AS x0,
           CAST((p // nc) * 16 AS INTEGER) AS y0
    FROM (SELECT doc_id, nr, nc, unnest(range(0, nr * nc)) AS p FROM grid)
    ORDER BY doc_id, patch_row, patch_col
    """,
)
def q_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style 16x16 patch grid per image via ``mapInPandas`` —
    the 1→N tiling batch shape a patch-embed preprocessor uses.
    No trailing sort — patch-linear output."""
    return tile_patches_stub(_media_df(spark, sf_dir))


@query(
    "q_media_decode_real",
    oracle="""
    WITH dims AS (
        SELECT doc_id,
               4 + doc_id % 9 AS w,
               4 + (doc_id * 3) % 7 AS h,
               CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
                    ELSE 'ppm' END AS fmt,
               CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 3 END AS channels
        FROM documents
    ),
    gx AS (SELECT doc_id, h, unnest(range(0, w)) AS x FROM dims),
    gxy AS (SELECT doc_id, x, unnest(range(0, h)) AS y FROM gx),
    sums AS (
        SELECT doc_id, SUM((doc_id + 3 * x + 7 * y) % 256) AS gsum
        FROM gxy GROUP BY doc_id
    )
    SELECT d.doc_id, d.fmt,
           CAST(d.w AS INTEGER) AS width,
           CAST(d.h AS INTEGER) AS height,
           CAST(d.channels AS INTEGER) AS channels,
           CAST(d.channels * s.gsum AS BIGINT) AS pixel_sum
    FROM dims d JOIN sums s USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_media_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode in pure stdlib — no Pillow, no stubs.

    Each document becomes a genuine PNG / BMP / PPM file (format
    cycling by doc_id, pixels from a deterministic function), then a
    second ``mapInPandas`` stage decodes the actual bytes: PNG via
    chunk-walk + CRC check + zlib inflate + scanline unfiltering, BMP
    via header parse + bottom-up un-padding, PPM via header tokenize.
    ``pixel_sum`` sums every decoded channel byte, so the result is
    wrong unless the full bytes→pixels path reconstructs exactly; the
    oracle recomputes the pixel arithmetic analytically in SQL.
    Encode and decode are independent code paths over a public format
    spec — this is the honest no-dependency counterpart of the
    Pillow-gated ``decode_real_image``. No shuffle, document-linear.
    """
    from ..functions.stdlib_codec import decode_images_stdlib, encode_images_stdlib

    docs = load_table(spark, sf_dir, "documents")
    return decode_images_stdlib(encode_images_stdlib(docs))


@query(
    "q_audio_decode_real",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    ELSE 44100 END AS rate,
               1 + doc_id % 2 AS channels,
               64 + doc_id % 64 AS n_frames
        FROM documents
    ),
    gc AS (SELECT doc_id, n_frames, unnest(range(0, channels)) AS ch FROM p),
    gci AS (SELECT doc_id, ch, unnest(range(0, n_frames)) AS i FROM gc),
    s AS (
        SELECT doc_id,
               SUM(abs(((doc_id * 13 + ch * 5 + i * 11) % 4096) - 2048)) AS amp_sum,
               MAX(abs(((doc_id * 13 + ch * 5 + i * 11) % 4096) - 2048)) AS amp_max
        FROM gci GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(channels AS INTEGER) AS channels,
           CAST(n_frames AS INTEGER) AS n_frames,
           CAST(n_frames * 1000 // rate AS BIGINT) AS duration_ms,
           CAST(amp_sum AS BIGINT) AS amp_sum,
           CAST(amp_max AS INTEGER) AS amp_max
    FROM p JOIN s USING (doc_id)
    ORDER BY doc_id
    """,
)
def q_audio_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV audio decode in pure stdlib — the audio counterpart of
    ``q_media_decode_real``.

    Each document becomes a genuine RIFF/WAVE file (PCM 16-bit,
    mono/stereo cycling, a junk LIST chunk forcing an honest chunk
    walk), then a second ``mapInPandas`` stage decodes the actual
    bytes: chunk walk with 2-byte alignment, ``fmt `` parse, int16
    frame de-interleave. ``amp_sum``/``amp_max`` are exact integer
    sample statistics — wrong unless bytes→samples reconstructs
    bit-for-bit; the oracle recomputes the sample arithmetic
    analytically in SQL. Unit tests additionally cross-validate both
    codec halves against Python's own ``wave`` module (a third,
    independent implementation of the spec). No shuffle,
    document-linear.
    """
    from ..functions.audio_codec import decode_audio_stdlib, encode_audio_stdlib

    docs = load_table(spark, sf_dir, "documents")
    return decode_audio_stdlib(encode_audio_stdlib(docs))


@query(
    "q_tensor_stats",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    )
    SELECT vec_id,
           CAST(len(vv) AS BIGINT) AS n_dims,
           round(sqrt(list_sum(list_transform(vv, x -> x * x))), 4) AS l2_norm,
           round(list_sum(vv) / len(vv), 4) + 0.0 AS mean,
           round(list_min(vv), 4) + 0.0 AS vmin,
           round(list_max(vv), 4) + 0.0 AS vmax
    FROM v
    ORDER BY vec_id
    """,
)
def q_tensor_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row tensor stats over array<float> — JVM higher-order
    functions only (the non-stub half of the multimodal plane).
    No trailing sort — vector-linear output, zero shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    return tensor_stats(emb)


def _ahash_oracle() -> str:
    """aHash pair oracle: recompute the 4x16-bit perceptual hash from
    the text bytes (the synthetic payload IS the utf8 text, and the
    fixture is pure ASCII so ascii(substr(..)) equals the payload
    byte), then mirror the band-equi-join candidate generation and
    hamming verify exactly."""
    samples = (
        "list_transform(range(0, 64), "
        "j -> ascii(substr(text, CAST((j * length(text)) // 64 AS INT) + 1, 1)))"
    )
    band_exprs = []
    for k in range(4):
        terms = " + ".join(
            f"(CASE WHEN s[{16 * k + j + 1}] > mean THEN 1 ELSE 0 END) * {1 << j}"
            for j in range(16)
        )
        band_exprs.append(f"({terms}) AS b{k}")
    bands_sql = ",\n               ".join(band_exprs)
    ham = " + ".join(f"bit_count(xor(a.b{k}, b.b{k}))" for k in range(4))
    cands = "\n        UNION\n        ".join(
        f"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM h a "
        f"JOIN h b ON a.b{k} = b.b{k} AND a.doc_id < b.doc_id"
        for k in range(4)
    )
    return f"""
    WITH s AS (
        SELECT doc_id, {samples} AS s
        FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0
    ),
    m AS (SELECT doc_id, s, list_sum(s) // 64 AS mean FROM s),
    h AS (
        SELECT doc_id,
               {bands_sql}
        FROM m
    ),
    cand AS (
        {cands}
    )
    SELECT c.doc_a, c.doc_b, CAST({ham} AS BIGINT) AS hamming
    FROM cand c
    JOIN h a ON a.doc_id = c.doc_a
    JOIN h b ON b.doc_id = c.doc_b
    WHERE {ham} <= 8
    ORDER BY doc_a, doc_b
    """


@query("q_image_ahash_dedup", oracle=_ahash_oracle())
def q_image_ahash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by perceptual average-hash: the Python
    worker half (decode + hash, `functions/multimodal.py:ahash_images`)
    feeds an engine-side pigeonhole band join (same shape as simhash),
    hamming-verified <= 8 over the 64-bit hash. The hash relation is
    one row per image — at 100 TB the pair join runs on that compact
    relation, never on pixels; band hot-bucket capping applies as in
    the text family if a degenerate corpus (monochrome images) floods
    a band.
    """
    from ..functions.multimodal import ahash_images

    # Checkpointed: the hash relation feeds 4 band self-joins (x2
    # sides) plus the two verify joins — uncheckpointed, the PYTHON
    # synth+decode+hash stage would re-execute ~10x per run.
    h = materialize(ahash_images(_media_df(spark, sf_dir)))
    a, b = h.alias("a"), h.alias("b")
    cand = None
    for k in range(4):
        c = (
            a.join(
                b,
                (F.col(f"a.b{k}") == F.col(f"b.b{k}"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
        )
        cand = c if cand is None else cand.unionAll(c)
    cand = cand.distinct()
    ha = h.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{k}").alias(f"a{k}") for k in range(4)],
    )
    hb = h.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{k}").alias(f"bb{k}") for k in range(4)],
    )
    ham = sum(
        F.bit_count(F.col(f"a{k}").bitwiseXOR(F.col(f"bb{k}"))) for k in range(4)
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select("doc_a", "doc_b", ham.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= 8)
        .orderBy("doc_a", "doc_b")
    )
