"""Multimodal columns: image/audio/video as opaque ``binary`` + typed metadata.

The Spark-side plumbing is real and tested — schema, partition-preserving
``mapInPandas`` over Arrow batches, typed metadata structs. Media decoding
is CAPABILITY-GATED (``decode_features``): Pillow is tried at call time
and the deterministic fake stands in when it's absent (as in this
container, which has no image/audio libraries) — the same plan runs
production-real wherever the wheel is installed.

Design for 100 TB of media:
- payloads stay opaque binary; all predicates/pruning run on the metadata
  struct columns, so filters never deserialize media bytes.
- feature extraction is ``mapInPandas`` (Arrow batches of bytes into
  Python once, vectorized), never a row-at-a-time UDF.
- frame/audio sampling emits multiple rows per input via the iterator
  contract of ``mapInPandas`` (a flatMap, not a join).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ai_batch_processing_spark.jobs import cache, pin_scope
from ai_batch_processing_spark.registry import register
from ai_batch_processing_spark.session import load_tables

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("md5", StringType()),
    ]
)


def attach_payload(df: DataFrame, text_col: str = "text", media_type: str = "image/fake") -> DataFrame:
    """Synthesize an opaque binary payload column + metadata struct.

    Stands in for reading real media files; the payload is the utf-8 bytes
    of ``text_col`` so every downstream byte-level operator is
    deterministic and oracle-checkable.
    """
    payload = F.encode(F.col(text_col), "utf-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("md5"),
        ),
    )


def decode_image(payload: bytes) -> object:
    """Real media decode — raises when no image library is present.

    ``decode_features`` is the capability-gated entry point operators use;
    this raw decoder is kept for callers that need the image object itself.
    """
    try:
        from PIL import Image
    except ImportError as e:
        raise NotImplementedError(
            "media decoding requires an image library not present in this environment"
        ) from e
    import io

    return Image.open(io.BytesIO(payload))


def decode_features(payload: bytes) -> tuple[int, int, str]:
    """Capability-gated decode+feature-extract: Pillow when importable,
    the deterministic fake otherwise — the SAME code path becomes
    production-real the moment the dependency exists (no code change,
    just an installed wheel). Import is attempted per call and cached by
    the interpreter; on executors each worker probes once."""
    try:
        from PIL import Image
    except ImportError:
        return fake_decode_features(payload)
    import io

    with Image.open(io.BytesIO(payload)) as img:
        return int(img.width), int(img.height), (img.format or "unknown").lower()


def fake_decode_features(payload: bytes) -> tuple[int, int, str]:
    """Deterministic stand-in for decode+feature-extract: derives a fake
    (width, height, format) from the payload bytes."""
    digest = hashlib.sha1(payload).digest()
    width = 16 + digest[0] % 240
    height = 16 + digest[1] % 240
    fmt = ["png", "jpeg", "webp"][digest[2] % 3]
    return width, height, fmt


def extract_media_features(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Vectorized feature extraction over Arrow batches of media bytes.

    Output = input columns + (width, height, format). Batch shape: each
    pandas batch holds the payload bytes column; one Python crossing per
    batch, not per row.
    """
    out_schema = StructType(
        df.schema.fields
        + [
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("format", StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_features(p) for p in pdf[payload_col]]
            pdf = pdf.copy()
            pdf["width"] = [f[0] for f in feats]
            pdf["height"] = [f[1] for f in feats]
            pdf["format"] = [f[2] for f in feats]
            yield pdf

    return df.mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame,
    max_width: int = 64,
    max_height: int = 64,
    payload_col: str = "payload",
) -> DataFrame:
    """Resize plumbing: payload → payload' with updated dimension metadata.

    The fake transform scales the payload proportionally to the pixel
    reduction (a real implementation decodes, resizes with PIL/cv2,
    re-encodes — one function swap). Aspect ratio is preserved; images
    already within bounds pass through byte-identical. Output = input
    columns with ``payload`` replaced + (width, height, resized).
    """
    out_schema = StructType(
        df.schema.fields
        + [
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("resized", StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            widths, heights, resized, payloads = [], [], [], []
            for p in pdf[payload_col]:
                w, h, _fmt = fake_decode_features(p)
                scale = min(max_width / w, max_height / h, 1.0)
                nw, nh = max(1, int(w * scale)), max(1, int(h * scale))
                if scale < 1.0:
                    keep = max(1, int(len(p) * (nw * nh) / (w * h)))
                    payloads.append(p[:keep])
                    resized.append("yes")
                else:
                    payloads.append(p)
                    resized.append("no")
                widths.append(nw)
                heights.append(nh)
            pdf = pdf.copy()
            pdf[payload_col] = payloads
            pdf["width"] = widths
            pdf["height"] = heights
            pdf["resized"] = resized
            yield pdf

    return df.mapInPandas(run, out_schema)


def sample_frames(df: DataFrame, payload_col: str = "payload", every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling plumbing: flatMap one media row → many frame rows.

    The fake "decoder" emits one frame per ``every_n_bytes`` chunk; a real
    video decoder would emit one row per sampled frame. Demonstrates the
    one-to-many ``mapInPandas`` shape (iterator of output batches whose
    row count differs from the input's).
    """
    id_cols = [c for c in df.columns if c != payload_col]
    out_schema = StructType(
        [df.schema[c] for c in id_cols]
        + [StructField("frame_idx", IntegerType()), StructField("frame_bytes", BinaryType())]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                payload = row[payload_col]
                for i in range(0, max(1, len(payload) // every_n_bytes)):
                    chunk = payload[i * every_n_bytes : (i + 1) * every_n_bytes]
                    rows.append({**{c: row[c] for c in id_cols}, "frame_idx": i, "frame_bytes": chunk})
            yield pd.DataFrame(rows, columns=id_cols + ["frame_idx", "frame_bytes"])

    return df.mapInPandas(run, out_schema)


@register(
    "q60_multimodal_metadata",
    oracle="""
        SELECT
            doc_id,
            'image/fake' AS media_type,
            CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
            md5(text) AS payload_md5
        FROM documents
        ORDER BY doc_id
    """,
    doc="multimodal metadata plumbing: binary payload + typed metadata struct (decode stubbed).",
    tags=("multimodal",),
)
def q60_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    with_media = attach_payload(t["documents"])
    return (
        with_media.select(
            "doc_id",
            F.col("media_meta.media_type").alias("media_type"),
            F.col("media_meta.n_bytes").alias("n_bytes"),
            F.col("media_meta.md5").alias("payload_md5"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicate detection for media payloads
# ---------------------------------------------------------------------------
def phash64(payload: bytes) -> int:
    """64-bit perceptual hash of a media payload, capability-gated.

    With Pillow: dHash — grayscale-resize to 9×8, one bit per horizontal
    gradient sign; robust to re-encoding/resizing, small edits flip few
    bits. Without it: a byte-level SimHash over 4-byte shingles — still
    LOCALITY-SENSITIVE (near-identical payloads → small hamming distance),
    so banding, verification, and tests exercise the real semantics even
    in this container. Both paths return an unsigned-63-bit int (sign bit
    clear — Spark longs are signed)."""
    try:
        from PIL import Image
    except ImportError:
        return _simhash_bytes(payload)
    import io

    try:
        # Gate on full DECODABILITY, not just importability or a parseable
        # header: Image.open only reads the header lazily, so convert/
        # resize (which force the pixel decode) must sit inside the same
        # fallback — a truncated-body JPEG or a non-image payload (e.g.
        # the synthetic text bytes) hashes deterministically via the
        # byte-SimHash instead of failing the task.
        with Image.open(io.BytesIO(payload)) as img:
            g = img.convert("L").resize((9, 8))
            px = list(g.getdata())
    except Exception:
        return _simhash_bytes(payload)
    bits = 0
    for r in range(8):
        for c in range(8):
            if px[r * 9 + c] > px[r * 9 + c + 1]:
                bits |= 1 << (r * 8 + c)
    return bits & ((1 << 63) - 1)


def _simhash_bytes(payload: bytes, bits: int = 63, mix: str = "splitmix") -> int:
    """SimHash over overlapping 4-byte shingles (the fake-decode twin).

    Fully vectorized: sliding 4-byte windows → one shingle-key mix → per-bit
    popcounts accumulated over 64 Ki-shingle CHUNKS of the shingle axis.
    No per-byte Python loop — the per-batch cost stays numpy-bound inside
    the Arrow crossing — and the intermediate is bounded (~65 MB per chunk
    matrix) regardless of payload size.

    ``mix="splitmix"`` (default) is the production mixer (good diffusion);
    ``mix="portable"`` is ((key mod p)·2654435761 + 7) mod p with
    p = 2³¹−1 — BIGINT-only arithmetic DuckDB reproduces verbatim, which
    is what lets q146 hash-match this whole Arrow/numpy path against an
    independent SQL oracle (use with ``bits=32``).
    """
    import numpy as np

    buf = payload if len(payload) >= 4 else payload.ljust(4, b"\0")
    a = np.frombuffer(buf, dtype=np.uint8)
    w = np.lib.stride_tricks.sliding_window_view(a, 4).astype(np.uint64)
    key = (w[:, 0] << np.uint64(24)) | (w[:, 1] << np.uint64(16)) | (w[:, 2] << np.uint64(8)) | w[:, 3]
    if mix == "portable":
        p = np.uint64(2147483647)
        key = ((key % p) * np.uint64(2654435761) + np.uint64(7)) % p
    else:
        # splitmix64 finalizer (uint64 arithmetic wraps, which is what we want)
        with np.errstate(over="ignore"):
            key = (key ^ (key >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            key = (key ^ (key >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            key = key ^ (key >> np.uint64(31))
    # Accumulate per-bit counts in CHUNKS of the shingle axis: a single
    # (n_shingles × bits) sign matrix would be ~500 bytes per payload byte
    # (a 5 MB payload → ~2.5 GB). Each chunk materializes a 65536×63
    # uint64 shift matrix plus an int64 reduction (~65 MB) — constant in
    # payload size, sized to stay cache-friendly without loop overhead.
    counts = np.zeros(bits, dtype=np.int64)
    shifts = np.arange(bits, dtype=np.uint64)
    chunk = 65536
    for i in range(0, len(key), chunk):
        k = key[i : i + chunk, None]
        ones = ((k >> shifts) & np.uint64(1)).astype(np.int64).sum(axis=0)
        n = min(chunk, len(key) - i)
        counts += 2 * ones - n
    return int(sum(1 << b for b in range(bits) if counts[b] >= 0))


def media_phash(df: DataFrame, payload_col: str = "payload", hasher=None) -> DataFrame:
    """Attach a ``phash`` long column — one Arrow-batched Python crossing.

    ``hasher`` overrides the per-payload hash function (default
    :func:`phash64`); q146 passes the portable-mix byte-SimHash so the
    crossing is oracle-checkable."""
    h = hasher or phash64
    out_schema = StructType(df.schema.fields + [StructField("phash", LongType())])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["phash"] = [h(bytes(p)) for p in pdf[payload_col]]
            yield pdf

    return df.mapInPandas(run, out_schema)


def media_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    max_hamming: int = 3,
    bits: int = 63,
    hasher=None,
) -> DataFrame:
    """(id_a, id_b, hamming): media pairs whose perceptual hashes differ by
    ≤ ``max_hamming`` bits.

    The SimHash banding argument (dedup.py): two keys within hamming ≤ 3
    must agree on ≥1 of 4 ``ceil(bits/4)``-bit bands, so candidate
    generation is a corpus-linear band-bucket join (all JVM-side — the
    only Python is the one phash crossing), then exact hamming via
    xor+bit_count verifies candidates. Never an all-pairs join.
    """
    # Cached: the band self-join consumes the hashed relation through
    # two plan branches — without the cache each side re-runs the
    # Arrow/Python phash crossing over the whole corpus, doubling the
    # single most expensive step. The returned pairs are lazy over it, so
    # the caller's pin_scope releases it.
    hashed = cache(
        media_phash(df, payload_col, hasher=hasher).select(F.col(id_col).alias("id"), "phash")
    )
    band_bits = (bits + 3) // 4
    mask = (1 << band_bits) - 1
    banded = hashed.select(
        "id",
        "phash",
        F.posexplode(
            F.expr(f"transform(sequence(0, 3), j -> shiftright(phash, j * {band_bits}) & {mask})")
        ).alias("band", "key"),
    )
    x = banded.alias("x")
    y = banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.key") == F.col("y.key"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.col("x.phash").alias("ph_a"),
            F.col("y.phash").alias("ph_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
    return cand.filter(ham <= max_hamming).select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    )


@register(
    "q61_media_phash_near_dup",
    oracle=None,  # phash is computed in Python (Pillow dHash / byte-SimHash
    # twin) — not SQL-expressible; unit tests pin the planted-dup semantics.
    doc="perceptual-hash media near-dup: Arrow-batched phash, 16-bit-band "
    "candidate blocking, xor+bit_count verify (SimHash pattern for media).",
    tags=("multimodal", "dedup"),
)
def q61_media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    base = t["documents"].filter(F.col("doc_id") < 150).select("doc_id", "text")
    # planted duplicates: identical payload bytes under a new id (hamming
    # 0 — the exact-re-upload case); the near-miss case (small byte edits
    # → small hamming) is pinned by unit tests where the distance budget
    # can be asserted deterministically
    dups = (
        t["documents"]
        .filter((F.col("doc_id") < 150) & (F.col("doc_id") % 3 == 0))
        .select((F.col("doc_id") + 100000).alias("doc_id"), F.col("text"))
    )
    corpus = attach_payload(base.unionAll(dups))
    with pin_scope() as scope:
        out = scope.store(media_near_dup_pairs(corpus, max_hamming=3))
    return out.orderBy("id_a", "id_b")


def _phash_portable_oracle(bits: int = 32, max_hamming: int = 3) -> str:
    """DuckDB twin of the portable-mix byte-SimHash near-dup pipeline.

    The payload is the utf-8 bytes of ASCII text, so the numpy 4-byte
    sliding windows are exactly 4-char substrings; the portable mixer is
    BIGINT-only arithmetic. Reuses the shared SimHash-pairs skeleton
    (``dedup.simhash_pairs_oracle_sql``) so the bit-fold and hamming
    clauses can never drift from q132's.

    Twin contract (matched by q146's Spark side): texts shorter than 4
    chars are excluded (numpy would pad them; the oracle has no pad), and
    the corpus must be ASCII (byte windows == char windows). Both hold
    for the synthetic documents table and are filtered/asserted in q146.
    """
    from ai_batch_processing_spark.operators.dedup import simhash_pairs_oracle_sql

    head = """corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 150 AND length(text) >= 4
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, text
            FROM documents WHERE doc_id < 150 AND doc_id % 3 = 0 AND length(text) >= 4
        ),
        shingled AS (
            SELECT doc_id,
                   CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT) * 16777216
                 + CAST(ascii(substring(text, CAST(i AS INT) + 1, 1)) AS BIGINT) * 65536
                 + CAST(ascii(substring(text, CAST(i AS INT) + 2, 1)) AS BIGINT) * 256
                 + CAST(ascii(substring(text, CAST(i AS INT) + 3, 1)) AS BIGINT) AS key
            FROM corpus, unnest(generate_series(1, length(text) - 3)) t(i)
        ),
        hashed AS (
            SELECT doc_id, ((key % 2147483647) * 2654435761 + 7) % 2147483647 AS h
            FROM shingled
        )"""
    return simhash_pairs_oracle_sql(head, "doc_id", bits, max_hamming)


@register(
    "q146_media_phash_verified",
    oracle=_phash_portable_oracle(),
    doc=(
        "q61's media near-dup pipeline made fully oracle-checkable: the "
        "byte-SimHash mixer switches from splitmix64 to BIGINT-portable "
        "arithmetic, so the REAL machinery — attach_payload's binary "
        "column, the Arrow-batched mapInPandas numpy hashing, the banded "
        "candidate join, the xor+bit_count verify — hash-matches an "
        "independent DuckDB oracle end to end (banding recall is exactly "
        "1 by pigeonhole). The production splitmix/Pillow path stays "
        "pinned by q61's rows check and the planted-dup unit tests."
    ),
    tags=("multimodal", "dedup", "verify"),
)
def q146_media_phash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    # length >= 4 mirrors the oracle exactly: numpy pads shorter payloads
    # to 4 bytes (and would emit a fingerprint) while the oracle's window
    # generator emits nothing for them — exclude them on BOTH sides. The
    # oracle also assumes ASCII (byte windows == char windows); the
    # synthetic documents table is ASCII by construction.
    docs = t["documents"].filter(F.length("text") >= 4)
    base = docs.filter(F.col("doc_id") < 150).select("doc_id", "text")
    dups = (
        docs.filter((F.col("doc_id") < 150) & (F.col("doc_id") % 3 == 0))
        .select((F.col("doc_id") + 100000).alias("doc_id"), F.col("text"))
    )
    corpus = attach_payload(base.unionAll(dups))
    portable = lambda p: _simhash_bytes(p, bits=32, mix="portable")  # noqa: E731
    with pin_scope() as scope:
        out = scope.store(media_near_dup_pairs(corpus, max_hamming=3, bits=32, hasher=portable))
    return out.orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Audio waveform statistics — the audio half of the multimodal surface:
# binary payload → uint8 sample vector → vectorized frame stats
# ---------------------------------------------------------------------------
def audio_waveform_stats(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """(doc_id, n_samples, mean_amp, rms, peak_dev, zcr): per-payload
    waveform statistics treating the binary column as unsigned 8-bit PCM —
    mean amplitude, population RMS about the mean (the moment form: all
    integer sums, one sqrt), peak absolute deviation from the integer
    mean, and the zero-crossing count about that mean (the cheap
    voiced/unvoiced + silence signals an audio-curation pass gates on).

    The plumbing is the production shape: ``np.frombuffer`` over Arrow
    batches of the binary column, all stats vectorized per payload, no
    per-sample Python. With a real audio payload the ONLY change is the
    decode step (codec → PCM) in front of the same kernel; the synthetic
    payload (utf-8 text bytes, ASCII by construction) keeps every number
    oracle-checkable — the SQL twin re-derives the identical samples
    from the characters.
    """
    import numpy as np

    from ai_batch_processing_spark.operators.similarity import _round_half_up

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for doc_id, blob in zip(pdf["doc_id"], pdf[payload_col]):
                s = np.frombuffer(bytes(blob), dtype=np.uint8).astype(np.int64)
                n = int(s.size)
                if n == 0:
                    continue
                tot = int(s.sum())
                ss = int((s * s).sum())
                m = tot // n
                var_num = n * ss - tot * tot  # n² · population variance
                rms = float(
                    np.sqrt(np.float64(var_num) / (np.float64(n) * np.float64(n)))
                )
                peak = int(np.abs(s - m).max())
                above = s >= m
                zcr = int(np.sum(above[:-1] != above[1:])) if n > 1 else 0
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "n_samples": n,
                        # HALF_UP: doc lengths hit powers of two, where
                        # tot/n lands EXACTLY on the .5e-6 grid and
                        # Python's half-even round diverges from SQL ROUND
                        # (observed at sf0.1: 93.7265625 -> ...62 vs ...63)
                        "mean_amp": float(_round_half_up(tot / n, 6)),
                        "rms": float(_round_half_up(rms, 6)),
                        "peak_dev": peak,
                        "zcr": zcr,
                    }
                )
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_samples", "mean_amp", "rms", "peak_dev", "zcr"],
            )

    schema = (
        "doc_id long, n_samples long, mean_amp double, rms double, "
        "peak_dev long, zcr long"
    )
    return df.select("doc_id", payload_col).mapInPandas(run, schema)


@register(
    "q262_audio_waveform_stats",
    oracle="""
        WITH samples AS (
            SELECT doc_id, CAST(i AS INT) AS i,
                   ascii(substring(text, CAST(i AS INT), 1)) AS s
            FROM documents, unnest(generate_series(1, length(text))) t(i)
            WHERE length(text) >= 1
        ),
        agg AS (
            SELECT doc_id, COUNT(*) AS n, SUM(s) AS tot,
                   SUM(s * s) AS ss
            FROM samples GROUP BY doc_id
        ),
        m AS (SELECT doc_id, n, tot, ss, tot // n AS mean_i FROM agg),
        dev AS (
            SELECT s.doc_id, MAX(ABS(s.s - m.mean_i)) AS peak
            FROM samples s JOIN m ON m.doc_id = s.doc_id
            GROUP BY s.doc_id
        ),
        zc AS (
            SELECT q.doc_id,
                   SUM(CASE WHEN (q.s >= q.mean_i) <> (q.nx >= q.mean_i)
                            THEN 1 ELSE 0 END) AS zcr
            FROM (
                SELECT s.doc_id, s.s, m.mean_i,
                       LEAD(s.s) OVER (PARTITION BY s.doc_id ORDER BY s.i) AS nx
                FROM samples s JOIN m ON m.doc_id = s.doc_id
            ) q
            WHERE q.nx IS NOT NULL
            GROUP BY q.doc_id
        )
        SELECT m.doc_id,
               CAST(m.n AS BIGINT) AS n_samples,
               ROUND(m.tot * 1.0 / m.n, 6) AS mean_amp,
               ROUND(sqrt((m.n * m.ss - m.tot * m.tot) * 1.0 / (m.n * m.n)), 6)
                   AS rms,
               CAST(d.peak AS BIGINT) AS peak_dev,
               CAST(COALESCE(z.zcr, 0) AS BIGINT) AS zcr
        FROM m
        JOIN dev d ON d.doc_id = m.doc_id
        LEFT JOIN zc z ON z.doc_id = m.doc_id
        ORDER BY m.doc_id
    """,
    doc=(
        "audio waveform statistics over synthesized uint8-PCM payloads "
        "(the audio half of the multimodal surface): mean amplitude, "
        "population RMS (exact integer moments, one sqrt), peak "
        "deviation, zero-crossing count about the integer mean — the "
        "silence/voicing signals an audio-curation gate reads. "
        "np.frombuffer over Arrow batches, all-vectorized; a real codec "
        "just swaps in a decode step ahead of the same kernel, and the "
        "SQL twin re-derives the identical samples from the characters."
    ),
    tags=("multimodal", "audio", "stats"),
)
def q262_audio_waveform_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["documents"])
    docs = t["documents"].filter(F.length("text") >= 1).select("doc_id", "text")
    corpus = attach_payload(docs, media_type="audio/pcm-u8-fake")
    return audio_waveform_stats(corpus).orderBy("doc_id")
