"""Multimodal columns (SURVEY §2.3 LLM block): mixed text+vector+scalar
tables, and opaque binary media columns with typed metadata.

The media pattern: payload as `binary`, metadata as typed columns,
per-batch decode/feature-extract via Arrow-batched `mapInPandas`.

Decode tiers (r11): `decode_image` is a REAL decoder — Pillow when
importable, else the pure-stdlib PNG codec (png_codec.py) doing
genuine chunk-walk/inflate/unfilter work — exercised end-to-end by
q_multimodal_decode_real against a closed-form oracle. The
deterministic FAKE (`_fake_decode_features`, clearly marked) remains
the stand-in for formats with no library in this container
(JPEG/audio/video), and `decode_image_stub` stays their honest
NotImplementedError entry point.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..registry import register


@register(
    "q_multimodal_cols",
    oracle="""
    SELECT d.doc_id, d.lang, d.source,
           LENGTH(d.text) AS text_len,
           e.label,
           CAST(LEN(e.embedding) AS INTEGER) AS dim,
           ROUND(SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))), 6) AS l2_norm,
           ROUND(CAST(e.embedding[1] AS DOUBLE), 6) AS e0
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.lang IN ('en', 'es')
    """,
)
def q_multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One result mixing text, vector, and scalar columns: documents ⨝
    embeddings on doc_id=vec_id with per-modality projections (text
    length, vector norm/first component, class label)."""
    d = load(spark, sf_dir, "documents").filter(F.col("lang").isin("en", "es"))
    e = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(v, v, lambda p, q: p * q), F.lit(0.0), lambda a, z: a + z
    )
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("text_len"),
        "label",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(dot), 6).alias("l2_norm"),
        F.round(v.getItem(0), 6).alias("e0"),
    )


#: typed metadata carried beside the opaque payload
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("payload_len", T.IntegerType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("payload_len", T.IntegerType(), True),
        T.StructField("feat_mean", T.DoubleType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)


def decode_image_stub(payload: bytes) -> "object":
    """Real decode entry point — image/audio libraries are not available
    in this container; wire Pillow/torchaudio/av here in production."""
    raise NotImplementedError("media decode requires image/audio libraries")


def _fake_decode_features(payload: pd.Series) -> pd.DataFrame:
    """DETERMINISTIC FAKE standing in for decode → feature-extract:
    derives 'features' purely from payload bytes so tests are stable."""
    lens = payload.str.len().astype("int32")
    first = payload.str[0:1].apply(lambda b: b[0] if len(b) else 0)
    return pd.DataFrame(
        {
            "feat_mean": (first.astype("float64") + lens) / 2.0,
            "n_frames": (lens % 7 + 1).astype("int32"),
        }
    )


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the opaque-binary media table from `documents` (the
    fixture set has no real media): payload = utf-8 bytes of text."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.encode("text", "utf-8").alias("payload"),
        F.length(F.encode("text", "utf-8")).alias("payload_len"),
    )


def extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: Arrow batches in, feature rows out. The decode
    call is the stubbed fake; the batch-wise shape is production-real."""
    for pdf in batches:
        feats = _fake_decode_features(pdf["payload"])
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "payload_len": pdf["payload_len"].astype("int32"),
                "feat_mean": feats["feat_mean"],
                "n_frames": feats["n_frames"],
            }
        )


@register(
    "q_multimodal_binary",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           CAST(LENGTH(text) AS INTEGER) AS payload_len,
           (CAST(UNICODE(SUBSTRING(text, 1, 1)) AS DOUBLE) + LENGTH(text)) / 2.0
               AS feat_mean,
           CAST(LENGTH(text) % 7 + 1 AS INTEGER) AS n_frames
    FROM documents
    """,
)
def q_multimodal_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media pipeline: opaque payload column + typed metadata →
    Arrow-batched mapInPandas feature extraction. The oracle reproduces
    the deterministic fake's arithmetic from the source text (documents
    are ASCII, so byte[0] == unicode(char[0]) and byte-length == length).
    """
    media = media_table(spark, sf_dir)
    return media.mapInPandas(extract_features, schema=FEATURE_SCHEMA)


#: frame sampling stride: one "frame" every 16 payload bytes
_FRAME_STRIDE = 16

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame_byte", T.IntegerType(), True),
    ]
)


def sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker for the 1→N decode shape: each video payload
    fans out to one row per sampled frame. The 'decode' is the
    deterministic fake (frame = payload byte at i·stride); a real
    pipeline swaps in pyav/ffmpeg keyframe extraction with the same
    batch-in/batch-out contract."""
    import numpy as np

    for pdf in batches:
        ids, idxs, vals = [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n = (len(payload) + _FRAME_STRIDE - 1) // _FRAME_STRIDE
            ids.append(np.full(n, doc_id, dtype="int64"))
            idxs.append(np.arange(n, dtype="int32"))
            vals.append(np.frombuffer(payload, dtype="uint8")[::_FRAME_STRIDE].astype("int32"))
        yield pd.DataFrame(
            {
                "doc_id": np.concatenate(ids),
                "frame_idx": np.concatenate(idxs),
                "frame_byte": np.concatenate(vals),
            }
        )


@register(
    "q_multimodal_frames",
    oracle=f"""
    SELECT doc_id, CAST(t.i AS INTEGER) AS frame_idx,
           CAST(UNICODE(SUBSTRING(text, CAST(t.i * {_FRAME_STRIDE} + 1 AS INTEGER), 1))
                AS INTEGER) AS frame_byte
    FROM documents,
         UNNEST(RANGE(0, (LENGTH(text) + {_FRAME_STRIDE} - 1) // {_FRAME_STRIDE})) AS t(i)
    WHERE doc_id % 3 = 2
    """,
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: filter the media table to video payloads and
    fan each out to one row per sampled frame (every 16th byte) through
    Arrow-batched mapInPandas — the 1→N decode shape (keyframe / audio-
    window extraction). Fan-out happens executor-side inside the batch,
    so output size never concentrates on the driver, and downstream ops
    see an ordinary (doc_id, frame_idx, …) DataFrame they can shuffle,
    join, or window like any other."""
    media = media_table(spark, sf_dir).filter(F.col("media_type") == "video/mp4")
    return media.mapInPandas(sample_frames, schema=FRAME_SCHEMA)


#: fake "resize" target: every image payload is nearest-neighbor
#: resampled to exactly 32 samples (idx_i = i·len // 32).
_RESIZE_TARGET = 32

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("orig_len", T.IntegerType(), True),
        T.StructField("resized", T.BinaryType(), True),
        T.StructField("resized_checksum", T.LongType(), True),
        T.StructField("first_byte", T.IntegerType(), True),
        T.StructField("last_byte", T.IntegerType(), True),
    ]
)


def resize_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker for the N→N resize shape: each image payload is
    nearest-neighbor resampled to _RESIZE_TARGET samples (sample i reads
    byte i·len//target — the exact index arithmetic of an NN image
    resize, applied to bytes because the container has no codecs; a real
    pipeline swaps Pillow's `Image.resize` into the same contract). The
    resized payload stays a BINARY column, so downstream stages see the
    same opaque-payload schema they started with."""
    import numpy as np

    t = _RESIZE_TARGET
    for pdf in batches:
        rows = {
            "doc_id": pdf["doc_id"],
            "orig_len": pdf["payload_len"].astype("int32"),
            "resized": [],
            "resized_checksum": [],
            "first_byte": [],
            "last_byte": [],
        }
        for payload in pdf["payload"]:
            arr = np.frombuffer(payload, dtype="uint8")
            if len(arr) == 0:
                # empty payload: nothing to sample — emit nulls rather
                # than crash the worker (fixture docs are non-empty;
                # the general contract isn't)
                rows["resized"].append(None)
                rows["resized_checksum"].append(None)
                rows["first_byte"].append(None)
                rows["last_byte"].append(None)
                continue
            idx = (np.arange(t, dtype="int64") * len(arr)) // t
            out = arr[idx]
            rows["resized"].append(out.tobytes())
            rows["resized_checksum"].append(int(out.astype("int64").sum()))
            rows["first_byte"].append(int(out[0]))
            rows["last_byte"].append(int(out[-1]))
        yield pd.DataFrame(rows)


@register(
    "q_multimodal_resize",
    # BYTE-based oracle (ADVICE r4): the Spark path samples UTF-8 BYTES
    # of the payload, so the oracle must too — a character-based
    # recompute (LENGTH/UNICODE) only agrees on pure-ASCII fixtures and
    # silently hash-fails the moment a fixture refresh emits one
    # multibyte doc. Byte i (0-based) of the blob is read through its
    # hex rendering: CAST('0x' || SUBSTRING(hex, i*2+1, 2) AS INTEGER)
    # (DuckDB has no direct BLOB byte indexing).
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               HEX(ENCODE(text)) AS hx,
               OCTET_LENGTH(ENCODE(text)) AS blen
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, CAST(blen AS INTEGER) AS orig_len,
           -- blen = 0 guards: the Spark UDF emits NULLs for an empty
           -- payload (its documented contract); a bare CAST('0x' ...)
           -- on the empty hex string would ABORT the whole oracle
           -- ("Could not convert string '0x'") instead of grading it
           CASE WHEN blen = 0 THEN NULL ELSE
           CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, {_RESIZE_TARGET}),
                i -> CAST('0x' || SUBSTRING(hx,
                     CAST(((i * blen) // {_RESIZE_TARGET}) * 2 + 1 AS INTEGER), 2)
                     AS INTEGER)))
                AS BIGINT) END AS resized_checksum,
           CASE WHEN blen = 0 THEN NULL ELSE
           CAST('0x' || SUBSTRING(hx, 1, 2) AS INTEGER) END AS first_byte,
           CASE WHEN blen = 0 THEN NULL ELSE
           CAST('0x' || SUBSTRING(hx,
                CAST(((({_RESIZE_TARGET} - 1) * blen) // {_RESIZE_TARGET}) * 2 + 1
                     AS INTEGER), 2) AS INTEGER) END AS last_byte
    FROM b
    """,
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize stage: filter the media table to images and resample
    every payload to a fixed size through Arrow-batched mapInPandas —
    the N→N media transform (decode → resize → re-encode) between
    ingest and feature extraction. The resized payload remains an
    opaque BINARY column with typed metadata beside it. The oracle
    recomputes the NN index arithmetic over the UTF-8 BYTES of the
    source text (hex-rendered blob indexing — correct for multibyte
    content, not just ASCII); the binary column itself is dropped
    from the graded projection since DuckDB would compare encoded
    blobs, but the checksum pins every sampled byte."""
    media = media_table(spark, sf_dir).filter(F.col("media_type") == "image/png")
    return media.mapInPandas(resize_media, schema=RESIZE_SCHEMA).select(
        "doc_id", "orig_len", "resized_checksum", "first_byte", "last_byte"
    )


_PHASH_BITS = 64  #: aHash grid size (64 sampled "pixels" → 64-bit hash)

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("b0", T.LongType(), True),
        T.StructField("b1", T.LongType(), True),
        T.StructField("b2", T.LongType(), True),
        T.StructField("b3", T.LongType(), True),
    ]
)


def phash_bands(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: average-hash each image payload. Sample 64
    "pixels" with the same NN index arithmetic as `resize_media`
    (byte i·len//64), threshold each against the mean of the samples
    (integer form 64·p_i > Σp — no division), and pack the 64 bits as
    FOUR 16-bit band integers (b0..b3) — packed this way the banded
    near-dup join downstream needs no 64-bit sign games. A real
    pipeline swaps a decoded-grayscale 8×8 mean filter into the same
    contract (pHash/aHash practice, e.g. LAION dedup)."""
    import numpy as np

    n = _PHASH_BITS
    for pdf in batches:
        rows = {"doc_id": pdf["doc_id"], "b0": [], "b1": [], "b2": [], "b3": []}
        for payload in pdf["payload"]:
            arr = np.frombuffer(payload, dtype="uint8")
            if len(arr) == 0:
                for c in ("b0", "b1", "b2", "b3"):
                    rows[c].append(None)
                continue
            idx = (np.arange(n, dtype="int64") * len(arr)) // n
            p = arr[idx].astype("int64")
            bits = n * p > int(p.sum())
            for b in range(4):
                rows[f"b{b}"].append(
                    int(sum(1 << r for r in range(16) if bits[b * 16 + r]))
                )
        yield pd.DataFrame(rows)


@register(
    "q_multimodal_phash",
    oracle="""
    WITH b AS (
        SELECT doc_id, HEX(ENCODE(text)) AS hx,
               OCTET_LENGTH(ENCODE(text)) AS blen
        FROM documents WHERE doc_id % 3 = 0
    ),
    px AS (
        SELECT doc_id,
               LIST_TRANSFORM(RANGE(0, 64),
                 i -> CAST('0x' || SUBSTRING(hx,
                      CAST(((i * blen) // 64) * 2 + 1 AS INTEGER), 2)
                      AS INTEGER)) AS p
        FROM b WHERE blen > 0
    ),
    hs AS (SELECT doc_id, p, LIST_SUM(p) AS tot FROM px),
    bands AS (
        SELECT doc_id,
               LIST_TRANSFORM(RANGE(0, 4), bb ->
                 CAST(LIST_SUM(LIST_TRANSFORM(RANGE(0, 16), r ->
                   CASE WHEN 64 * p[CAST(bb*16 + r + 1 AS INTEGER)] > tot
                        THEN CAST(1 AS BIGINT) << CAST(r AS INTEGER)
                        ELSE 0 END)) AS BIGINT)) AS bs
        FROM hs
    ),
    w AS (SELECT doc_id, bs[1] AS b0, bs[2] AS b1, bs[3] AS b2, bs[4] AS b3
          FROM bands),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM w a JOIN w b ON a.doc_id < b.doc_id
            AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
        WHERE BIT_COUNT(XOR(a.b0, b.b0)) + BIT_COUNT(XOR(a.b1, b.b1))
            + BIT_COUNT(XOR(a.b2, b.b2)) + BIT_COUNT(XOR(a.b3, b.b3)) <= 3
    ),
    deg AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_near FROM (
            SELECT doc_a AS doc_id FROM pairs
            UNION ALL
            SELECT doc_b FROM pairs
        ) GROUP BY doc_id
    )
    SELECT w.doc_id, w.b0, w.b1, w.b2, w.b3,
           COALESCE(deg.n_near, 0) AS n_near
    FROM w LEFT JOIN deg ON w.doc_id = deg.doc_id
    ORDER BY w.doc_id
    """,
)
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over the image payloads — the
    multimodal counterpart of the text dedup ladder (LAION-style
    image dedup by aHash/pHash): mapInPandas computes each image's
    64-bit average-hash as four 16-bit bands, and the EXACT d ≤ 3
    near-dup tier comes from band buckets — by pigeonhole, any
    pair within Hamming distance 3 of a 4-band split agrees on ≥ 1
    whole band, so unlike `q_dedup_simhash`'s best-effort d ≤ 6 tier
    this output is complete (recall 1.0) and fully oracle-checkable.
    Emits per image: the fingerprint bands and its exact near-dup
    degree.

    Scale shape: hashing is one Arrow-batched pass over the media
    table (the decode seam — a real pipeline drops a grayscale 8×8
    mean filter into `phash_bands`), and the kernel's output feeds one
    linear pipeline, so the plan holds it once. Each fingerprint
    explodes into its 4 (band_idx, band_val) buckets; one bucket-keyed
    aggregation collects the members' fingerprints — bucketed, never
    all-pairs, with work quadratic only within a bucket, as a banded
    equi-join would be — and each member keeps the in-bucket partners
    within exact Hamming distance 3. A doc sits in all of its own 4
    buckets, so one doc-keyed aggregation sees every partner it has:
    its degree is the distinct count of the flattened partner lists (a
    pair sharing several bands counts once), and no join back to the
    fingerprints is needed. Three exchanges: bucket, doc, final sort.
    The oracle recomputes the identical integer pipeline from the
    hex-rendered payload bytes (multibyte-safe, the
    q_multimodal_resize convention)."""
    media = media_table(spark, sf_dir).filter(F.col("media_type") == "image/png")
    w = media.mapInPandas(phash_bands, schema=PHASH_SCHEMA).filter(
        F.col("b0").isNotNull()
    )
    fp = ["doc_id", "b0", "b1", "b2", "b3"]
    buckets = (
        w.select(
            F.struct(*fp).alias("me"),
            F.posexplode(F.array(*fp[1:])).alias("band_idx", "val"),
        )
        .groupBy("band_idx", "val")
        .agg(F.collect_list("me").alias("members"))
    )

    def near(m):
        """m is a bucket member within d ≤ 3 of this row's doc `me`."""
        me = F.col("me")
        hamming = sum(F.bit_count(m[b].bitwiseXOR(me[b])) for b in fp[1:])
        return (m["doc_id"] != me["doc_id"]) & (hamming <= 3)

    partners = buckets.select(F.explode("members").alias("me"), "members").select(
        "me",
        F.transform(F.filter("members", near), lambda m: m["doc_id"]).alias("partners"),
    )
    return (
        partners.groupBy(*[F.col(f"me.{c}").alias(c) for c in fp])
        .agg(
            F.size(F.array_distinct(F.flatten(F.collect_list("partners"))))
            .cast("long")
            .alias("n_near")
        )
        .orderBy("doc_id")
    )


#: audio "decode" framing: 64 payload bytes per frame, and a frame is
#: silent when its mean-square amplitude (bytes centered at the
#: unsigned-PCM midpoint 128) is below _SILENCE_MS — measured 53% of
#: fixture frames at sf0.01, so the VAD split is non-vacuous.
_AUDIO_FRAME = 64
_SILENCE_MS = 2000

_AUDIO_SCHEMA = (
    "doc_id long, n_frames long, total_energy long, n_silent long, "
    "peak_energy long, peak_idx long"
)


def audio_energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker for the audio path: each payload is treated as
    unsigned-8-bit PCM, framed at _AUDIO_FRAME samples, and reduced to
    per-doc energy/VAD statistics. The PCM interpretation of the fake
    payload is the deterministic decode stub (multimodal.py:85 policy);
    the Arrow-batched numpy reduction is the production-real shape a
    soundfile/torchaudio decode would slot into."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "n_frames", "total_energy", "n_silent",
            "peak_energy", "peak_idx",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, dtype="uint8").astype("int64")
            if b.size == 0:
                continue
            dev2 = (b - 128) ** 2
            nf = (b.size + _AUDIO_FRAME - 1) // _AUDIO_FRAME
            en = np.add.reduceat(dev2, np.arange(0, b.size, _AUDIO_FRAME))
            lens = np.minimum(
                np.arange(1, nf + 1) * _AUDIO_FRAME, b.size
            ) - np.arange(0, nf) * _AUDIO_FRAME
            out["doc_id"].append(doc_id)
            out["n_frames"].append(nf)
            out["total_energy"].append(int(en.sum()))
            out["n_silent"].append(int((en < _SILENCE_MS * lens).sum()))
            out["peak_energy"].append(int(en.max()))
            out["peak_idx"].append(int(en.argmax()))
        yield pd.DataFrame(out)


@register(
    "q_multimodal_audio_energy",
    oracle="""
    WITH b AS (
        SELECT doc_id, HEX(ENCODE(text)) AS hx,
               OCTET_LENGTH(ENCODE(text)) AS blen
        FROM documents WHERE doc_id % 3 = 1
    ),
    fr AS (
        SELECT doc_id, blen,
               LIST_TRANSFORM(RANGE(0, (blen + 63) // 64), f ->
                 LIST_SUM(LIST_TRANSFORM(
                   RANGE(f * 64, LEAST((f + 1) * 64, blen)), i ->
                     (CAST('0x' || SUBSTRING(hx,
                          CAST(i * 2 + 1 AS INTEGER), 2) AS BIGINT) - 128)
                   * (CAST('0x' || SUBSTRING(hx,
                          CAST(i * 2 + 1 AS INTEGER), 2) AS BIGINT) - 128)
                 ))) AS en
        FROM b WHERE blen > 0
    )
    SELECT doc_id,
           CAST(len(en) AS BIGINT) AS n_frames,
           CAST(LIST_SUM(en) AS BIGINT) AS total_energy,
           CAST(len(LIST_FILTER(RANGE(0, len(en)), f ->
               en[CAST(f + 1 AS INTEGER)] <
               2000 * (LEAST((f + 1) * 64, blen) - f * 64)))
               AS BIGINT) AS n_silent,
           CAST(LIST_MAX(en) AS BIGINT) AS peak_energy,
           CAST(LIST_POSITION(en, LIST_MAX(en)) - 1 AS BIGINT) AS peak_idx
    FROM fr ORDER BY doc_id
    """,
)
def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO frame-energy / VAD statistics over the media table's audio
    payloads — completes the modality triad (image = resize/phash,
    video = frame sampling, audio = THIS): per doc, frame count at a
    64-sample stride, total signal energy, silent-frame count below
    the mean-square VAD threshold, and the peak frame (energy + first
    argmax index) — the silence-trimming / clip-selection statistics
    an audio curation pipeline computes before transcription. The
    Spark side is the production mapInPandas shape: Arrow batches in,
    one vectorized numpy reduceat per payload, per-doc rows out —
    the decode itself is the repo's documented deterministic stub
    (payload bytes as unsigned-8-bit PCM), so a real soundfile decode
    drops in without touching the plumbing, and the modality filter
    prunes the scan to the audio third before any Python is reached.
    All-integer emissions; energies are exact (bytes are integers, no
    float path at all — unlike real DSP there is no windowing
    multiply to round). Oracle: the same framing recomputed purely in
    SQL from the hex-rendered payload (the q_multimodal_phash /
    q_export_webdataset byte-indexing idiom), nested LIST_TRANSFORMs
    standing in for reduceat."""
    media = media_table(spark, sf_dir).filter(
        F.col("media_type") == "audio/wav"
    )
    return (
        media.select("doc_id", "payload")
        .mapInPandas(audio_energy, schema=_AUDIO_SCHEMA)
        .orderBy("doc_id")
    )


@register(
    "q_multimodal_dedup_bytes",
    oracle="""
    WITH media AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS media_type,
               MD5(text) AS digest,  -- VARCHAR md5 == md5 of its utf-8 bytes
               OCTET_LENGTH(ENCODE(text)) AS payload_len
        FROM documents
    ),
    grp AS (
        SELECT media_type, digest,
               CAST(COUNT(*) AS BIGINT) AS n_copies,
               MIN(doc_id) AS keeper_id,
               CAST(MIN(payload_len) AS BIGINT) AS payload_len
        FROM media GROUP BY 1, 2
    )
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS n_unique,
           CAST(SUM(n_copies) AS BIGINT) AS n_total,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_redundant,
           CAST(SUM((n_copies - 1) * payload_len) AS BIGINT)
               AS bytes_reclaimed
    FROM grp GROUP BY media_type ORDER BY media_type
    """,
)
def q_multimodal_dedup_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT BINARY DEDUP over the opaque media payloads — the
    content-addressed-storage pass every multimodal corpus runs before
    feature extraction: identical bytes (same crawl fetched twice, the
    same image under two doc ids) collapse to one digest group
    regardless of metadata. Digest = md5 over the raw payload BYTES
    (hex-identical in both engines over BLOBs), grouped per media
    type; emits the dedup ledger — unique payloads, total rows,
    redundant copies, and bytes reclaimed by keeping one copy per
    digest. Dataflow: digest is a narrow map over the scan (the
    payload never shuffles — only the 32-char digest does), then two
    chained map-side-combinable aggregations; at 100 TB this is the
    cheapest possible pass over binary columns because the shuffle
    carries digests, not payloads. The fixture corpus contains exact
    duplicate texts (the q_dedup_exact 'dup' family), so groups are
    non-vacuous at sf0.01. Reference analog: none — target-only
    capability."""
    media = media_table(spark, sf_dir)
    grp = (
        media.select(
            "media_type",
            F.md5("payload").alias("digest"),
            F.col("payload_len").cast("long").alias("payload_len"),
            "doc_id",
        )
        .groupBy("media_type", "digest")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_id"),
            F.min("payload_len").alias("payload_len"),
        )
    )
    return (
        grp.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
            F.sum("n_copies").alias("n_total"),
            F.sum(F.col("n_copies") - 1).alias("n_redundant"),
            F.sum(
                (F.col("n_copies") - 1) * F.col("payload_len")
            ).alias("bytes_reclaimed"),
        )
        .orderBy("media_type")
    )


_VIDEO_FRAME = 16
_SCENE_TAU = 500

_SCENE_SCHEMA = (
    "doc_id long, n_frames long, n_cuts long, max_delta long, "
    "first_cut_idx long"
)


def scene_cuts(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker for the video path: payload bytes as a
    sequence of 16-byte 'frames' (the deterministic decode stub), with
    the frame-to-frame L1 delta driving a threshold scene-cut detector
    — the vectorized numpy shape a real frame decoder (pyav) would
    slot into."""
    import numpy as np

    for pdf in batches:
        out = {k: [] for k in (
            "doc_id", "n_frames", "n_cuts", "max_delta", "first_cut_idx",
        )}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            b = np.frombuffer(payload, dtype="uint8").astype("int64")
            nf = b.size // _VIDEO_FRAME
            if nf < 2:
                continue
            fr = b[: nf * _VIDEO_FRAME].reshape(nf, _VIDEO_FRAME)
            d = np.abs(np.diff(fr, axis=0)).sum(axis=1)
            cuts = d > _SCENE_TAU
            out["doc_id"].append(doc_id)
            out["n_frames"].append(nf)
            out["n_cuts"].append(int(cuts.sum()))
            out["max_delta"].append(int(d.max()))
            out["first_cut_idx"].append(
                int(np.argmax(cuts)) if cuts.any() else -1
            )
        yield pd.DataFrame(out)


@register(
    "q_multimodal_scenecut",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, HEX(ENCODE(text)) AS hx,
               OCTET_LENGTH(ENCODE(text)) // {_VIDEO_FRAME} AS nf
        FROM documents WHERE doc_id % 3 = 2
    ),
    d AS (
        SELECT doc_id, nf,
               LIST_TRANSFORM(RANGE(0, nf - 1), j ->
                 LIST_SUM(LIST_TRANSFORM(RANGE(0, {_VIDEO_FRAME}), i ->
                   ABS(CAST('0x' || SUBSTRING(hx,
                         CAST((j * {_VIDEO_FRAME} + i) * 2 + 1 AS INTEGER),
                         2) AS BIGINT)
                     - CAST('0x' || SUBSTRING(hx,
                         CAST(((j + 1) * {_VIDEO_FRAME} + i) * 2 + 1
                              AS INTEGER), 2) AS BIGINT))))) AS deltas
        FROM b WHERE nf >= 2
    )
    SELECT doc_id,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(len(LIST_FILTER(deltas, x -> x > {_SCENE_TAU}))
               AS BIGINT) AS n_cuts,
           CAST(LIST_MAX(deltas) AS BIGINT) AS max_delta,
           CAST(COALESCE(LIST_POSITION(
               LIST_TRANSFORM(deltas, x -> x > {_SCENE_TAU}), TRUE) - 1,
               -1) AS BIGINT) AS first_cut_idx
    FROM d ORDER BY doc_id
    """,
)
def q_multimodal_scenecut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO SCENE-CUT DETECTION over the media table's video payloads
    — the per-modality specialty op for the video third (image =
    resize/phash, audio = frame energy, video = THIS): payload bytes
    frame at a 16-byte stride, the frame-to-frame L1 delta is an exact
    integer, and deltas above tau=500 mark shot boundaries — the
    frame-sampling prior every video curation pipeline computes (cut
    density decides which clips are worth decoding at full rate).
    Spark side is the production mapInPandas shape: modality filter
    prunes to the video third BEFORE Python, Arrow batches in, one
    vectorized np.diff per payload, five integer stats out (frame
    count, cut count, max delta, first cut index; -1 sentinel when no
    cut). The byte-frame interpretation is the documented decode stub;
    a real pyav frame iterator drops into scene_cuts without touching
    the plumbing. Oracle: identical framing recomputed in pure SQL
    from the hex-rendered payload (nested LIST_TRANSFORM byte
    indexing, the audio-energy idiom). All-integer emissions."""
    media = media_table(spark, sf_dir).filter(
        F.col("media_type") == "video/mp4"
    )
    return (
        media.select("doc_id", "payload")
        .mapInPandas(scene_cuts, schema=_SCENE_SCHEMA)
        .orderBy("doc_id")
    )


@register(
    "q_multimodal_payload_entropy",
    oracle="""
    WITH media AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mp4' END AS media_type,
               LOWER(HEX(ENCODE(text))) AS hx
        FROM documents
    ),
    bytes_ AS (
        SELECT media_type, UNNEST(REGEXP_EXTRACT_ALL(hx, '..')) AS b
        FROM media
    ),
    cnt AS (
        SELECT media_type, b, CAST(COUNT(*) AS BIGINT) AS c
        FROM bytes_ GROUP BY 1, 2
    ),
    tot AS (
        SELECT media_type, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS distinct_bytes
        FROM cnt GROUP BY 1
    ),
    terms AS (
        SELECT c.media_type,
               CAST(SUM(c.c * CAST(ROUND(1000000.0 *
                    LN(CAST(c.c AS DOUBLE))) AS BIGINT)) AS BIGINT)
                   AS clnc_micro
        FROM cnt c GROUP BY 1
    )
    SELECT t.media_type, t.n AS n_bytes, t.distinct_bytes,
           CAST(CAST(ROUND(1000000.0 * LN(CAST(t.n AS DOUBLE)))
                AS BIGINT) - x.clnc_micro // t.n AS BIGINT)
               AS entropy_micro_nats
    FROM tot t JOIN terms x ON t.media_type = x.media_type
    ORDER BY t.media_type
    """,
)
def q_multimodal_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-LEVEL SHANNON ENTROPY of binary payloads per media type —
    the corruption / encryption / wrong-codec smoke test a media
    ingestion pipeline runs on opaque blobs (plain text runs ~4.2 nats,
    compressed/encrypted payloads approach ln 256 ~ 5.55, constant
    padding collapses toward 0). The byte histogram is computed
    RELATIONALLY with zero UDFs: hex-render the payload (the
    byte-indexing idiom of the multimodal oracles), split into 2-char
    byte labels with one regexp_extract_all, and hash-aggregate —
    the fan-out is bytes, but the aggregate is map-side-combinable and
    the state is <= 256 rows per type. H = ln N - (Σ c·ln c)/N uses the
    HOUSE LOG-TERM RULE: each ln is micro-rounded once, then the
    weighted sum and the final division are exact integers. Lowercased
    hex on both engines (case conventions differ for blob rendering).
    Reference analog: none — target-only capability."""
    media = media_table(spark, sf_dir).select(
        "media_type", F.lower(F.hex(F.col("payload"))).alias("hx")
    )
    bytes_ = media.select(
        "media_type",
        F.explode(F.regexp_extract_all("hx", F.lit(".."), 0)).alias("b"),
    )
    cnt = bytes_.groupBy("media_type", "b").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.groupBy("media_type").agg(
        F.sum("c").alias("n_bytes"),
        F.count(F.lit(1)).alias("distinct_bytes"),
    )
    term = F.round(
        F.lit(1000000.0) * F.log(F.col("c").cast("double"))
    ).cast("long")
    terms = cnt.groupBy("media_type").agg(
        F.sum(F.col("c") * term).alias("clnc_micro")
    )
    ln_n = F.round(
        F.lit(1000000.0) * F.log(F.col("n_bytes").cast("double"))
    ).cast("long")
    return (
        tot.join(terms, "media_type")
        .select(
            "media_type",
            "n_bytes",
            "distinct_bytes",
            (ln_n - F.expr("clnc_micro DIV n_bytes")).alias(
                "entropy_micro_nats"
            ),
        )
        .orderBy("media_type")
    )


def decode_image(payload: bytes) -> tuple[int, int, bytes]:
    """REAL image decode (VERDICT r10 item 4 — the last
    declared-but-stubbed tier made real): payload → (width, height,
    raw RGB bytes).

    Pillow decodes when importable (any format it knows); in this
    container — which ships no media libraries — the pure-stdlib PNG
    codec (png_codec.py) does the real chunk-walk + inflate +
    unfilter work for baseline 8-bit RGB PNGs. Either path performs
    genuine decoding of genuine image bytes; `decode_image_stub`
    remains the honest NotImplementedError for formats neither path
    covers (JPEG/audio/video without their libraries).
    """
    try:
        import io

        from PIL import Image  # type: ignore[import-not-found]

        im = Image.open(io.BytesIO(payload)).convert("RGB")
        return im.width, im.height, im.tobytes()
    except ImportError:
        from .png_codec import decode_png

        return decode_png(payload)


def _doc_png_dims(doc_id: int) -> tuple[int, int]:
    # small deterministic per-doc dimensions; mirrored closed-form in
    # the q_multimodal_decode_real oracle
    return 8 + doc_id % 5, 8 + doc_id % 3


def _doc_png_rgb(doc_id: int, width: int, height: int) -> bytes:
    # pixel channels as fixed mod-256 lattices of (doc_id, x, y): the
    # decoded statistics are closed-form functions of doc_id, which is
    # what lets DuckDB state the expected output without any imaging
    # code. Row-0 red is (doc_id*31 + 7x) mod 256 — the value the
    # oracle sums.
    out = bytearray(width * height * 3)
    i = 0
    for y in range(height):
        for x in range(width):
            out[i] = (doc_id * 31 + x * 7 + y * 13) % 256
            out[i + 1] = (doc_id + x + y) % 256
            out[i + 2] = (x * y) % 256
            i += 3
    return bytes(out)


def encode_doc_pngs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker, stage 1: synthesize a REAL PNG per document
    (deterministic pixels from doc_id). Executor-side CPU work over
    Arrow batches — the encode analog of the decode stage below."""
    from .png_codec import encode_png

    for pdf in batches:
        payloads = []
        for doc_id in pdf["doc_id"]:
            w, h = _doc_png_dims(int(doc_id))
            payloads.append(encode_png(w, h, _doc_png_rgb(int(doc_id), w, h)))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


DECODE_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_px", T.LongType(), True),
        T.StructField("row0_red_sum", T.LongType(), True),
    ]
)


def decode_png_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker, stage 2: REAL decode of the binary payload
    column (signature check, IHDR parse, inflate, unfilter) → integer
    per-image statistics (hash-safe output class)."""
    for pdf in batches:
        rows = {"doc_id": [], "width": [], "height": [], "n_px": [],
                "row0_red_sum": []}
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            w, h, rgb = decode_image(bytes(payload))
            rows["doc_id"].append(int(doc_id))
            rows["width"].append(w)
            rows["height"].append(h)
            rows["n_px"].append(w * h)
            rows["row0_red_sum"].append(sum(rgb[0 : w * 3 : 3]))
        yield pd.DataFrame(rows)


@register(
    "q_multimodal_decode_real",
    oracle="""
    SELECT d.doc_id,
           CAST(8 + d.doc_id % 5 AS INTEGER) AS width,
           CAST(8 + d.doc_id % 3 AS INTEGER) AS height,
           CAST((8 + d.doc_id % 5) * (8 + d.doc_id % 3) AS BIGINT) AS n_px,
           CAST(SUM((d.doc_id * 31 + x.x * 7) % 256) AS BIGINT)
               AS row0_red_sum
    FROM documents d
    JOIN RANGE(0, 12) x(x) ON x.x < 8 + d.doc_id % 5
    WHERE d.doc_id % 20 = 0
    GROUP BY d.doc_id
    """,
)
def q_multimodal_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode round trip: every 20th document gets a
    synthesized genuine PNG (stage 1, `encode_doc_pngs`), which stage 2
    (`decode_png_stats`) then actually decodes — signature check, IHDR
    parse, DEFLATE inflate, scanline unfilter — into integer image
    statistics. The oracle states the same statistics closed-form from
    doc_id (pixels are a fixed mod-256 lattice), so a decoder that
    misparses dimensions, filters, or channel order hash-fails.

    100 TB posture: both stages are Arrow-batched mapInPandas over
    narrow columns — encode ships only doc_id, decode ships
    (doc_id, payload); partitioning is inherited from the scan and
    both stages are embarrassingly parallel with zero shuffles (the
    oracle-side sort is the driver compare's, not the plan's). With
    Pillow installed the decode path upgrades itself (import guard in
    `decode_image`) without any plan change."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 20 == 0)
        .select("doc_id")
    )
    pngs = d.mapInPandas(
        encode_doc_pngs,
        schema=T.StructType(
            [
                T.StructField("doc_id", T.LongType(), False),
                T.StructField("payload", T.BinaryType(), True),
            ]
        ),
    )
    return pngs.mapInPandas(decode_png_stats, schema=DECODE_REAL_SCHEMA)
