"""L4 multimodal columns: opaque binary payloads + typed metadata,
decode / feature-extract as Arrow-batched Pandas UDFs over mapInPandas.

There is no real image/audio/video test data (and no codec libs in the
container), so the payload is the document text encoded as bytes and
the "decode" is a clearly-marked deterministic fake — but the
Spark-side plumbing is real: binary columns, explicit output schema,
mapInPandas batch iteration, and partition-preserving map-only plans.
A production decode swaps `_fake_decode` for a real codec (see
`decode_binary` below, which raises NotImplementedError).

Scale: all map-only — binary payloads never shuffle; feature rows are
a tiny projection of the input partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from open_pulsar_spark.materialize import pin
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table

KINDS = ("image", "audio", "video")


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, kind, payload: binary, n_bytes).

    Models the multimodal data layout: one opaque binary column plus
    typed metadata columns; kind assigned deterministically.
    """
    return docs.select(
        "doc_id",
        F.element_at(F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")).alias("kind"),
        F.col("text").cast("binary").alias("payload"),
        F.octet_length(F.col("text").cast("binary")).alias("n_bytes"),
    )


def decode_binary(payload: bytes, kind: str) -> dict:
    """Real decode hook. When Pillow is importable, image payloads are
    decoded for real ((width, height, 1 frame)); audio/video and
    PIL-less environments raise NotImplementedError — production
    deployments plug their codecs in here, tests use `_fake_decode`
    (deterministic) instead.
    """
    if kind == "image":
        try:
            import io

            from PIL import Image
        except ImportError:
            pass
        else:
            # decode errors (corrupt/truncated payloads) propagate as
            # PIL's own exceptions — a failed decode of a present codec
            # is data trouble, not a missing-codec condition
            with Image.open(io.BytesIO(payload)) as img:
                return {
                    "width": img.width,
                    "height": img.height,
                    # animated formats expose n_frames; stills default 1
                    "n_frames": getattr(img, "n_frames", 1),
                }
    raise NotImplementedError(
        "binary decode requires codec libraries not present in this environment; "
        "use _fake_decode (deterministic) for tests"
    )


def _fake_decode(n_bytes: int, kind: str) -> tuple[int, int, int]:
    """Deterministic fake decode: (width, height, n_frames) derived
    purely from payload size so tests and the SQL oracle agree."""
    if kind == "image":
        return (n_bytes % 640 + 16, n_bytes * 7 % 480 + 16, 1)
    if kind == "audio":
        return (0, 0, n_bytes % 10000)  # n_frames ≙ samples
    return (n_bytes % 640 + 16, n_bytes * 7 % 480 + 16, n_bytes % 300 + 1)


FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
    ]
)


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    The batch shape is the real contract: each pandas batch carries the
    binary column through Arrow; a production decoder would call into
    a codec per batch. Deterministic fake keeps it testable.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len).astype("int64")
            feats = [
                _fake_decode(nb, k) for nb, k in zip(n, pdf["kind"], strict=True)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "n_bytes": n,
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                }
            )

    # NOT widened: callers pass mid-pipeline frames (decode chains), and
    # a widen there forces AQE to materialize the upstream stages just
    # to count partitions — measured 1.4s → 4.7s+ at sf0.1. Widening is
    # for scan-level inputs of heavy kernels only (see dedup.py).
    return df.mapInPandas(fn, FEATURE_SCHEMA)


# --------------------------------------------------------------------------
# multimodal_binary_meta — binary column + fingerprint metadata.
# --------------------------------------------------------------------------
@query(
    "multimodal_binary_meta",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           octet_length(encode(text)) AS n_bytes,
           sha256(text)               AS payload_sha256
    FROM documents
    ORDER BY doc_id
    """,
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary metadata: size + SHA-256 content fingerprint —
    the dedup/integrity key for multimodal corpora (the reference's
    hash-integrity idea, agent-loop.sh:250-251, applied to blobs)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
        ).alias("kind"),
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("payload_sha256"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# multimodal_features — mapInPandas decode-stub feature extraction.
# --------------------------------------------------------------------------
@query(
    "multimodal_features",
    oracle="""
    WITH b AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               octet_length(encode(text)) AS n_bytes
        FROM documents)
    SELECT doc_id, kind, n_bytes,
           CASE kind WHEN 'audio' THEN 0 ELSE n_bytes % 640 + 16 END     AS width,
           CASE kind WHEN 'audio' THEN 0 ELSE n_bytes * 7 % 480 + 16 END AS height,
           CASE kind WHEN 'image' THEN 1
                     WHEN 'audio' THEN n_bytes % 10000
                     ELSE n_bytes % 300 + 1 END                          AS n_frames
    FROM b
    ORDER BY doc_id
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction through the real mapInPandas/Arrow path with
    the deterministic fake decoder — schema, batch shape, and
    partitioning are exactly what a real codec-backed decoder uses."""
    docs = load_table(spark, sf_dir, "documents")
    return extract_features(with_binary_payload(docs)).orderBy("doc_id")


# --------------------------------------------------------------------------
# multimodal_frame_plan — uniform frame/sample selection plan.
# --------------------------------------------------------------------------
FRAME_SAMPLES = 8


@query(
    "multimodal_frame_plan",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               octet_length(encode(text)) AS n_bytes
        FROM documents),
    f AS (SELECT doc_id, kind,
                 CASE kind WHEN 'image' THEN 1
                           WHEN 'audio' THEN n_bytes % 10000
                           ELSE n_bytes % 300 + 1 END AS n_frames
          FROM b),
    s AS (SELECT doc_id, kind, n_frames,
                 least({FRAME_SAMPLES}, n_frames) AS k
          FROM f WHERE n_frames >= 1)
    SELECT doc_id, kind, n_frames, u.i AS sample_slot,
           (u.i * n_frames) // k AS frame_idx
    FROM s CROSS JOIN unnest(range(0, k)) AS u(i)
    ORDER BY doc_id, sample_slot
    """,
)
def multimodal_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform frame-sampling plan: for each media row pick up to 8
    evenly-spaced frame indexes (floor(i·n/k)) — the deterministic
    'which frames does the vision encoder see' operator. The plan is
    pure arithmetic (map-only + a bounded explode ≤ 8×), so the
    expensive decode step downstream touches exactly the planned
    frames; at 100 TB the explode factor — not the codec — is the only
    data-volume multiplier, and it is capped by construction.

    Reference parity: the reference truncates/bounds its payloads
    (telegram-agent.py:200-201 chunk limits); this is the multimodal
    analogue — bounded extraction from unbounded media.
    """
    docs = load_table(spark, sf_dir, "documents")
    feats = extract_features(with_binary_payload(docs))
    s = feats.where(F.col("n_frames") >= 1).select(
        "doc_id",
        "kind",
        "n_frames",
        F.least(F.lit(FRAME_SAMPLES), F.col("n_frames")).alias("k"),
    )
    return (
        s.select(
            "doc_id",
            "kind",
            "n_frames",
            F.explode(F.sequence(F.lit(0), F.col("k") - 1)).alias("sample_slot"),
            "k",
        )
        .select(
            "doc_id",
            "kind",
            "n_frames",
            "sample_slot",
            F.expr("(sample_slot * n_frames) div k").alias("frame_idx"),
        )
        .orderBy("doc_id", "sample_slot")
    )


# --------------------------------------------------------------------------
# multimodal_resize_specs — aspect-preserving resize plan (Pandas-UDF stage).
# --------------------------------------------------------------------------
RESIZE_TARGET = 224


def resize_specs(df: DataFrame, target: int = RESIZE_TARGET) -> DataFrame:
    """mapInPandas resize stage over decoded visual payloads: scale each
    (width, height) to fit `target` on the long side, preserving aspect
    ratio, with integer round-half-up so Spark and the oracle agree.

    The plumbing is the production contract (Arrow batches in, resized
    dims + output byte estimate out); a real implementation replaces
    the arithmetic with a codec resize over `payload` in the same
    batch loop. Audio rows (no spatial dims) are passed through with
    zero dims upstream and must be filtered by the caller.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            w = pdf["width"].astype("int64")
            h = pdf["height"].astype("int64")
            m = pd.concat([w, h], axis=1).max(axis=1)
            out_w = (2 * target * w + m) // (2 * m)
            out_h = (2 * target * h + m) // (2 * m)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "kind": pdf["kind"],
                    "width": w,
                    "height": h,
                    "out_w": out_w.astype("int64"),
                    "out_h": out_h.astype("int64"),
                    "out_bytes": (out_w * out_h * 3 * pdf["n_frames"]).astype("int64"),
                }
            )

    schema = (
        "doc_id LONG, kind STRING, width LONG, height LONG, "
        "out_w LONG, out_h LONG, out_bytes LONG"
    )
    return df.mapInPandas(fn, schema)


@query(
    "multimodal_resize_specs",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               octet_length(encode(text)) AS n_bytes
        FROM documents),
    f AS (SELECT doc_id, kind,
                 n_bytes % 640 + 16     AS width,
                 n_bytes * 7 % 480 + 16 AS height,
                 CASE kind WHEN 'image' THEN 1 ELSE n_bytes % 300 + 1 END AS n_frames
          FROM b WHERE kind <> 'audio'),
    m AS (SELECT *, greatest(width, height) AS mx FROM f)
    SELECT doc_id, kind, width, height,
           ((2 * {RESIZE_TARGET} * width + mx) // (2 * mx))::BIGINT  AS out_w,
           ((2 * {RESIZE_TARGET} * height + mx) // (2 * mx))::BIGINT AS out_h,
           (((2 * {RESIZE_TARGET} * width + mx) // (2 * mx))
            * ((2 * {RESIZE_TARGET} * height + mx) // (2 * mx))
            * 3 * n_frames)::BIGINT                                  AS out_bytes
    FROM m
    ORDER BY doc_id
    """,
)
def multimodal_resize_specs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plan for every visual payload: fit the long side to 224
    preserving aspect (integer round-half-up — identical in both
    engines), and estimate the decoded output volume (w·h·3·frames) —
    the number a preprocessing pipeline uses to budget shuffle and
    storage before running the actual codec. Map-only; the resize
    itself is the Pandas-UDF stage `resize_specs`, whose Arrow batch
    loop is where a real codec call lands."""
    docs = load_table(spark, sf_dir, "documents")
    visual = extract_features(with_binary_payload(docs)).where(
        F.col("kind") != "audio"
    )
    return resize_specs(visual).orderBy("doc_id")


# --------------------------------------------------------------------------
# multimodal_chunk_dedup — chunk-level storage dedup over binary payloads.
# --------------------------------------------------------------------------
CHUNK_BYTES = 256


def chunk_counts(docs: DataFrame) -> DataFrame:
    """(kind, h, cnt, blen): per-(kind, chunk-hash) occurrence counts
    over the fixed-offset CHUNK_BYTES-byte chunking of the binary
    payloads. The shared producer behind the batch query AND the
    streaming chunk-store partials (streaming/chunk_stream.py) — the
    counts are ADDITIVE over disjoint doc batches (sum cnt, max blen),
    which is what makes the store's fold equal the batch aggregate."""
    p = with_binary_payload(docs).where(F.col("n_bytes") > 0)
    chunks = p.select(
        "kind",
        F.explode(
            F.sequence(
                F.lit(0),
                (F.ceil(F.col("n_bytes") / F.lit(float(CHUNK_BYTES)))).cast("long")
                - 1,
            )
        ).alias("i"),
        "payload",
    ).select(
        "kind",
        F.expr(f"substring(payload, i * {CHUNK_BYTES} + 1, {CHUNK_BYTES})").alias(
            "chunk"
        ),
    )
    return chunks.groupBy("kind", F.xxhash64("chunk").alias("h")).agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.max(F.octet_length("chunk")).alias("blen"),
    )


def chunk_stats(d: DataFrame) -> DataFrame:
    """Per-kind dedup statistics over a (kind, h, cnt, blen) frame —
    shared by the batch query and the store's serve-time fold so the
    two cannot drift."""
    return d.groupBy("kind").agg(
        F.sum("cnt").cast("bigint").alias("n_chunks"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("cnt") * F.col("blen")).cast("bigint").alias("bytes_total"),
        F.sum("blen").cast("bigint").alias("bytes_distinct"),
        F.round(
            F.lit(1.0) - F.sum("blen") / F.sum(F.col("cnt") * F.col("blen")), 6
        ).alias("dedup_ratio"),
    )



@query(
    "multimodal_chunk_dedup",
    oracle=f"""
    WITH p AS (
        SELECT doc_id,
               CASE ((doc_id % 3) + 1) WHEN 1 THEN 'image'
                    WHEN 2 THEN 'audio' ELSE 'video' END AS kind,
               text AS payload, length(text) AS n_bytes
        FROM documents WHERE length(text) > 0),
    chunks AS (
        SELECT kind,
               md5(substring(payload, g.i * {CHUNK_BYTES} + 1, {CHUNK_BYTES})) AS h,
               length(substring(payload, g.i * {CHUNK_BYTES} + 1, {CHUNK_BYTES})) AS blen
        FROM p CROSS JOIN LATERAL (
            SELECT unnest(generate_series(
                0, CAST(ceil(n_bytes / {CHUNK_BYTES}.0) AS BIGINT) - 1)) AS i) g),
    d AS (SELECT kind, h, count(*) AS cnt, max(blen) AS blen
          FROM chunks GROUP BY kind, h)
    SELECT kind,
           sum(cnt)::BIGINT                                   AS n_chunks,
           count(*)                                           AS n_distinct,
           sum(cnt * blen)::BIGINT                            AS bytes_total,
           sum(blen)::BIGINT                                  AS bytes_distinct,
           round(1.0 - sum(blen) * 1.0 / sum(cnt * blen), 6)  AS dedup_ratio
    FROM d GROUP BY kind ORDER BY kind
    """,
)
def multimodal_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level storage dedup over the binary payloads — the
    content-addressable-store question (how much of the media corpus
    is byte-identical at {CHUNK_BYTES}-byte granularity?) that decides
    whether a blob store should chunk-dedup before training-data
    snapshots. Fixed-offset chunking catches aligned duplicates
    (re-uploads, container-level copies); a production pass upgrades
    the chunker to content-defined boundaries (FastCDC) inside the
    same plan — only the chunk-boundary expression changes.

    Scale: one binary-slice explode (map-only, ~n_bytes/{CHUNK_BYTES}
    rows per payload) then ONE shuffle on (kind, xxhash64(chunk)) —
    8-byte keys; the chunk bytes never reach the exchange (the oracle
    groups by md5 of the same bytes — any 64-bit-collision would be a
    grouping difference, measure-zero as with the text-side hash
    keys). The per-kind rollup is a 3-row second-level aggregate on
    the combiner path.

    The ASCII-payload contract (n_bytes == char length, asserted by
    the driver data) is what lets the oracle chunk the VARCHAR while
    Spark chunks the real binary column.
    """
    docs = load_table(spark, sf_dir, "documents")
    return chunk_stats(chunk_counts(docs)).orderBy("kind")


# --------------------------------------------------------------------------
# multimodal_payload_entropy — byte-level Shannon entropy per payload
# (the corrupt/mislabeled-binary detector: real compressed media sits
# near 8 bits/byte; text-as-bytes sits near 4-5; a "video" payload at
# text entropy is a labeling bug).
# --------------------------------------------------------------------------
@query(
    "multimodal_payload_entropy",
    oracle="""
    WITH p AS (
        SELECT doc_id,
               CASE ((doc_id % 3) + 1)
                    WHEN 1 THEN 'image' WHEN 2 THEN 'audio'
                    ELSE 'video' END AS kind,
               hex(encode(text)) AS hx,
               octet_length(encode(text))::BIGINT AS n_bytes
        FROM documents
        WHERE octet_length(encode(text)) > 0),
    by_byte AS (
        SELECT doc_id, kind, n_bytes,
               substr(hx, 2 * u.i + 1, 2) AS b
        FROM p CROSS JOIN unnest(range(0, n_bytes)) AS u(i)),
    cnt AS (
        SELECT doc_id, kind, n_bytes, b, count(*)::BIGINT AS c
        FROM by_byte GROUP BY doc_id, kind, n_bytes, b),
    ent AS (
        SELECT doc_id, kind, n_bytes,
               ((floor(ln(n_bytes) * 1000000000 + 0.5)::HUGEINT * n_bytes
                 - sum(floor(c * ln(c) * 1000000000 + 0.5)::HUGEINT))
                // n_bytes)::BIGINT AS h_nano
        FROM cnt GROUP BY doc_id, kind, n_bytes)
    SELECT kind, count(*)::BIGINT AS n_payloads,
           sum(n_bytes)::BIGINT AS total_bytes,
           min(h_nano)::BIGINT AS min_h_nano,
           max(h_nano)::BIGINT AS max_h_nano,
           (sum(h_nano::HUGEINT) // count(*))::BIGINT AS mean_h_nano
    FROM ent
    GROUP BY kind
    ORDER BY kind
    """,
)
def multimodal_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-kind byte-entropy profile of the binary payloads — REAL
    binary analytics over the multimodal column (no decode library
    needed): each payload's byte histogram yields Shannon entropy
    H = ln n − (Σ c·ln c)/n in nano-nats. The reading: properly
    compressed media ≈ ln 256 ≈ 5.545 nats/byte; text-as-bytes sits
    far lower — so a 'video' payload at text entropy is mislabeled or
    uncompressed, and near-zero entropy is a stuck/corrupt payload.
    This is the triage an ingest pipeline runs BEFORE paying for
    decode (the decode stub stays PIL-gated; entropy needs no codec).

    Determinism: byte COUNTS are exact integers wherever they are
    counted — the Arrow kernel's np.bincount over the payload bytes
    equals the oracle's hex-pair count by definition of the bytes —
    and the float boundary stays where it always was: each c·ln c
    term and the ln n term land on a nano integer grid via
    floor(x·10⁹ + 0.5) (≡ round-half-away for positive x) IN SPARK
    SQL over the count frame, so the ≤256-term per-doc sum and the
    per-kind means are exact integer arithmetic — order-independent
    and engine-identical. (The r7 form exploded one row per byte and
    counted in the engine; counts are floats nowhere in either form,
    so the swap is exactness-preserving by construction.)

    Scale: ONE Arrow pass emits each payload's FINAL ≤256 (byte,
    count) rows map-side (np.frombuffer + bincount — no per-byte
    rows ever exist, no hex string per byte, and the only shuffle is
    the per-doc closing aggregate, ≤256 rows/payload). Measured at
    sf0.1: cold min 3.57 → 0.92 s vs the hex-pair explode. At
    100 TB, sample payloads or sketch the histogram per partition;
    the plan shape (scan → kernel → one aggregate) is unchanged."""
    import numpy as np

    docs = load_table(spark, sf_dir, "documents")
    p = (
        with_binary_payload(docs)
        .where(F.col("n_bytes") > 0)
        .select("doc_id", "kind", "payload")
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_doc, out_kind, out_n, out_c = [], [], [], []
            for doc_id, kind, payload in zip(
                pdf["doc_id"], pdf["kind"], pdf["payload"]
            ):
                b = np.frombuffer(payload, dtype=np.uint8)
                if b.size == 0:
                    continue
                c = np.bincount(b, minlength=256)
                c = c[c > 0]
                out_doc.append(np.full(c.size, doc_id, dtype=np.int64))
                out_kind.extend([kind] * c.size)
                out_n.append(np.full(c.size, b.size, dtype=np.int64))
                out_c.append(c.astype(np.int64))
            if out_doc:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(out_doc),
                        "kind": out_kind,
                        "n_bytes": np.concatenate(out_n),
                        "c": np.concatenate(out_c),
                    }
                )

    cnt = p.mapInPandas(
        fn, "doc_id LONG, kind STRING, n_bytes LONG, c LONG"
    )
    ent = cnt.groupBy("doc_id", "kind", "n_bytes").agg(
        F.expr(
            "cast((cast(floor(ln(n_bytes) * 1000000000 + 0.5d)"
            "       as decimal(38,0)) * n_bytes"
            "  - sum(cast(floor(c * ln(c) * 1000000000 + 0.5d)"
            "        as decimal(38,0))))"
            " div n_bytes as bigint)"
        ).alias("h_nano")
    )
    return (
        ent.groupBy("kind")
        .agg(
            F.count("*").cast("bigint").alias("n_payloads"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.min("h_nano").cast("bigint").alias("min_h_nano"),
            F.max("h_nano").cast("bigint").alias("max_h_nano"),
            F.expr(
                "cast(sum(cast(h_nano as decimal(38,0))) div count(*)"
                " as bigint)"
            ).alias("mean_h_nano"),
        )
        .orderBy("kind")
    )


# --------------------------------------------------------------------------
# multimodal_magic_type_audit — content-sniffing vs declared kind (the
# mislabeled/corrupt screen BEFORE paying for decode).
# --------------------------------------------------------------------------
# (hex-prefix, detected type) magic signatures — public file-format
# knowledge. Sniffing falls back to a printable-byte heuristic over the
# first SNIFF_BYTES bytes: ≥95% printable ⇒ 'text', else 'binary'.
MAGIC_SIGS = (
    ("89504E47", "png"),
    ("FFD8FF", "jpeg"),
    ("47494638", "gif"),
    ("52494646", "riff"),
)
SNIFF_BYTES = 64


def _sniff_sql(hexcol: str) -> str:
    """Shared detection CASE over an UPPERCASE hex string column —
    identical text on both engines (hex pairs compare lexically ==
    numerically at fixed width; printable = 0x20–0x7E + TAB/LF/CR)."""
    magic = " ".join(
        f"WHEN {hexcol} LIKE '{sig}%' THEN '{kind}'"
        for sig, kind in MAGIC_SIGS
    )
    return f"""CASE {magic} ELSE
        CASE WHEN printable_n * 100 >= checked_n * 95 THEN 'text'
             ELSE 'binary' END END"""


@query(
    "multimodal_magic_type_audit",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                    ELSE 'video' END AS kind,
               upper(hex(encode(text))) AS hx
        FROM documents),
    pairs AS (
        SELECT doc_id, kind, hx,
               substr(hx, 2 * i - 1, 2) AS pr
        FROM b CROSS JOIN (SELECT unnest(generate_series(1, {SNIFF_BYTES}))
                           AS i)
        WHERE 2 * i - 1 <= length(hx)),
    sniff AS (
        SELECT doc_id, kind, max(hx) AS hx,
               count(*)::BIGINT AS checked_n,
               sum(CASE WHEN (pr >= '20' AND pr <= '7E')
                          OR pr IN ('09', '0A', '0D')
                        THEN 1 ELSE 0 END)::BIGINT AS printable_n
        FROM pairs GROUP BY doc_id, kind),
    det AS (
        SELECT kind, {_sniff_sql("hx")} AS detected FROM sniff),
    kt AS (SELECT kind, count(*)::BIGINT AS kind_total
           FROM det GROUP BY kind)
    SELECT d.kind, d.detected, count(*)::BIGINT AS n_docs,
           (count(*) * 1000000 // max(kt.kind_total))::BIGINT AS share_ppm,
           (CASE WHEN d.detected = d.kind THEN 0 ELSE 1 END)::INT
               AS is_mismatch
    FROM det d JOIN kt ON kt.kind = d.kind
    GROUP BY d.kind, d.detected
    ORDER BY d.kind, d.detected
    """,
)
def multimodal_magic_type_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CONTENT SNIFFING vs declared modality — the mislabeled-payload
    screen that runs BEFORE any decoder is paid for: magic-byte
    signatures ({", ".join(k for _, k in MAGIC_SIGS)}) on the payload
    prefix, with a printable-byte heuristic over the first
    {SNIFF_BYTES} bytes as the text/binary fallback. On THIS corpus
    every payload is synthesized from text, so the audit correctly
    reports 100% kind↔detected mismatch — which is the point: rows
    declared 'image' that sniff as 'text' are exactly what this
    screen exists to catch (the multimodal twin of doc_lang_id's
    confusion audit, upstream of multimodal_features' decode stub).

    Determinism: detection is string prefix matches and integer
    counts over UPPERCASE hex pairs (lexical == numeric order at
    fixed width); shares are trunc-div ppm.

    Scale: the sniff explodes only {SNIFF_BYTES} pairs per payload
    (bounded — NOT the full-payload entropy explode); grouping is
    map-combinable; output is the |kinds|×|detected| matrix."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    b = docs.select(
        "doc_id",
        F.element_at(
            F.array(*[F.lit(k) for k in KINDS]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.upper(F.hex(payload)).alias("hx"),
    )
    pairs = b.select(
        "doc_id",
        "kind",
        "hx",
        F.explode(
            F.expr(f"sequence(1, {SNIFF_BYTES})")
        ).alias("i"),
    ).where(F.expr("2 * i - 1 <= length(hx)")).select(
        "doc_id", "kind", "hx", F.expr("substr(hx, 2 * i - 1, 2)").alias("pr")
    )
    sniff = pairs.groupBy("doc_id", "kind").agg(
        F.max("hx").alias("hx"),
        F.count("*").cast("bigint").alias("checked_n"),
        F.sum(
            F.when(
                ((F.col("pr") >= "20") & (F.col("pr") <= "7E"))
                | F.col("pr").isin("09", "0A", "0D"),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("printable_n"),
    )
    det = sniff.select("kind", F.expr(_sniff_sql("hx")).alias("detected"))

    det = pin("magic_det", det, fill=False)
    kt = det.groupBy("kind").agg(
        F.count("*").cast("bigint").alias("kind_total")
    )
    return (
        det.groupBy("kind", "detected")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .join(F.broadcast(kt), "kind")
        .select(
            "kind",
            "detected",
            "n_docs",
            F.expr(
                "cast(n_docs * 1000000 div kind_total as bigint)"
            ).alias("share_ppm"),
            F.expr(
                "cast(CASE WHEN detected = kind THEN 0 ELSE 1 END as int)"
            ).alias("is_mismatch"),
        )
        .orderBy("kind", "detected")
    )
