"""Multimodal column handling (BASELINE north star): image/audio/video
as opaque binary columns + typed metadata, processed via Arrow-batched
mapInPandas.

The container has no image/audio codecs, so the DECODE step is stubbed
(deterministic fake derived from the bytes; the real implementation
slot is marked and unit-tested to raise cleanly). Everything around it
— binary schema, batch iteration, UDF signatures, partitioning — is
real Spark plumbing and oracle-tested where SQL can express it.

Scale: binary payloads stay columnar (Arrow) end to end; mapInPandas
streams batches so one executor never holds a partition of raw media in
Python memory at once. Partition sizing for media tables is bytes-based
(spark.sql.files.maxPartitionBytes), not row-based.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_spark_eks_spark.catalog import load_table, widen
from etl_spark_eks_spark.functions.text import (
    hamming64,
    tokenize,
    with_band_count,
)
from etl_spark_eks_spark.functions.local_relation import values_df
from etl_spark_eks_spark.operators.dedup import band_pairs
from etl_spark_eks_spark.registry import query

DECODED_SCHEMA = (
    "doc_id long, n_bytes long, format string, width int, height int, "
    "n_frames int"
)


def _fake_decode(payload: bytes) -> tuple[str, int, int, int]:
    """Deterministic stand-in for a real media decoder (PIL/ffmpeg not
    available in this environment). Derives fake metadata purely from
    the byte length so the oracle can mirror it in SQL."""
    n = len(payload)
    fmt = ("png", "jpeg", "wav", "mp4")[n % 4]
    width = n % 256
    height = (n // 256) % 256
    n_frames = 1 if fmt in ("png", "jpeg") else n % 16
    return fmt, width, height, n_frames


def decode_media(payload: bytes):  # pragma: no cover - real-codec slot
    """REAL decode slot. Wire PIL/torchaudio/ffmpeg here on a cluster
    with codecs installed; see _fake_decode for the test stand-in."""
    raise NotImplementedError(
        "media codecs not available in this environment; "
        "use _fake_decode-backed operators for plumbing tests"
    )


def extract_media_metadata(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """mapInPandas over binary payloads -> typed metadata rows.

    Arrow batches stream through Python; per-batch vectorized work, no
    per-row py4j calls.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            meta = pdf[binary_col].map(_fake_decode)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": pdf[binary_col].map(len).astype("int64"),
                    "format": meta.map(lambda m: m[0]),
                    "width": meta.map(lambda m: m[1]).astype("int32"),
                    "height": meta.map(lambda m: m[2]).astype("int32"),
                    "n_frames": meta.map(lambda m: m[3]).astype("int32"),
                }
            )

    return df.select(id_col, binary_col).mapInPandas(batches, DECODED_SCHEMA)


@query(
    "q_m1_multimodal_meta",
    oracle="""
    WITH payloads AS (
      SELECT doc_id, encode(text) AS payload FROM documents
    )
    SELECT doc_id,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           CASE octet_length(payload) % 4
             WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
             WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
           CAST(octet_length(payload) % 256 AS INTEGER) AS width,
           CAST((octet_length(payload) // 256) % 256 AS INTEGER) AS height,
           CAST(CASE WHEN octet_length(payload) % 4 IN (0, 1) THEN 1
                     ELSE octet_length(payload) % 16 END AS INTEGER) AS n_frames
    FROM payloads
    """,
)
def q_m1_multimodal_meta(spark, sf_dir):
    """M1 (extension): binary media column -> typed metadata via
    mapInPandas. The fixture has no raw media, so payloads are the
    documents' UTF-8 bytes (schema/plumbing identical to real media);
    the stub decoder's output is mirrored exactly by the SQL oracle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return extract_media_metadata(d, "payload", "doc_id")


def sample_frames(df: DataFrame, binary_col: str, id_col: str, every_n: int = 4):
    """Frame-sampling plumbing: one row per sampled frame index (UDTF
    shape). Uses the stubbed frame count; swap decode_media in for real
    video."""
    meta = extract_media_metadata(df, binary_col, id_col)
    return meta.select(
        "doc_id",
        "format",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_frames") - 1, F.lit(0)),
                F.lit(every_n),
            )
        ).alias("frame_idx"),
    )


@query(
    "q_m2_frame_sample",
    oracle="""
    WITH meta AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             CASE octet_length(encode(text)) % 4
               WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
               WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
             CASE WHEN octet_length(encode(text)) % 4 IN (0, 1) THEN 1
                  ELSE octet_length(encode(text)) % 16 END AS n_frames
      FROM documents
    )
    SELECT doc_id, format,
           CAST(unnest(range(0, greatest(n_frames - 1, 0) + 1, 4)) AS INTEGER)
             AS frame_idx
    FROM meta
    """,
)
def q_m2_frame_sample(spark, sf_dir):
    """M2 (extension): every-4th-frame sampling over the decoded frame
    counts — one row per (doc, frame)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return sample_frames(d, "payload", "doc_id", every_n=4)


@query(
    "q_m3_media_shard_pack",
    oracle="""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
    )
    SELECT doc_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(FLOOR(CAST(SUM(n_bytes) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_bytes AS DOUBLE)
                      / 4096) AS BIGINT) AS shard_id
    FROM p
    """,
)
def q_m3_media_shard_pack(spark, sf_dir):
    """M3 (extension): WebDataset-style shard assembly for multimodal
    payloads — pack binary media rows into ~4 KiB-budget shards in key
    order (shard_id = floor(bytes_before_me / budget)). This is how a
    training pipeline lays raw media out for sequential-read dataloaders:
    size-bounded archive shards, order preserved so (doc, shard)
    assignment is deterministic and resumable.

    Scale: byte sizes come from the Arrow-batched metadata extractor
    (mapInPandas — the payload bytes never leave the executor), and the
    running total is the SAME distributed two-phase prefix sum as the
    token packer (running_total_before, sampling.py): no single-task
    global window, serial work ~ n_rows / bucket_size."""
    from etl_spark_eks_spark.operators.sampling import running_total_before

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    meta = extract_media_metadata(d, "payload", "doc_id").select(
        "doc_id", "n_bytes"
    )
    return running_total_before(meta, "doc_id", "n_bytes").select(
        "doc_id",
        "n_bytes",
        F.floor(F.col("__cum_before").cast("double") / 4096)
        .cast("bigint")
        .alias("shard_id"),
    )


def portable_perceptual_hashes(
    df: DataFrame, binary_col: str, id_col: str
) -> DataFrame:
    """Binary payloads -> 120-bit perceptual hashes (two longs,
    ``phash_hi``/``phash_lo``, 60 bits each).

    The hash here is the pHash CONTRACT, not a real image pHash (no
    codecs in this environment): a majority-vote SimHash over the
    payload's aligned little-endian 4-byte words, where each word's
    120 vote bits come from ONE md5 of its decimal string (hi = hex
    chars 1-15, lo = chars 17-31 — the functions/text.py
    portable-family contract), so the signatures are bit-identical in
    DuckDB (uint64 wraparound arithmetic is not; md5 is). Payloads
    sharing most content get small Hamming distance; unrelated
    payloads land ~60 of 120 bits apart — the two properties the
    downstream banding/verify relies on. On a real cluster, swap the
    word hash for decode + DCT; nothing downstream changes.

    Two measured lessons are baked in:
    - A byte-value HISTOGRAM feature measured 20.5 s at sf0.1: every
      word-soup document shares one byte distribution, hashes
      collapsed into giant band buckets, and the candidate join went
      quadratic — a feature with no between-class separation breaks
      LSH no matter how good the plumbing is.
    - A 64-bit signature with 16-bit bands hit a RANDOM-collision
      cliff in the 10x scale probe (slope 1.3, 0.6 s -> 7.9 s at 50k
      docs): expected accidental pairs grow ~n^2/2^band_bits per
      band. 4 x 30-bit bands keep the pigeonhole guarantee (Hamming
      <= 3 shares a band) with the collision floor at n^2/2^30.

    Shape: hex() the payload once, EXPLODE the word index (words are
    rows, not interpreted array folds — higher-order lambdas have no
    codegen and the 75-words x 120-bits fold form measured 8.5 s at
    sf0.1; this form runs the md5 + 120 conditional SUMs inside
    whole-stage codegen), aggregate the per-bit vote counts back to
    one row per doc, majority-pack. The only exchange carries
    (doc_id, hi, lo) longs — payload bytes never cross partitions —
    and the doc_id groupBy is map-side-combined. Docs with no full
    word (len < 4) re-enter via the left join with phash 0."""
    n_bits = 60
    hx = F.hex(F.col(binary_col))
    n4 = (F.length(F.col(binary_col)) / 4).cast("int")

    def byte(k):
        # byte k of word i: hex pair at offset (i-1)*8 + 2k
        return F.conv(
            F.substring(
                "hx", (F.col("i") - 1) * 8 + 2 * k + 1, 2
            ).cast("string"),
            16,
            10,
        ).cast("long")

    words = (
        widen(df)
        .select(F.col(id_col).alias("doc_id"), hx.alias("hx"), n4.alias("n4"))
        .where(F.col("n4") >= 1)
        .select(
            "doc_id",
            "hx",
            F.explode(F.sequence(F.lit(1), F.col("n4"))).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(
                (
                    byte(0)
                    + byte(1) * 256
                    + byte(2) * 65536
                    + byte(3) * 16777216
                ).cast("string")
            ).alias("m"),
        )
        .select(
            "doc_id",
            F.conv(F.substring("m", 1, 15), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring("m", 17, 15), 16, 10).cast("long").alias("lo"),
        )
    )
    # 120 per-bit vote counters would be 121 aggregate columns — past
    # spark.sql.codegen.maxFields (100), which silently drops the whole
    # aggregate out of codegen (measured: 6.5 s at sf0.1). Pack 3
    # counters per long (21-bit fields; sound while a payload has
    # < 2^21 = 2M words, i.e. 8 MB — the documented bound), so the
    # aggregate is 41 codegen'd SUMs and the counters unpack in the
    # projection above it.
    FIELD = 21
    MASK = (1 << FIELD) - 1

    def ctr(col: Column, j: int) -> Column:
        return sum(
            F.shiftleft(
                F.shiftright(col, 3 * j + s).bitwiseAND(F.lit(1)), FIELD * s
            )
            for s in range(3)
        )

    votes = words.groupBy("doc_id").agg(
        F.count("*").alias("nw"),
        *[
            F.sum(ctr(col, j)).alias(f"{n}{j}")
            for n, col in (("h", F.col("hi")), ("l", F.col("lo")))
            for j in range(n_bits // 3)
        ],
    )

    def pack(prefix: str) -> Column:
        out = F.lit(0).cast("long")
        for k in range(n_bits):
            j, s = divmod(k, 3)
            cnt = F.shiftright(F.col(f"{prefix}{j}"), FIELD * s).bitwiseAND(
                F.lit(MASK)
            )
            out = out + F.when(
                cnt * 2 > F.col("nw"), F.lit(1 << k)
            ).otherwise(0).cast("long")
        return out

    packed = votes.select(
        "doc_id", pack("h").alias("phash_hi"), pack("l").alias("phash_lo")
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(packed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("phash_hi", F.lit(0).cast("long")).alias("phash_hi"),
            F.coalesce("phash_lo", F.lit(0).cast("long")).alias("phash_lo"),
        )
    )


def portable_perceptual_hashes_np(
    df: DataFrame, binary_col: str, id_col: str
) -> DataFrame:
    """Arrow-batched twin of :func:`portable_perceptual_hashes`
    (round 12, optimization — similarity's `_assign_np` pattern
    applied to the portable phash): same output contract — (doc_id, phash_hi,
    phash_lo), 2 x 60-bit majority-vote signatures over one md5 per
    aligned little-endian 4-byte word — but computed with hashlib +
    numpy inside ``mapInPandas`` instead of the declarative
    explode + 41-packed-SUM aggregate + 120-CASE pack projection.

    WHY: the declarative form's cost at sf0.1 is not execution — the
    profiler attributes ~0.9 s of its 3.9 s to jobs — it is the
    DRIVER analyzing/optimizing/codegening the ~300-node expression
    tree every run (guide §1.2: fix the algorithm's constant factors
    where they actually are). The np twin's plan is one ArrowEval
    node; the payload still never shuffles (only 16 hash bytes come
    out, same as before).

    BIT-IDENTITY argument (the similarity._assign_np clause structure):
    (1) the word value is the little-endian uint32 of each aligned
    4-byte group — ``np.frombuffer('<u4')`` == the hex-pair
    byte(0) + byte(1)*256 + ... fold; (2) md5 of the word's decimal
    string is the same 32 hex chars in hashlib and the JVM
    (``str(int)`` == ``CAST(long AS STRING)`` for non-negative
    values); (3) hi/lo take hex chars [1,15] / [17,31] (1-based) ==
    Python ``m[0:15]`` / ``m[16:31]``, 60 bits each — exact in int64;
    (4) the majority vote ``2*cnt > n4`` is the identical integer
    compare, and docs with no full word (len < 4) emit (0, 0),
    matching the declarative left-join + coalesce. Asserted
    column-for-column in tests/test_tier_c.py::
    test_portable_phash_np_bit_identical.

    Scale: decode+hash once per payload (Arrow batches, per-task md5 memo
    across repeated words — guide §4.5's init-once applied to a
    cache); the declarative twin remains the oracle-shaped reference.
    """
    import hashlib

    import numpy as np

    n_bits = 60
    shifts = np.arange(n_bits, dtype=np.uint64)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[int, tuple[int, int]] = {}

        def word_hashes(w: "np.ndarray") -> tuple["np.ndarray", "np.ndarray"]:
            his = np.empty(len(w), dtype=np.uint64)
            los = np.empty(len(w), dtype=np.uint64)
            for i, x in enumerate(w.tolist()):
                hl = memo.get(x)
                if hl is None:
                    m = hashlib.md5(str(x).encode()).hexdigest()
                    hl = (int(m[0:15], 16), int(m[16:31], 16))
                    memo[x] = hl
                his[i], los[i] = hl
            return his, los

        for pdf in it:
            # Bound the per-task memo (ADVICE r12): reset past a cap so
            # a task's Python heap stays bounded across Arrow batches
            # at production scale.
            if len(memo) > 1_000_000:
                memo.clear()
            out_hi = np.zeros(len(pdf), dtype=np.int64)
            out_lo = np.zeros(len(pdf), dtype=np.int64)
            for row_i, payload in enumerate(pdf[binary_col]):
                if payload is None:
                    # NULL payload (ADVICE r12): the declarative twin's
                    # left-join + coalesce emits (0, 0) — keep that
                    # contract instead of crashing on bytes(None).
                    continue
                b = bytes(payload)
                n4 = len(b) // 4
                if n4 == 0:
                    continue
                w = np.frombuffer(b[: n4 * 4], dtype="<u4")
                his, los = word_hashes(w)
                hcnt = ((his[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                lcnt = ((los[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                out_hi[row_i] = int(
                    ((hcnt * 2 > n4).astype(np.uint64) << shifts).sum()
                )
                out_lo[row_i] = int(
                    ((lcnt * 2 > n4).astype(np.uint64) << shifts).sum()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "phash_hi": out_hi,
                    "phash_lo": out_lo,
                }
            )

    return df.select(id_col, binary_col).mapInPandas(
        batches, "doc_id long, phash_hi long, phash_lo long"
    )


def _m4_oracle() -> str:
    """q_m4's DuckDB oracle, mirroring portable_perceptual_hashes:
    hex-parsed little-endian words, one md5 per word, 2 x 60-bit
    majority votes, 4 x 30-bit band self-join, exact Hamming verify."""

    def pack(lo_off: int) -> str:
        h = (
            f"list_transform(md5s, m ->"
            f" ('0x' || substr(m, {lo_off}, 15))::BIGINT)"
        )
        terms = " + ".join(
            f"(CASE WHEN 2 * list_sum(list_transform({h},"
            f" x -> (x >> {k}) & 1)) > n4 THEN {1 << k}::BIGINT"
            f" ELSE 0 END)"
            for k in range(60)
        )
        return f"CAST({terms} AS BIGINT)"

    word = (
        "('0x' || substr(hx, (i-1)*8 + 1, 2))::BIGINT"
        " + ('0x' || substr(hx, (i-1)*8 + 3, 2))::BIGINT * 256"
        " + ('0x' || substr(hx, (i-1)*8 + 5, 2))::BIGINT * 65536"
        " + ('0x' || substr(hx, (i-1)*8 + 7, 2))::BIGINT * 16777216"
    )
    return f"""
    WITH p AS (
      SELECT doc_id, hex(encode(text)) AS hx,
             octet_length(encode(text)) // 4 AS n4
      FROM documents
    ),
    w AS (
      SELECT doc_id, n4,
             list_transform(range(1, n4 + 1),
               i -> md5(CAST({word} AS VARCHAR))) AS md5s
      FROM p
    ),
    sh AS (
      SELECT doc_id, {pack(1)} AS phash_hi, {pack(17)} AS phash_lo FROM w
    ),
    banded AS (
      SELECT doc_id, phash_hi, phash_lo, ix.i AS band_idx,
             CASE ix.i
               WHEN 0 THEN phash_hi & 1073741823
               WHEN 1 THEN (phash_hi >> 30) & 1073741823
               WHEN 2 THEN phash_lo & 1073741823
               ELSE (phash_lo >> 30) & 1073741823 END AS band_val
      FROM sh, (SELECT unnest([0, 1, 2, 3]) AS i) ix
    )
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
           CAST(bit_count(xor(a.phash_hi, b.phash_hi))
                + bit_count(xor(a.phash_lo, b.phash_lo)) AS INTEGER)
             AS hamming
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash_hi, b.phash_hi))
          + bit_count(xor(a.phash_lo, b.phash_lo)) <= 12
    """


def phash_signatures(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """q_m4's signature frame ``(doc_id, bands, phash_hi, phash_lo)``:
    the portable perceptual hash and its four 30-bit bands, band
    i*2+j = bits [30j, 30j+30) of word i (hi, lo)."""
    mask30 = F.lit((1 << 30) - 1).cast("long")
    return portable_perceptual_hashes_np(df, binary_col, id_col).select(
        "doc_id",
        with_band_count(
            F.array(
                *[
                    F.shiftright(c, 30 * j).bitwiseAND(mask30)
                    for c in ("phash_hi", "phash_lo")
                    for j in range(2)
                ]
            ),
            4,
        ),
        "phash_hi",
        "phash_lo",
    )


@query("q_m4_media_phash_neardup", oracle=_m4_oracle())
def q_m4_media_phash_neardup(spark, sf_dir):
    """M4 (extension): near-duplicate MEDIA detection — 120-bit
    perceptual hash per payload (2 x 60-bit portable-family majority
    votes), 30-bit-band LSH buckets for candidates, exact Hamming
    verify (<= 12 of 120 bits). The multimodal twin of C9's SimHash:
    by pigeonhole, any pair within Hamming 3 shares at least one of
    the 4 bands; the verify step keeps only true close pairs.
    Invariants (identical payloads collapse, determinism, threshold
    bound) are asserted in tests/test_tier_c.py.

    Oracle (round 11, was rows-only): the query computes the portable
    phash (one md5 per 4-byte word — uint64 wraparound is not
    DuckDB-expressible, md5 is), so signatures, bands, and Hamming
    distances hash-match. Round 12: the signatures run through the
    Arrow-batched twin (portable_perceptual_hashes_np — bit-identity
    argument in its docstring, pinned by
    test_portable_phash_np_bit_identical); the declarative
    explode-aggregate form cost ~2.5 s/run of DRIVER plan
    analysis+codegen on its ~300-node tree at sf0.1, not execution
    (profiler: 0.9 s of 3.9 s in jobs).

    Scale: the expensive step (decode + hash) is one Arrow-batched
    pass — payload bytes never cross partitions; only 16 hash bytes
    shuffle. The ``band_pairs`` self-join is bucketed (pairwise work
    inside buckets only). Band ENTROPY is the scale knob the
    10x probe exposed: 16-bit bands put accidental (not similar, just
    colliding) pairs at ~n^2/2^16 per band — measured slope 1.3,
    0.6 s -> 7.9 s at 50k docs; 32-bit bands push that floor to
    n^2/2^32 and the probe returns to ~linear. Rule: band bits must
    comfortably exceed 2*log2(n_docs) within a join domain."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    hamming = hamming64("a.phash_hi", "b.phash_hi") + hamming64(
        "a.phash_lo", "b.phash_lo"
    )
    pairs = band_pairs(
        phash_signatures(d, "payload", "doc_id"),
        verify=("hamming", hamming, 12),
    )
    return pairs.select(
        F.col("id_1").alias("doc_id_1"),
        F.col("id_2").alias("doc_id_2"),
        "hamming",
    )


@query(
    "q_m5_media_curation",
    oracle="""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes,
             sha256(text) AS payload_sha
      FROM documents
      WHERE octet_length(encode(text)) BETWEEN 150 AND 350
    ), kept AS (
      SELECT doc_id, n_bytes FROM (
        SELECT doc_id, n_bytes,
               ROW_NUMBER() OVER (PARTITION BY payload_sha
                                  ORDER BY doc_id) AS rn
        FROM p) t
      WHERE rn = 1
    )
    SELECT doc_id, CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(FLOOR(CAST(SUM(n_bytes) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_bytes AS DOUBLE)
                      / 4096) AS BIGINT) AS shard_id
    FROM kept
    """,
)
def q_m5_media_curation(spark, sf_dir):
    """M5 (extension): the end-to-end MEDIA curation pipeline — C19's
    ladder for binary payloads, one declarative plan: (1) size gate
    from the Arrow-batched metadata extractor (decode-free reject of
    truncated/oversized payloads), (2) EXACT media dedup by payload
    sha256 keeping the smallest doc_id (byte-identical assets collapse;
    the near-dup rung is M4), (3) byte-budget shard assembly (M3's
    distributed prefix sum) over the survivors. Stage order prunes for
    the costlier stage after it, exactly like C19.

    Scale: the gate and hash are per-row over the payload scan (bytes
    never shuffle — the hash is 32 hex chars); dedup is one keyed
    window on the hash; packing shuffles only (id, n_bytes). The
    fixture has no byte-identical payloads, so the dedup stage's
    discard path is pinned by a clone test (tests/test_tier_c.py)
    rather than the oracle row count."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    from pyspark.sql import Window
    from etl_spark_eks_spark.operators.sampling import running_total_before

    meta = extract_media_metadata(d, "payload", "doc_id").select(
        "doc_id", "n_bytes"
    )
    gated = (
        d.join(meta, "doc_id")
        .filter(F.col("n_bytes").between(150, 350))
        .select("doc_id", "n_bytes", F.sha2("payload", 256).alias("payload_sha"))
    )
    w = Window.partitionBy("payload_sha").orderBy("doc_id")
    kept = (
        gated.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_bytes")
    )
    return running_total_before(kept, "doc_id", "n_bytes").select(
        "doc_id",
        "n_bytes",
        F.floor(F.col("__cum_before").cast("double") / 4096)
        .cast("bigint")
        .alias("shard_id"),
    )


@query(
    "q_m6_training_manifest",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, lang, source, text,
             octet_length(encode(text)) AS n_bytes,
             list_filter(string_split_regex(text, '\s+'), x -> x <> '')
               AS toks
      FROM documents
    ), q AS (
      SELECT doc_id, lang, source, n_bytes,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             (len(toks) BETWEEN 20 AND 1000
              AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
                  >= 0.3) AS passes_quality,
             CASE WHEN (('0x' || substr(md5(sha256(text)), 1, 8))::BIGINT
                        % 1000) < 900 THEN 'train'
                  WHEN (('0x' || substr(md5(sha256(text)), 1, 8))::BIGINT
                        % 1000) < 950 THEN 'val'
                  ELSE 'test' END AS split
      FROM t
    )
    SELECT q.doc_id, q.lang, q.source, q.n_tokens,
           CAST(q.n_bytes AS BIGINT) AS n_bytes,
           q.passes_quality, q.split,
           e.label,
           ROUND(sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6)
             AS emb_norm
    FROM q JOIN embeddings e ON q.doc_id = e.vec_id
    """,
)
def q_m6_training_manifest(spark, sf_dir):
    """M6 (extension): training-manifest assembly — the final
    materialization a dataloader consumes, one row per training
    example joining every curation signal this engine computes: text
    identity (doc_id, lang, source), token count and the C10 quality
    verdict, payload byte size (media accounting), the C29
    leakage-safe content-keyed split, and the embedding row (cluster
    label + L2 norm) for retrieval/mixing downstream. The pipeline's
    answer to "what exactly do we train on?" as a single declarative
    plan.

    Scale: every per-doc signal is a per-row expression over the
    documents scan; the only shuffle is the doc->embedding equi-join,
    which co-partitions two narrow projections on the id (at catalog
    scale both sides are bucketed on it — B60's layout — making the
    manifest join exchange-free). The manifest is written once and
    read by every consumer; its cost is paid at corpus-assembly time,
    not training time."""
    from etl_spark_eks_spark.functions.text import token_stats
    from etl_spark_eks_spark.functions.vector import l2_norm
    from etl_spark_eks_spark.operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    stats = token_stats(F.col("text"))
    n = stats["n_tokens"]
    b = hash_bucket(F.sha2(F.col("text"), 256))
    q = d.select(
        "doc_id",
        "lang",
        "source",
        n.alias("n_tokens"),
        F.octet_length(F.encode("text", "UTF-8"))
        .cast("long")
        .alias("n_bytes"),
        (n.between(20, 1000) & (stats["distinct_ratio"] >= 0.3)).alias(
            "passes_quality"
        ),
        F.when(b < 900, "train")
        .when(b < 950, "val")
        .otherwise("test")
        .alias("split"),
    )
    e = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        "label",
        F.round(l2_norm("embedding"), 6).alias("emb_norm"),
    )
    return q.join(e, "doc_id")


@query(
    "q_m7_checksum_audit",
    oracle="""
    WITH payloads AS (
      SELECT doc_id, source, text,
             CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        ::BIGINT % 1000) < 50
                  THEN sha256(text || '!')
                  ELSE sha256(text) END AS stored_sha
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN sha256(text) <> stored_sha
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
    FROM payloads
    GROUP BY source
    """,
)
def q_m7_checksum_audit(spark, sf_dir):
    """M7: payload-integrity audit — recompute sha256 over every binary
    payload and compare against the manifest's stored checksum,
    counting mismatches per source. At 100 TB of media, bitrot and
    truncated multipart transfers are routine; checksum verification
    at ingest is the gate that keeps a corrupted shard out of the
    training manifest (M6). The fixture carries no checksum column, so
    a deterministic 5% md5-bucket slice of stored checksums is
    synthesized wrong (the same portable-bucket technique as C22) and
    the audit must find exactly that slice.

    Scale: sha256 is a per-row projection pipelined into the scan —
    payload bytes never shuffle; the only exchange is the per-source
    count agg (map-side combined). The same pass pattern extends to
    per-file manifests (group by shard instead of source)."""
    from etl_spark_eks_spark.operators.sampling import hash_bucket

    d = load_table(spark, sf_dir, "documents")
    payloads = d.select(
        "doc_id",
        "source",
        F.encode("text", "UTF-8").alias("payload"),
        F.when(
            hash_bucket("doc_id") < 50,
            F.sha2(F.encode(F.concat(F.col("text"), F.lit("!")), "UTF-8"), 256),
        )
        .otherwise(F.sha2(F.encode("text", "UTF-8"), 256))
        .alias("stored_sha"),
    )
    return payloads.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.sha2("payload", 256) != F.col("stored_sha"), 1).otherwise(0)
        ).alias("n_corrupt"),
    )


@query(
    "q_m8_container_sniff_audit",
    oracle="""
    WITH manifest AS (
      SELECT doc_id,
             CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                             WHEN 2 THEN 'wav' ELSE 'mp4' END AS actual,
             CASE WHEN doc_id % 20 = 0
                  THEN CASE (doc_id + 1) % 4
                         WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                         WHEN 2 THEN 'wav' ELSE 'mp4' END
                  ELSE CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                            WHEN 2 THEN 'wav' ELSE 'mp4' END
             END AS claimed
      FROM documents
    )
    SELECT claimed,
           actual AS sniffed,
           COUNT(*) AS n_payloads,
           (claimed <> actual) AS mismatch
    FROM manifest
    GROUP BY claimed, actual
    """,
)
def q_m8_container_sniff_audit(spark, sf_dir):
    """M8 (extension): container-format sniffing audit — read each
    payload's MAGIC BYTES and reconcile them against the manifest's
    claimed format, counting (claimed, sniffed) pairs. "The extension
    lies" is the first integrity gate of any media ingest (a .jpg that
    is really a PNG breaks the decode pool downstream); real sniffing
    IS a prefix compare, so this plumbing is production-shaped even
    though the magics here are ASCII stand-ins ('PNG0'/'JPG1'/'RIFF'/
    'FTYP' prepended to the synthesized payloads, doc_id % 4). A 5%
    slice (doc_id % 20 == 0) claims the WRONG format, so the mismatch
    rows are guaranteed non-empty and the match diagonal dominates.

    Scale: sniffing reads 4 bytes per payload via substring on the
    binary column — JVM-side, no Python, no decode; payload bytes
    never shuffle (the audit aggregates (claimed, sniffed) pairs,
    16-ish rows). This is the cheap gate BEFORE M7's full-payload
    checksum pass."""
    magic = {0: "PNG0", 1: "JPG1", 2: "RIFF", 3: "FTYP"}
    fmt = {0: "png", 1: "jpeg", 2: "wav", 3: "mp4"}
    mod = F.col("doc_id") % 4
    magic_col = (
        F.when(mod == 0, F.lit(magic[0]))
        .when(mod == 1, F.lit(magic[1]))
        .when(mod == 2, F.lit(magic[2]))
        .otherwise(F.lit(magic[3]))
    )
    actual_fmt = (
        F.when(mod == 0, F.lit(fmt[0]))
        .when(mod == 1, F.lit(fmt[1]))
        .when(mod == 2, F.lit(fmt[2]))
        .otherwise(F.lit(fmt[3]))
    )
    mod1 = (F.col("doc_id") + 1) % 4
    claimed_fmt = F.when(
        F.col("doc_id") % 20 == 0,
        F.when(mod1 == 0, F.lit(fmt[0]))
        .when(mod1 == 1, F.lit(fmt[1]))
        .when(mod1 == 2, F.lit(fmt[2]))
        .otherwise(F.lit(fmt[3])),
    ).otherwise(actual_fmt)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.encode(magic_col, "UTF-8"), F.encode("text", "UTF-8"))
            .alias("payload"),
        claimed_fmt.alias("claimed"),
    )
    prefix = F.decode(F.substring("payload", 1, 4), "UTF-8")
    sniffed = (
        F.when(prefix == magic[0], F.lit(fmt[0]))
        .when(prefix == magic[1], F.lit(fmt[1]))
        .when(prefix == magic[2], F.lit(fmt[2]))
        .when(prefix == magic[3], F.lit(fmt[3]))
        .otherwise(F.lit("unknown"))
    )
    return (
        d.select("claimed", sniffed.alias("sniffed"))
        .groupBy("claimed", "sniffed")
        .agg(F.count("*").alias("n_payloads"))
        .withColumn("mismatch", F.col("claimed") != F.col("sniffed"))
    )


def cdc_chunks(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """Content-defined chunking (FastCDC-style) over binary payloads:
    boundaries where a W=16-byte polynomial rolling hash hits
    ``h % 64 == 0`` (expected chunk ~64 B), clamped to [16, 256] B.
    Because boundaries depend only on local CONTENT, an insertion near
    the start shifts every byte offset yet the boundary stream
    re-synchronizes right after the edit — so unchanged tails keep
    identical chunk hashes, which is the property fixed-stride
    chunking (C37's token analogue) fundamentally lacks and the whole
    point of CDC dedup/delta-storage. Arrow-batched mapInPandas; the
    rolling hash is one numpy sliding-window dot per payload (uint64
    natural wraparound), chunk ids are sha256 prefixes."""
    import hashlib

    import numpy as np

    W, MASK, MIN_C, MAX_C = 16, 64, 16, 256
    powers = np.array(
        [pow(257, W - 1 - i, 2**64) for i in range(W)], dtype=np.uint64
    )

    def chunk_one(payload: bytes):
        n = len(payload)
        if n <= MIN_C:
            return [(0, n)]
        a = np.frombuffer(payload, dtype=np.uint8).astype(np.uint64)
        win = np.lib.stride_tricks.sliding_window_view(a, W)
        with np.errstate(over="ignore"):
            h = (win * powers).sum(axis=1)
        # Boundary test via uint64 bitmask, computed ARRAY-wise: a
        # scalar `h[i] % MASK` silently promotes uint64 x python-int
        # to float64, whose 53-bit mantissa rounds 2^63-scale hashes
        # to multiples of 1024 — making "% 64 == 0" true at almost
        # every position and degenerating CDC into fixed 16-byte
        # chunking (caught by the resync test: 1/40 docs shared any
        # chunk with its prefix-shifted clone).
        is_cut = (h & np.uint64(MASK - 1)) == 0
        cuts, start = [], 0
        for i in range(n - W + 1):
            end = i + W
            if end - start >= MAX_C or (
                end - start >= MIN_C and is_cut[i]
            ):
                cuts.append((start, end))
                start = end
        if start < n:
            cuts.append((start, n))
        return cuts

    def batches(it):
        for pdf in it:
            out = {"doc_id": [], "chunk_idx": [], "chunk_hash": [],
                   "chunk_len": []}
            for doc_id, payload in zip(pdf[id_col], pdf[binary_col]):
                for idx, (s, e) in enumerate(chunk_one(payload)):
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(idx)
                    out["chunk_hash"].append(
                        hashlib.sha256(payload[s:e]).hexdigest()[:16]
                    )
                    out["chunk_len"].append(e - s)
            yield pd.DataFrame(out)

    return df.select(id_col, binary_col).mapInPandas(
        batches, "doc_id long, chunk_idx int, chunk_hash string, chunk_len int"
    )


_M9_ORACLE = """
WITH RECURSIVE src AS (
  SELECT doc_id, text AS s FROM documents
  UNION ALL
  SELECT doc_id + 3000000, 'JUNK!!!.' || text
  FROM documents WHERE doc_id % 167 = 0
),
docs AS (SELECT doc_id, s, length(s) AS n FROM src),
bytes AS (
  SELECT doc_id, n, r.p AS pos, ascii(substr(s, r.p + 1, 1)) AS b
  FROM docs, UNNEST(range(0, n)) AS r(p)
),
wsum AS (
  SELECT doc_id, n, pos,
         SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 15 FOLLOWING) AS ws
  FROM bytes
),
nc AS (
  SELECT doc_id, pos,
         MIN(cut_pos) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND UNBOUNDED FOLLOWING) AS nv
  FROM (SELECT doc_id, pos,
               CASE WHEN ws % 64 = 0 THEN pos END AS cut_pos
        FROM wsum WHERE pos <= n - 16)
),
rec AS (
  SELECT d.doc_id, 0 AS chunk_idx, 0 AS st,
         CASE WHEN nc.nv IS NOT NULL AND nc.nv <= 239 THEN nc.nv + 16
              WHEN 240 <= d.n - 16 THEN 256
              ELSE d.n END AS en,
         d.n AS n
  FROM docs d LEFT JOIN nc ON nc.doc_id = d.doc_id AND nc.pos = 0
  UNION ALL
  SELECT r.doc_id, r.chunk_idx + 1, r.en,
         CASE WHEN nc.nv IS NOT NULL AND nc.nv <= r.en + 239
                THEN nc.nv + 16
              WHEN r.en + 240 <= r.n - 16 THEN r.en + 256
              ELSE r.n END,
         r.n
  FROM rec r LEFT JOIN nc ON nc.doc_id = r.doc_id AND nc.pos = r.en
  WHERE r.en < r.n
),
chunks AS (
  SELECT r.doc_id,
         substr(sha256(substr(d.s, r.st + 1, r.en - r.st)), 1, 16)
           AS chunk_hash,
         r.en - r.st AS chunk_len
  FROM rec r JOIN docs d ON d.doc_id = r.doc_id
)
SELECT chunk_hash,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(SUM(chunk_len) AS BIGINT) AS total_bytes
FROM chunks
GROUP BY chunk_hash
HAVING COUNT(DISTINCT doc_id) >= 2
"""


@query("q_m9_cdc_chunk_dedup", oracle=_M9_ORACLE)
def q_m9_cdc_chunk_dedup(spark, sf_dir):
    """M9 (extension): content-defined-chunk dedup over binary payloads
    — chunks shared by >= 2 documents, with doc counts and byte mass.
    The binary-payload analogue of C37 built on cdc_chunks' rolling-
    hash boundaries: catches media/files that share content at DIFFERENT
    byte offsets (re-muxed containers, prepended metadata, partial
    re-uploads), which both whole-payload sha (M5) and fixed-offset
    chunking miss the moment one byte is inserted.

    The fixture's payloads (documents' UTF-8 bytes) share no natural
    binary runs across docs except exact duplicates, so the query
    plants 3 PREFIX-SHIFTED clones (doc_id + 3,000,000, payload =
    7 junk bytes + original) — the exact transformation CDC is built
    for: every clone MUST share its post-resync chunks with its
    source, so the result is non-empty by construction and each row
    is a real cross-offset detection (fabricate-then-audit, the
    B69/C15/C55 pattern; the boundary-resync property itself is
    unit-tested in tests/test_tier_c.py).

    Oracle (round 11, was rows-only): the rolling hash is
    SQL-expressible after one observation — the polynomial base 257 is
    ≡ 1 (mod 64), so ``h & 63 == 0`` reduces to a 16-byte sliding SUM
    mod 64 (uint64 wraparound subtracts multiples of 2^64 ≡ 0 mod 64),
    a plain window aggregate; the greedy MIN/MAX-clamped scan becomes a
    recursive CTE stepping through a precomputed next-cut-position
    table (closed form validated against chunk_one on every fixture
    payload + its shifted clone). The fixture is all-ASCII (asserted in
    tests), so DuckDB's VARCHAR sha256/substr hash the same bytes
    Python's sha256 sees.

    Scale: chunking is one Python pass over payload bytes (Arrow
    batches, numpy rolling hash — the only corpus-bytes stage); only
    16-hex chunk ids + lengths shuffle to the chunk_hash groupBy, so
    the exchange is metadata-sized no matter how large the media
    payloads are. MIN/MAX clamps bound chunk-table size; the
    MASK knob trades dedup granularity against chunk-table rows."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    planted = d.filter(F.col("doc_id") % 167 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.concat(F.encode(F.lit("JUNK!!!."), "UTF-8"), F.col("payload"))
            .alias("payload"),
    )
    chunks = cdc_chunks(d.unionByName(planted), "payload", "doc_id")
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.sum("chunk_len").cast("long").alias("total_bytes"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "q_m10_tar_member_offsets",
    oracle="""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
    ),
    sharded AS (
      SELECT doc_id, n_bytes,
             CAST(FLOOR(CAST(SUM(n_bytes) OVER (ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_bytes AS DOUBLE)
                        / 4096) AS BIGINT) AS shard_id,
             512 + CAST(CEIL(n_bytes / 512.0) AS BIGINT) * 512
               AS padded_bytes
      FROM p
    )
    SELECT doc_id, shard_id,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           padded_bytes,
           COALESCE(CAST(SUM(padded_bytes) OVER (PARTITION BY shard_id
                           ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS BIGINT), 0) AS member_offset
    FROM sharded
    """,
)
def q_m10_tar_member_offsets(spark, sf_dir):
    """M10 (extension): tar-archive member offsets for WebDataset-style
    shards — for every payload, its shard (M3's byte-budget prefix-sum
    assignment) plus the exact byte offset of its tar member within
    that shard under POSIX tar framing (512 B header + data padded up
    to 512 B blocks). This is the index a random-access dataloader
    needs to seek straight to a sample inside a packed .tar shard
    without scanning it — the manifest-with-offsets contract of
    WebDataset/tarfiles, derived entirely from metadata.

    Scale: stage 1 is the shared two-phase distributed prefix sum
    (running_total_before — serial work ~ n_rows/bucket_size, never a
    single-task global window); stage 2's cumulative sum partitions BY
    SHARD, and shards are byte-budget-bounded (a few members each at
    any corpus size), so the per-shard window is trivially parallel
    and skew-free. Payload bytes never shuffle — only (doc_id,
    n_bytes) metadata. Exact integer arithmetic end-to-end: offsets
    must be byte-exact or the reader desyncs, which is also why the
    oracle can hash-compare them."""
    from etl_spark_eks_spark.operators.sampling import running_total_before

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    meta = extract_media_metadata(d, "payload", "doc_id").select(
        "doc_id", "n_bytes"
    )
    sharded = running_total_before(meta, "doc_id", "n_bytes").select(
        "doc_id",
        "n_bytes",
        F.floor(F.col("__cum_before").cast("double") / 4096)
        .cast("bigint")
        .alias("shard_id"),
        (512 + F.ceil(F.col("n_bytes") / 512.0).cast("bigint") * 512).alias(
            "padded_bytes"
        ),
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return sharded.select(
        "doc_id",
        "shard_id",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "padded_bytes",
        F.coalesce(F.sum("padded_bytes").over(w), F.lit(0))
        .cast("long")
        .alias("member_offset"),
    )


@query(
    "q_c81_modality_coverage_audit",
    oracle="""
    WITH j AS (
        SELECT d.doc_id, d.source, e.vec_id
        FROM documents d
        FULL OUTER JOIN embeddings e ON d.doc_id = e.vec_id
    )
    SELECT COALESCE(source, '__no_document__') AS source,
           CAST(COUNT(*) AS BIGINT) AS n_ids,
           CAST(SUM(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_paired,
           CAST(SUM(CASE WHEN vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing_embedding,
           CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan_embedding
    FROM j GROUP BY 1 ORDER BY 1
    """,
)
def q_c81_modality_coverage_audit(spark, sf_dir):
    """C81 (extension): cross-modality referential completeness audit
    — per source: how many documents have a paired embedding, how many
    are missing one, and how many embeddings point at no document at
    all (orphans land in a synthetic `__no_document__` bucket, since
    an orphan has no source to charge). M6 builds the manifest by
    joining the modalities; this is the gate run BEFORE that join,
    because an inner join silently eats exactly the rows this query
    counts — the classic way a "100% embedded corpus" claim goes
    unchecked. Run per ingestion batch, alarmed on the two failure
    columns (the reference's crawler/validation slot in the landing
    pipeline).

    Scale: one narrow (id, source) full-outer co-shuffle — the same
    lone exchange M6 pays — feeding a source-cardinality aggregate.
    Ids only; text, payloads and vectors never move."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    e = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = d.join(e, d.doc_id == e.vec_id, "full_outer")
    return (
        j.groupBy(
            F.coalesce("source", F.lit("__no_document__")).alias("source")
        )
        .agg(
            F.count("*").alias("n_ids"),
            F.sum(
                (F.col("doc_id").isNotNull() & F.col("vec_id").isNotNull())
                .cast("long")
            ).alias("n_paired"),
            F.sum(F.col("vec_id").isNull().cast("long")).alias(
                "n_missing_embedding"
            ),
            F.sum(F.col("doc_id").isNull().cast("long")).alias(
                "n_orphan_embedding"
            ),
        )
        .orderBy("source")
    )


ENTROPY_SCHEMA = (
    "doc_id long, n_bytes long, n_distinct_bytes long, entropy double"
)


def payload_byte_entropy(df: DataFrame, binary_col: str, id_col: str) -> DataFrame:
    """mapInPandas over binary payloads -> per-payload Shannon entropy
    of the byte distribution, computed with one numpy ``bincount`` per
    payload INSIDE the Arrow batch. The alternative — exploding bytes
    into rows and aggregating — would push |payload| rows per document
    through a shuffle; here the histogram never leaves the Python
    worker and only (id, 3 stats) rows exit. This is the
    compression-readiness / corruption triage stat for media lakes:
    near-8-bit entropy = already-compressed or encrypted (don't
    recompress, can't dedup by chunk), low entropy = padding, stuck
    sensors, or synthetic fills."""
    import numpy as np

    def batches(it):
        for pdf in it:
            ids, nb, nd, ent = [], [], [], []
            for i, payload in zip(pdf[id_col], pdf[binary_col]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = arr.size
                counts = np.bincount(arr, minlength=256).astype(np.float64)
                nz = counts[counts > 0]
                ids.append(i)
                nb.append(n)
                nd.append(nz.size)
                if n == 0:
                    ent.append(0.0)  # empty payload: no distribution
                else:
                    p = nz / n
                    # abs() folds the single-byte case's -0.0 to 0.0
                    ent.append(
                        float(abs(np.round(-np.sum(p * np.log2(p)), 6)))
                        if nz.size > 1
                        else 0.0
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "n_bytes": pd.Series(nb, dtype="int64"),
                    "n_distinct_bytes": pd.Series(nd, dtype="int64"),
                    "entropy": pd.Series(ent, dtype="float64"),
                }
            )

    return df.select(id_col, binary_col).mapInPandas(batches, ENTROPY_SCHEMA)


@query(
    "q_m11_payload_entropy",
    oracle="""
    WITH p AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ), b AS (
      SELECT doc_id, n,
             substring(h, CAST(2 * r.i - 1 AS INT), 2) AS byte
      FROM p, UNNEST(range(1, n + 1)) AS r(i)
    ), c AS (
      SELECT doc_id, n, byte, COUNT(*) AS cnt
      FROM b GROUP BY doc_id, n, byte
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_bytes,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_bytes,
           ROUND(-SUM((CAST(cnt AS DOUBLE) / n)
                      * log2(CAST(cnt AS DOUBLE) / n)), 6) AS entropy
    FROM c GROUP BY doc_id
    """,
)
def q_m11_payload_entropy(spark, sf_dir):
    """M11 (extension): per-payload byte-level Shannon entropy over the
    opaque binary column — the triage stat that routes media through
    the right pipeline (high entropy: skip recompression and
    chunk-dedup (M9) which both assume redundancy; low entropy:
    suspect padding/corruption, route to M7's checksum audit).

    Fixture payloads are the documents' UTF-8 bytes (the M1
    convention). The oracle cannot unnest a BLOB, so it expands the
    HEX string two characters at a time — same histogram, pure SQL.
    Spark-side the histogram is a numpy bincount per payload inside
    mapInPandas (see payload_byte_entropy): zero shuffle, the
    |payload|-sized intermediate never leaves the worker, and the
    entropy's 6dp round absorbs the two engines' float-sum order
    difference (~1e-16 on <=256 terms).

    Scale: embarrassingly parallel single pass; bytes-based partition
    sizing (maxPartitionBytes) bounds per-task memory, and Arrow
    batching keeps the Python boundary vectorized."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return payload_byte_entropy(d, "payload", "doc_id")


@query(
    "q_m12_caption_pair_curation",
    oracle=r"""
    WITH p AS (
      SELECT doc_id,
             octet_length(encode(text)) AS n_bytes,
             CASE octet_length(encode(text)) % 4
               WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
               WHEN 2 THEN 'wav' ELSE 'mp4' END AS format,
             len(list_filter(string_split_regex(text, '\s+'),
                             x -> x <> '')) AS n_tokens,
             ROUND(CAST(len(list_distinct(list_filter(
                     string_split_regex(text, '\s+'), x -> x <> '')))
                   AS DOUBLE)
                   / len(list_filter(string_split_regex(text, '\s+'),
                                     x -> x <> '')), 6) AS quality
      FROM documents
    )
    SELECT doc_id, format,
           CAST(n_bytes AS BIGINT) AS n_bytes,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           quality,
           ROUND(n_tokens * 100.0 / n_bytes, 6) AS align_ratio,
           CASE
             WHEN format NOT IN ('png', 'jpeg') THEN 'drop_not_image'
             WHEN n_bytes < 120 OR n_bytes > 2000 THEN 'drop_media_size'
             WHEN n_tokens < 5 THEN 'drop_caption_short'
             WHEN quality < 0.3 THEN 'drop_caption_quality'
             WHEN n_tokens * 100.0 / n_bytes < 8.0
               OR n_tokens * 100.0 / n_bytes > 30.0
               THEN 'drop_misaligned'
             ELSE 'keep' END AS verdict
    FROM p
    """,
)
def q_m12_caption_pair_curation(spark, sf_dir):
    """M12 (extension): CAPTION-MEDIA pair curation — the gate ladder
    an image-text (LAION-style) training-pair pipeline runs, with
    FIRST-FAILING-GATE attribution (C54's discipline: a dropped pair
    says which policy dropped it, so gate rates are monitorable
    per-source): (1) modality gate from the stub decoder's container
    format (images only), (2) media size band, (3) caption length
    floor, (4) caption distinct-token quality (C10's ratio), (5) an
    alignment-ratio band — tokens per 100 payload bytes — standing in
    for the CLIP-similarity gate (the real scorer slots in exactly
    here as a Pandas-UDF column; deterministic stand-in keeps the
    plumbing oracle-checkable, the decode_media() convention).

    Each doc is its own (payload, caption) pair — the web-page
    image+alt-text shape — so the fixture needs no synthetic pairing
    relation; every gate is a per-row codegen expression over M1's
    metadata and the caption stats, zero shuffles, and the verdict
    CASE evaluates gates in POLICY ORDER so attribution is
    deterministic under multiple failures.

    Scale: embarrassingly parallel projection; the real CLIP stage
    would be the only Python hop (Arrow-batched, GPU-side at fleet
    scale), and the gates BEFORE it prune decode work exactly like
    M5's decode-free rejects."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    p = widen(d).select(
        "doc_id",
        F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        F.size(toks).alias("n_tokens"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("quality"),
    ).withColumn(
        "format",
        F.when(F.col("n_bytes") % 4 == 0, "png")
        .when(F.col("n_bytes") % 4 == 1, "jpeg")
        .when(F.col("n_bytes") % 4 == 2, "wav")
        .otherwise("mp4"),
    )
    ratio = F.col("n_tokens") * 100.0 / F.col("n_bytes")
    return p.select(
        "doc_id",
        "format",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "quality",
        F.round(ratio, 6).alias("align_ratio"),
        F.when(~F.col("format").isin("png", "jpeg"), "drop_not_image")
        .when(
            (F.col("n_bytes") < 120) | (F.col("n_bytes") > 2000),
            "drop_media_size",
        )
        .when(F.col("n_tokens") < 5, "drop_caption_short")
        .when(F.col("quality") < 0.3, "drop_caption_quality")
        .when((ratio < 8.0) | (ratio > 30.0), "drop_misaligned")
        .otherwise("keep")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# M13: aspect-ratio bucketing for image training (SDXL-style ladder)
# ---------------------------------------------------------------------------

# (bucket_w, bucket_h) ladder around a ~0.26 MP target area, plus the
# LCM trick below. Scale factor per rung: _AR_LCM / bh is an integer,
# so the argmin over |w/h - bw/bh| can be computed entirely in BIGINT:
# comparing |w*bh_i - h*bw_i| / (h*bh_i) across rungs multiplies each
# numerator by (LCM/bh_i) to put all rungs over the common denominator
# h*LCM — no floats, no rounding ties, tiebreak = ladder order.
_AR_LADDER = ((512, 512), (448, 576), (576, 448), (384, 640), (640, 384))
_AR_LCM = 161280  # lcm(512, 576, 448, 640, 384)


def _m13_keys_sql() -> tuple[str, str]:
    terms = [
        f"abs(width * {bh} - height * {bw}) * {_AR_LCM // bh}"
        for bw, bh in _AR_LADDER
    ]
    least = "LEAST(" + ", ".join(terms) + ")"
    case = "CASE " + " ".join(
        f"WHEN {t} = mk THEN {i}" for i, t in enumerate(terms)
    ) + " END"
    return least, case


_M13_LEAST, _M13_CASE = _m13_keys_sql()
_M13_DIMS = ", ".join(
    f"({i}, {bw}, {bh})" for i, (bw, bh) in enumerate(_AR_LADDER)
)


@query(
    "q_m13_aspect_bucket",
    oracle=f"""
    WITH meta AS (
      SELECT doc_id,
             octet_length(encode(text)) % 256 AS width,
             (octet_length(encode(text)) // 256) % 256 AS height,
             octet_length(encode(text)) % 4 AS fmt
      FROM documents
    ), img AS (
      SELECT doc_id, width, height FROM meta
      WHERE fmt IN (0, 1) AND width > 0 AND height > 0
    ), keyed AS (
      SELECT doc_id, width, height, {_M13_LEAST} AS mk
      FROM img
    ), chosen AS (
      SELECT k.doc_id, k.width, k.height,
             d.bw AS bucket_w, d.bh AS bucket_h
      FROM (SELECT *, {_M13_CASE} AS idx FROM keyed) k
      JOIN (VALUES {_M13_DIMS}) AS d(idx, bw, bh) USING (idx)
    ), waste AS (
      SELECT bucket_w, bucket_h,
             ROUND(1.0 - (bucket_w * bucket_h)
                   / (width * height
                      * GREATEST(CAST(bucket_w AS DOUBLE) / width,
                                 CAST(bucket_h AS DOUBLE) / height)
                      * GREATEST(CAST(bucket_w AS DOUBLE) / width,
                                 CAST(bucket_h AS DOUBLE) / height)),
                   6) AS waste_frac
      FROM chosen
    )
    , agg AS (
      SELECT bucket_w, bucket_h,
             CAST(COUNT(*) AS BIGINT) AS n_images,
             ROUND(CAST(SUM(CAST(waste_frac AS DECIMAL(38,6))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_waste_frac
      FROM waste
      GROUP BY bucket_w, bucket_h
    )
    SELECT CAST(d.bw AS INTEGER) AS bucket_w,
           CAST(d.bh AS INTEGER) AS bucket_h,
           COALESCE(a.n_images, 0) AS n_images,
           a.avg_waste_frac
    FROM (VALUES {_M13_DIMS}) AS d(idx, bw, bh)
    LEFT JOIN agg a ON a.bucket_w = d.bw AND a.bucket_h = d.bh
    ORDER BY bucket_w, bucket_h
    """,
)
def q_m13_aspect_bucket(spark, sf_dir):
    """M13 (extension): aspect-ratio bucketing for image training —
    the SDXL/NovelAI batching trick: variable-aspect images can't
    share a training batch, so each image is assigned to the ladder
    rung whose aspect ratio is nearest (resize to the rung, then
    center-crop), and batches are drawn per-bucket. The report (per
    rung: population + mean crop-waste fraction) is how you audit a
    ladder before committing a 100 TB resize job to it.

    Exactness: nearest-rung selection runs entirely in BIGINT via
    cross-multiplication over a common denominator (see _AR_LADDER) —
    no float argmin, no rounding, ties broken by ladder order through
    the deterministic first-match CASE; both engines evaluate the
    identical integer expressions. Crop waste is per-row IEEE double
    rounded to 6 dp, aggregated in DECIMAL(38,6) (functions/exact.py).

    Scale: metadata comes from the Arrow mapInPandas decode pass
    (extract_media_metadata — the stub decoder; a real PIL/ffprobe
    decoder drops into the same slot); rung assignment is a pure
    projection (the 5-rung ladder lives in the expression, exploded
    against nothing), so the ONLY shuffle is the final 5-key
    aggregate with map-side combine. The 5-row dims join for
    (bucket_w, bucket_h) is a broadcast of a literal table. A 1000-
    rung ladder keeps the same shape: the per-row argmin becomes an
    array_sort over a literal struct array, still projection-only."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    meta = extract_media_metadata(widen(d), "payload", "doc_id")
    img = meta.filter(
        F.col("format").isin("png", "jpeg")
        & (F.col("width") > 0)
        & (F.col("height") > 0)
    )
    w, h = F.col("width").cast("bigint"), F.col("height").cast("bigint")
    keys = [
        F.abs(w * bh - h * bw) * (_AR_LCM // bh) for bw, bh in _AR_LADDER
    ]
    mk = F.least(*keys)
    expr = None
    for i, k in enumerate(keys):
        cond = F.when(k == mk, F.lit(i))
        expr = cond if expr is None else expr.when(k == mk, F.lit(i))
    # first-match .when chain == the oracle's CASE tiebreak
    keyed = img.select("doc_id", "width", "height", expr.alias("idx"))
    dims = values_df(
        spark,
        [(i, bw, bh) for i, (bw, bh) in enumerate(_AR_LADDER)],
        "idx int, bucket_w int, bucket_h int",
    )
    chosen = keyed.join(F.broadcast(dims), "idx")
    bw_d = F.col("bucket_w").cast("double")
    bh_d = F.col("bucket_h").cast("double")
    scale = F.greatest(bw_d / F.col("width"), bh_d / F.col("height"))
    waste = F.round(
        F.lit(1.0)
        - (F.col("bucket_w") * F.col("bucket_h"))
        / (F.col("width") * F.col("height") * scale * scale),
        6,
    )
    agg = (
        chosen.select("bucket_w", "bucket_h", waste.alias("waste_frac"))
        .groupBy("bucket_w", "bucket_h")
        .agg(
            F.count("*").alias("n_images"),
            F.round(
                F.sum(F.col("waste_frac").cast("decimal(38,6)"))
                .cast("double")
                / F.count("*"),
                6,
            ).alias("avg_waste_frac"),
        )
    )
    # keep EMPTY rungs in the report (C82's zero-row principle: the
    # zero is the evidence the rung was audited, not skipped)
    # broadcast the RIGHT side of the left join (a <=5-row aggregate);
    # broadcasting the preserved left side of an outer join is invalid
    return (
        dims.join(F.broadcast(agg), ["bucket_w", "bucket_h"], "left")
        .select(
            "bucket_w",
            "bucket_h",
            F.coalesce("n_images", F.lit(0)).cast("long").alias(
                "n_images"
            ),
            "avg_waste_frac",
        )
        .orderBy("bucket_w", "bucket_h")
    )


SEGMENT_SCHEMA = (
    "doc_id long, seg_id int, start_frame long, end_frame long, "
    "n_frames long, avg_energy double"
)


def pcm_energy_segments(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    frame_len: int = 16,
    threshold: float = 2000.0,
) -> DataFrame:
    """mapInPandas over PCM-like binary payloads -> energy-gated
    segments (the voice-activity-detection shape): frame the samples,
    compute per-frame mean-square energy around the u8 midpoint, gate
    on a threshold, and merge consecutive voiced frames into segments
    with numpy run-length islands. Only (id, segment bounds, stats)
    rows leave the Python worker — the |payload|-sized sample and
    frame intermediates never hit a shuffle, the same zero-exchange
    contract as payload_byte_entropy.

    Numerics: frame energy = sum((b-128)^2)/frame_len is an exact
    multiple of 1/frame_len in double (integer squares, bounded sum),
    so segment means are order-free and reproduce bit-for-bit in SQL
    UNROUNDED — rounding would actually break the match, because the
    means live on a 1/(16*n) grid where 6dp ties are common and
    numpy (banker's) and SQL (half-up) break ties differently."""
    import numpy as np

    def batches(it):
        for pdf in it:
            cols = {
                "doc_id": [],
                "seg_id": [],
                "start_frame": [],
                "end_frame": [],
                "n_frames": [],
                "avg_energy": [],
            }
            for i, payload in zip(pdf[id_col], pdf[binary_col]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                nf = arr.size // frame_len
                if nf == 0:
                    continue
                fr = (
                    arr[: nf * frame_len]
                    .astype(np.float64)
                    .reshape(nf, frame_len)
                )
                energy = ((fr - 128.0) ** 2).sum(axis=1) / frame_len
                idx = np.flatnonzero(energy >= threshold)
                if idx.size == 0:
                    continue
                brk = np.flatnonzero(np.diff(idx) > 1)
                starts = np.concatenate(([idx[0]], idx[brk + 1]))
                ends = np.concatenate((idx[brk], [idx[-1]]))
                for seg_id, (s, t) in enumerate(
                    zip(starts, ends), start=1
                ):
                    cols["doc_id"].append(int(i))
                    cols["seg_id"].append(seg_id)
                    cols["start_frame"].append(int(s))
                    cols["end_frame"].append(int(t))
                    cols["n_frames"].append(int(t - s + 1))
                    cols["avg_energy"].append(
                        float(energy[s : t + 1].mean())
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(cols["doc_id"], dtype="int64"),
                    "seg_id": pd.Series(cols["seg_id"], dtype="int32"),
                    "start_frame": pd.Series(
                        cols["start_frame"], dtype="int64"
                    ),
                    "end_frame": pd.Series(
                        cols["end_frame"], dtype="int64"
                    ),
                    "n_frames": pd.Series(cols["n_frames"], dtype="int64"),
                    "avg_energy": pd.Series(
                        cols["avg_energy"], dtype="float64"
                    ),
                }
            )

    return df.select(id_col, binary_col).mapInPandas(
        batches, SEGMENT_SCHEMA
    )


@query(
    "q_m14_pcm_energy_segments",
    oracle=r"""
    WITH p AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    b AS (
      SELECT doc_id, CAST((r.i - 1) // 16 AS BIGINT) AS frame,
             (CASE WHEN ascii(substring(h, CAST(2*r.i-1 AS INT), 1)) >= 65
                   THEN ascii(substring(h, CAST(2*r.i-1 AS INT), 1)) - 55
                   ELSE ascii(substring(h, CAST(2*r.i-1 AS INT), 1)) - 48
              END) * 16
             + (CASE WHEN ascii(substring(h, CAST(2*r.i AS INT), 1)) >= 65
                     THEN ascii(substring(h, CAST(2*r.i AS INT), 1)) - 55
                     ELSE ascii(substring(h, CAST(2*r.i AS INT), 1)) - 48
                END) AS byte
      FROM p, UNNEST(range(1, CAST(n // 16 AS BIGINT) * 16 + 1)) AS r(i)
    ),
    e AS (
      SELECT doc_id, frame,
             SUM((byte - 128.0) * (byte - 128.0)) / 16 AS energy
      FROM b GROUP BY doc_id, frame
    ),
    v AS (
      SELECT doc_id, frame, energy,
             frame - ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY frame) AS isl
      FROM e WHERE energy >= 2000.0
    ),
    seg AS (
      SELECT doc_id, MIN(frame) AS start_frame, MAX(frame) AS end_frame,
             CAST(COUNT(*) AS BIGINT) AS n_frames,
             AVG(energy) AS avg_energy
      FROM v GROUP BY doc_id, isl
    )
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY start_frame) AS INT) AS seg_id,
           start_frame, end_frame, n_frames, avg_energy
    FROM seg ORDER BY doc_id, seg_id
    """,
)
def q_m14_pcm_energy_segments(spark, sf_dir):
    """M14 (extension): audio ACTIVITY SEGMENTATION over the opaque
    binary column — frame the payload as PCM samples, compute
    per-frame energy, and merge threshold-crossing frames into voiced
    segments (start/end/duration/mean energy). This is the
    silence-trim / utterance-split stage of an audio training
    pipeline (the step before per-segment transcription or
    embedding); M2 samples frames at fixed stride, this finds
    CONTENT-dependent boundaries.

    The codec-decode slot keeps the M1 convention: real audio arrives
    as int16 PCM from the stubbed decoder (multimodal.py:50); the
    fixture payload is the documents' UTF-8 bytes read as u8 samples,
    which exercises identical framing/gating/merging machinery and
    lets the oracle recompute every byte from the HEX expansion (the
    M11 trick) plus SQL gaps-and-islands over voiced frames. The
    threshold (2000) sits at the measured ~p25 of fixture frame
    energies, so both gate outcomes and multi-segment docs occur.

    Scale: one map-side pass, no shuffle, no explode — the
    1000-samples-per-row blowup a SQL unnest would pay stays inside
    numpy (the oracle's UNNEST is the verification cost, not the
    engine's). Segment rows (sparse) are all that exits; the final
    global sort is presentation-only. Trailing partial frames are
    dropped on both sides (full 16-sample frames only)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return pcm_energy_segments(d, "payload", "doc_id").orderBy(
        "doc_id", "seg_id"
    )


SHOT_SCHEMA = (
    "doc_id long, shot_id int, start_frame long, end_frame long, "
    "n_frames long, avg_level double"
)


def scene_cut_shots(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    frame_len: int = 32,
    cut_threshold: float = 3.0,
) -> DataFrame:
    """mapInPandas over video-like binary payloads -> SHOT table: a
    cut falls wherever the frame-level signal jumps by more than the
    threshold between CONSECUTIVE frames (temporal first derivative —
    M14 gates on the absolute level, this on the change), and shots
    are the contiguous runs between cuts, so every full frame belongs
    to exactly one shot. The per-frame signal is the mean sample
    value; real deployments swap in any per-frame scalar (histogram
    distance, embedding delta) without touching the segmentation.

    Numerics: frame means are exact multiples of 1/frame_len
    (frame_len a power of two), deltas and the threshold compare
    exactly, and shot-level means of means are order-free sums —
    emitted UNROUNDED (the M14 tie lesson)."""
    import numpy as np

    def batches(it):
        for pdf in it:
            cols = {
                "doc_id": [],
                "shot_id": [],
                "start_frame": [],
                "end_frame": [],
                "n_frames": [],
                "avg_level": [],
            }
            for i, payload in zip(pdf[id_col], pdf[binary_col]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                nf = arr.size // frame_len
                if nf == 0:
                    continue
                means = (
                    arr[: nf * frame_len]
                    .astype(np.float64)
                    .reshape(nf, frame_len)
                    .sum(axis=1)
                    / frame_len
                )
                cut = np.zeros(nf, dtype=np.int64)
                if nf > 1:
                    cut[1:] = (
                        np.abs(np.diff(means)) >= cut_threshold
                    ).astype(np.int64)
                shot = np.cumsum(cut) + 1
                for sid in range(1, int(shot[-1]) + 1):
                    idx = np.flatnonzero(shot == sid)
                    cols["doc_id"].append(int(i))
                    cols["shot_id"].append(sid)
                    cols["start_frame"].append(int(idx[0]))
                    cols["end_frame"].append(int(idx[-1]))
                    cols["n_frames"].append(int(idx.size))
                    cols["avg_level"].append(float(means[idx].mean()))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(cols["doc_id"], dtype="int64"),
                    "shot_id": pd.Series(cols["shot_id"], dtype="int32"),
                    "start_frame": pd.Series(
                        cols["start_frame"], dtype="int64"
                    ),
                    "end_frame": pd.Series(
                        cols["end_frame"], dtype="int64"
                    ),
                    "n_frames": pd.Series(cols["n_frames"], dtype="int64"),
                    "avg_level": pd.Series(
                        cols["avg_level"], dtype="float64"
                    ),
                }
            )

    return df.select(id_col, binary_col).mapInPandas(batches, SHOT_SCHEMA)


@query(
    "q_m15_scene_cut_shots",
    oracle=r"""
    WITH p AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n
      FROM documents
    ),
    b AS (
      SELECT doc_id, CAST((r.i - 1) // 32 AS BIGINT) AS frame,
             (CASE WHEN ascii(substring(h, CAST(2*r.i-1 AS INT), 1)) >= 65
                   THEN ascii(substring(h, CAST(2*r.i-1 AS INT), 1)) - 55
                   ELSE ascii(substring(h, CAST(2*r.i-1 AS INT), 1)) - 48
              END) * 16
             + (CASE WHEN ascii(substring(h, CAST(2*r.i AS INT), 1)) >= 65
                     THEN ascii(substring(h, CAST(2*r.i AS INT), 1)) - 55
                     ELSE ascii(substring(h, CAST(2*r.i AS INT), 1)) - 48
                END) AS byte
      FROM p, UNNEST(range(1, CAST(n // 32 AS BIGINT) * 32 + 1)) AS r(i)
    ),
    m AS (
      SELECT doc_id, frame, SUM(byte) / 32.0 AS mean_b
      FROM b GROUP BY doc_id, frame
    ),
    c AS (
      SELECT doc_id, frame, mean_b,
             CASE WHEN ABS(mean_b - LAG(mean_b) OVER w) >= 3.0
                  THEN 1 ELSE 0 END AS cut
      FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY frame)
    ),
    s AS (
      SELECT doc_id, frame, mean_b,
             SUM(cut) OVER (PARTITION BY doc_id ORDER BY frame
                            ROWS UNBOUNDED PRECEDING) + 1 AS shot_id
      FROM c
    )
    SELECT doc_id, CAST(shot_id AS INT) AS shot_id,
           MIN(frame) AS start_frame, MAX(frame) AS end_frame,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           AVG(mean_b) AS avg_level
    FROM s GROUP BY doc_id, shot_id
    ORDER BY doc_id, shot_id
    """,
)
def q_m15_scene_cut_shots(spark, sf_dir):
    """M15 (extension): video SHOT segmentation — scene-cut detection
    on the temporal derivative of a per-frame signal, partitioning
    every payload's timeline into contiguous shots. The companion to
    M14 (which gates on absolute level and emits only loud segments):
    a cut falls where the frame mean jumps >= 3.0 against the previous
    frame, and every full frame lands in exactly one shot — the shape
    a keyframe sampler or per-shot captioner consumes (M2's fixed
    stride is the content-blind baseline this replaces).

    Codec slot per the M1 convention: a real decoder yields per-frame
    pixel buffers and any per-frame scalar/histogram plugs into the
    same cut rule; the fixture payload is the documents' UTF-8 bytes
    as 32-byte frames, keeping every step byte-reproducible in SQL
    (hex-pair expansion + LAG + running cut-count gaps-and-islands).

    Numerics: frame means live on the 1/32 grid (exact doubles), the
    threshold compare is exact, and shot means of means are order-free
    sums emitted UNROUNDED (the M14 banker's-tie lesson).

    Scale: one map-side numpy pass, zero shuffle — the per-frame
    intermediates (the oracle's UNNEST blowup) never leave the
    worker; only shot rows exit, and the final sort is
    presentation-only."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return scene_cut_shots(d, "payload", "doc_id").orderBy(
        "doc_id", "shot_id"
    )


@query(
    "q_m16_manifest_reconciliation",
    oracle="""
    WITH manifest AS (
      SELECT doc_id, doc_id % 8 AS shard, sha256(text) AS want_sha
      FROM documents
    ),
    store AS (
      -- the store drifted from the manifest in all three ways:
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 2
                  THEN sha256(text || '!corrupt')
                  ELSE sha256(text) END AS have_sha
      FROM documents
      WHERE doc_id % 13 <> 5          -- some payloads vanished
      UNION ALL                       -- and some exist unmanifested
      SELECT doc_id + 2000000, sha256(text)
      FROM documents WHERE doc_id % 19 = 7
    ),
    j AS (
      SELECT COALESCE(m.doc_id, s.doc_id) AS doc_id,
             COALESCE(m.shard, COALESCE(m.doc_id, s.doc_id) % 8)
               AS shard,
             CASE
               WHEN s.doc_id IS NULL THEN 'missing'
               WHEN m.doc_id IS NULL THEN 'orphan'
               WHEN m.want_sha <> s.have_sha THEN 'mismatch'
               ELSE 'ok' END AS status
      FROM manifest m FULL OUTER JOIN store s
        ON m.doc_id = s.doc_id
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(SUM(CASE WHEN status = 'ok' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ok,
           CAST(SUM(CASE WHEN status = 'missing' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_missing,
           CAST(SUM(CASE WHEN status = 'mismatch' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatch,
           CAST(SUM(CASE WHEN status = 'orphan' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_orphan,
           CAST(SUM(CASE WHEN status IN ('missing', 'mismatch')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_refetch,
           CAST(SUM(CASE WHEN status = 'orphan' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_quarantine
    FROM j GROUP BY shard ORDER BY shard
    """,
)
def q_m16_manifest_reconciliation(spark, sf_dir):
    """M16 (extension): manifest<->store RECONCILIATION — the
    three-way existence/identity diff that turns "is the media lake
    consistent with its manifest?" into a per-shard repair plan. M7
    checks BIT integrity of payloads the store has; M6 assembles the
    manifest; this closes the loop: entries whose payload VANISHED
    (lifecycle rule, failed transfer) -> refetch; payloads no
    manifest claims (aborted multipart uploads, superseded versions)
    -> quarantine; sha disagreement between the two -> refetch. At
    100 TB this runs before every training launch — a dataloader
    that discovers 'missing' at step 40k wastes a cluster-day.

    Drift is planted deterministically in all three classes
    (doc_id % 13 == 5 vanished, % 19 == 7 orphaned under shifted
    ids, % 17 == 2 corrupted), mirrored in the oracle, so every
    status and both repair actions carry non-zero mass on the
    fixture.

    Scale: ONE full-outer equi-join on the id (both sides narrow
    projections — ids and 64-hex digests, payload bytes never move),
    then a shard-keyed rollup. With both tables bucketed on the id
    (B60's layout) the join co-locates and the reconciliation costs
    one narrow scan per side."""
    d = load_table(spark, sf_dir, "documents")
    manifest = widen(d).select(
        F.col("doc_id").alias("m_id"),
        (F.col("doc_id") % 8).alias("shard"),
        F.sha2("text", 256).alias("want_sha"),
    )
    store = (
        d.where(F.col("doc_id") % 13 != 5)
        .select(
            F.col("doc_id").alias("s_id"),
            F.when(
                F.col("doc_id") % 17 == 2,
                F.sha2(F.concat(F.col("text"), F.lit("!corrupt")), 256),
            )
            .otherwise(F.sha2("text", 256))
            .alias("have_sha"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 19 == 7).select(
                (F.col("doc_id") + 2_000_000).alias("s_id"),
                F.sha2("text", 256).alias("have_sha"),
            )
        )
    )
    j = manifest.join(
        store, F.col("m_id") == F.col("s_id"), "full_outer"
    ).select(
        F.coalesce(
            F.col("shard"),
            F.coalesce(F.col("m_id"), F.col("s_id")) % 8,
        ).alias("shard"),
        F.when(F.col("s_id").isNull(), F.lit("missing"))
        .when(F.col("m_id").isNull(), F.lit("orphan"))
        .when(F.col("want_sha") != F.col("have_sha"), F.lit("mismatch"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )
    c = lambda s: F.sum((F.col("status") == s).cast("long"))  # noqa: E731
    return (
        j.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            c("ok").alias("n_ok"),
            c("missing").alias("n_missing"),
            c("mismatch").alias("n_mismatch"),
            c("orphan").alias("n_orphan"),
            (c("missing") + c("mismatch")).alias("n_refetch"),
            c("orphan").alias("n_quarantine"),
        )
        .orderBy("shard")
    )


# M17 fetch coalescing knobs: requested members = every 3rd doc (a
# deterministic sampled batch); ranges <= _M17_GAP bytes apart merge
# into one GET. 2048 at fixture scale (tar members are ~512-4k) so
# both merged multi-member groups and singleton fetches occur.
_M17_GAP = 2048


@query(
    "q_m17_byte_range_fetch_plan",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, octet_length(encode(text)) AS n_bytes FROM documents
    ),
    sharded AS (
      SELECT doc_id, n_bytes,
             CAST(FLOOR(CAST(SUM(n_bytes) OVER (ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_bytes AS DOUBLE)
                        / 4096) AS BIGINT) AS shard_id,
             512 + CAST(CEIL(n_bytes / 512.0) AS BIGINT) * 512
               AS padded_bytes
      FROM p
    ),
    members AS (
      SELECT doc_id, shard_id, padded_bytes,
             COALESCE(CAST(SUM(padded_bytes) OVER (PARTITION BY shard_id
                             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS BIGINT), 0) AS member_offset
      FROM sharded
    ),
    needed AS (
      SELECT *,
             member_offset + padded_bytes AS member_end,
             CASE WHEN member_offset
                       - COALESCE(MAX(member_offset + padded_bytes) OVER (
                           PARTITION BY shard_id ORDER BY member_offset
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         member_offset) > {_M17_GAP}
                  THEN 1 ELSE 0 END AS brk
      FROM members WHERE doc_id % 3 = 0
    ),
    grouped AS (
      SELECT *,
             SUM(brk) OVER (PARTITION BY shard_id ORDER BY member_offset
                            ROWS UNBOUNDED PRECEDING) AS grp
      FROM needed
    )
    SELECT shard_id, CAST(grp AS BIGINT) AS fetch_group,
           CAST(MIN(member_offset) AS BIGINT) AS start_byte,
           CAST(MAX(member_end) AS BIGINT) AS end_byte,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(member_end) - MIN(member_offset) AS BIGINT)
             AS fetched_bytes,
           CAST(SUM(padded_bytes) AS BIGINT) AS useful_bytes
    FROM grouped
    GROUP BY shard_id, grp
    ORDER BY shard_id, fetch_group
    """,
)
def q_m17_byte_range_fetch_plan(spark, sf_dir):
    """M17 (extension): coalesced byte-range FETCH PLAN — given M10's
    member offsets and a sampled batch (every 3rd doc, the
    deterministic stand-in for a dataloader's shuffled slice), emit
    the ranged GETs the loader should issue per shard: adjacent
    needed members whose gap is <= GAP bytes merge into one request
    (start, end, members covered, fetched vs useful bytes). This is
    the S3/GCS range-coalescing every multimodal loader implements —
    per-member GETs die by request count, whole-shard GETs by
    amplification when the batch needs 1/3 of the bytes; the plan
    quantifies both (useful_bytes/fetched_bytes is the amplification
    the GAP knob trades against request count).

    Shape: M10's member table (shared two-phase prefix sum + the
    shard-bounded offset window), filter to the batch, then
    gaps-and-islands per shard: brk = gap-to-running-max-end > GAP,
    group = running sum of brk, one rollup per (shard, group). All
    windows partition by shard_id — byte-budget-bounded membership,
    trivially parallel. Integer byte arithmetic end-to-end (the
    ranges must be byte-exact or the reader desyncs — M10's rule).

    Scale: metadata-only (payload bytes never move); output is
    request-plan-sized. The running-max-end form (not lag) makes the
    islands correct even when a skipped member's range nests inside
    the union of earlier ones."""
    from etl_spark_eks_spark.operators.sampling import running_total_before

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    meta = d.select(
        "doc_id", F.length("payload").cast("long").alias("n_bytes")
    )
    sharded = running_total_before(meta, "doc_id", "n_bytes").select(
        "doc_id",
        "n_bytes",
        F.floor(F.col("__cum_before").cast("double") / 4096)
        .cast("bigint")
        .alias("shard_id"),
        (512 + F.ceil(F.col("n_bytes") / 512.0).cast("bigint") * 512).alias(
            "padded_bytes"
        ),
    )
    w_off = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    members = sharded.select(
        "doc_id",
        "shard_id",
        "padded_bytes",
        F.coalesce(F.sum("padded_bytes").over(w_off), F.lit(0))
        .cast("long")
        .alias("member_offset"),
    )
    needed = members.filter(F.col("doc_id") % 3 == 0).withColumn(
        "member_end", F.col("member_offset") + F.col("padded_bytes")
    )
    w_prev = (
        Window.partitionBy("shard_id")
        .orderBy("member_offset")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (
        F.col("member_offset")
        - F.coalesce(
            F.max("member_end").over(w_prev), F.col("member_offset")
        )
        > _M17_GAP
    ).cast("int")
    w_grp = (
        Window.partitionBy("shard_id")
        .orderBy("member_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = needed.withColumn("brk", brk).withColumn(
        "fetch_group", F.sum("brk").over(w_grp).cast("long")
    )
    return (
        grouped.groupBy("shard_id", "fetch_group")
        .agg(
            F.min("member_offset").cast("long").alias("start_byte"),
            F.max("member_end").cast("long").alias("end_byte"),
            F.count("*").cast("long").alias("n_members"),
            (F.max("member_end") - F.min("member_offset"))
            .cast("long")
            .alias("fetched_bytes"),
            F.sum("padded_bytes").cast("long").alias("useful_bytes"),
        )
        .orderBy("shard_id", "fetch_group")
    )


@query(
    "q_m18_paired_modality_dedup",
    oracle=r"""
    WITH suffixed AS (
      -- payload: caption content + a per-doc suffix for docs in the
      -- %7 class, so text-dup clones can carry DIFFERENT media
      -- (re-render/transcode). VARCHAR here, bytes on the Spark
      -- side: md5 of a UTF-8 string equals md5 of its encoded
      -- bytes, and only the dup GROUPING matters.
      SELECT doc_id, text,
             text || CASE WHEN doc_id % 7 = 0
                          THEN '|' || CAST(doc_id AS VARCHAR)
                          ELSE '' END AS pay
      FROM documents
    ), corpus AS (
      SELECT doc_id, text, pay AS payload FROM suffixed
      UNION ALL   -- text clones (media may differ via the suffix)
      SELECT s.doc_id + 2000000, s.text,
             s.text || CASE WHEN (s.doc_id + 2000000) % 7 = 0
                            THEN '|' || CAST(s.doc_id + 2000000 AS VARCHAR)
                            ELSE '' END
      FROM suffixed s WHERE s.doc_id % 89 = 0
      UNION ALL   -- caption variants: NEW text, the ORIGINAL payload
      SELECT s.doc_id + 4000000, s.text || ' altcap', s.pay
      FROM suffixed s WHERE s.doc_id % 97 = 0
    ), keyed AS (
      SELECT doc_id,
             (doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)))
               AS text_dup,
             (doc_id <> MIN(doc_id) OVER (PARTITION BY md5(payload)))
               AS media_dup
      FROM corpus
    )
    SELECT CASE WHEN text_dup AND media_dup THEN 'drop_full_dup'
                WHEN text_dup AND NOT media_dup THEN 'keep_media_variant'
                WHEN NOT text_dup AND media_dup THEN 'review_caption_variant'
                ELSE 'keep_unique' END AS verdict,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(doc_id) AS BIGINT) AS example_doc
    FROM keyed
    GROUP BY 1 ORDER BY 1
    """,
)
def q_m18_paired_modality_dedup(spark, sf_dir):
    """M18 (extension): PAIRED-modality dedup decisions — a multimodal
    sample is a (caption, payload) PAIR, and deduping either side
    alone is wrong in a different way: dropping on text-dup discards
    distinct renders/transcodes of the same caption (real signal for
    a vision tower); dropping on payload-dup discards re-captioned
    images (real signal for the text tower). The decision is the
    CROSS-classification: both dup -> drop, text-dup with distinct
    media -> keep as media variant, media-dup with distinct text ->
    route to caption review (usually scrape noise), neither -> keep.
    Emitted as a verdict histogram with a deterministic example per
    class. Fixture payloads derive from captions with a planted
    per-doc suffix on one id class, C111-style text clones, AND
    re-captioned variants (new text, original payload), so ALL FOUR
    classes carry mass each run — invariant-tested (the C15
    vacuous-test lesson); M4/M9 provide the real perceptual/chunk
    hashes this decision consumes at production.

    Integer/hash-exact: both dup flags are min-id window comparisons
    over md5 keys (C1's rule per modality — no float similarity in
    the exact tier).

    Scale: two md5-keyed windows (the C1 exchange, once per
    modality — at 100 TB both run on hash+id projections, payload
    BYTES never shuffle: the md5 is computed in the scan projection)
    + a 4-row rollup."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def suffixed_pay(text_col, id_col):
        return F.concat(
            text_col,
            F.when(
                id_col % 7 == 0,
                F.concat(F.lit("|"), id_col.cast("string")),
            ).otherwise(F.lit("")),
        )

    base = d.select(
        "doc_id", "text",
        suffixed_pay(F.col("text"), F.col("doc_id")).alias("pay"),
    )
    clones = base.filter(F.col("doc_id") % 89 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "text",
        suffixed_pay(
            F.col("text"), F.col("doc_id") + 2_000_000
        ).alias("pay"),
    )
    variants = base.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 4_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" altcap")).alias("text"),
        F.col("pay"),  # the ORIGINAL payload — a re-captioned sample
    )
    corpus = (
        base.unionByName(clones)
        .unionByName(variants)
        .select(
            "doc_id", "text", F.encode("pay", "UTF-8").alias("payload")
        )
    )
    w_t = Window.partitionBy(F.md5("text"))
    w_m = Window.partitionBy(F.md5("payload"))
    keyed = corpus.select(
        "doc_id",
        (F.col("doc_id") != F.min("doc_id").over(w_t)).alias("text_dup"),
        (F.col("doc_id") != F.min("doc_id").over(w_m)).alias("media_dup"),
    )
    verdict = (
        F.when(
            F.col("text_dup") & F.col("media_dup"), F.lit("drop_full_dup")
        )
        .when(
            F.col("text_dup") & ~F.col("media_dup"),
            F.lit("keep_media_variant"),
        )
        .when(
            ~F.col("text_dup") & F.col("media_dup"),
            F.lit("review_caption_variant"),
        )
        .otherwise(F.lit("keep_unique"))
    )
    return (
        keyed.groupBy(verdict.alias("verdict"))
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.min("doc_id").cast("long").alias("example_doc"),
        )
        .orderBy("verdict")
    )


@query(
    "q_m19_modality_interleave_schedule",
    oracle="""
    WITH payloads AS (
      SELECT doc_id, octet_length(encode(text)) AS n FROM documents
    ), m AS (
      SELECT doc_id,
             CASE WHEN n % 4 IN (0, 1) THEN 'image'
                  WHEN n % 4 = 2 THEN 'audio' ELSE 'video' END AS modality
      FROM payloads
    ), pos AS (
      SELECT doc_id, modality,
             ROW_NUMBER() OVER (PARTITION BY modality ORDER BY doc_id)
               - 1 AS mod_pos
      FROM m
    )
    SELECT CAST(ROW_NUMBER() OVER (
             ORDER BY mod_pos, modality) - 1 AS BIGINT) AS step,
           doc_id, modality, CAST(mod_pos AS BIGINT) AS mod_pos
    FROM pos
    ORDER BY step
    """,
)
def q_m19_modality_interleave_schedule(spark, sf_dir):
    """M19 (extension): MODALITY-INTERLEAVED training schedule — a
    deterministic global training order that round-robins the
    modalities (audio/image/video, from the stub media metadata)
    cycle by cycle: step k of each cycle serves each surviving
    modality once, in modality-name order, until the smaller
    modalities exhaust and the schedule drains the rest. This is
    C70's curriculum-interleave need at the MODALITY level — a
    multimodal run starves (and its gradient mix drifts) if a shard
    boundary delivers an hour of video and no text; the schedule
    pins the mix at data-prep time, the M6 manifest consumes it.

    The scale point is HOW the step number is computed: NOT with the
    oracle's global ROW_NUMBER (a single-task sort at any cluster
    size) but in CLOSED FORM — step(doc) = number of (mod_pos',
    modality') pairs ordering before (p, r) = sum over modalities m
    of min(p, count_m) + [rank_m < r AND count_m > p] — from (a)
    per-modality positions via the shared two-phase prefix sum
    (running_total_before, C24/C46's primitive; weight 1, keyed by
    modality) and (b) a 1-row broadcast fold of the 3 modality
    counts, evaluated per row with a higher-order aggregate. Zero
    global windows, zero corpus-sized single partitions; the oracle
    recomputes the same order the slow way and the hash certifies
    the closed form.

    plan-lint allowlist (cartesian): the 1-row modality-counts fold
    broadcast-cross-joined onto the corpus (C26's class).
    plan-lint allowlist (single_part): that fold's final 3-row
    aggregate, plus the prefix-sum offset window over id-range
    buckets (C24's class)."""
    d = load_table(spark, sf_dir, "documents")
    n = F.octet_length(F.encode("text", "UTF-8"))
    m = d.select(
        "doc_id",
        F.when(n % 4 <= 1, F.lit("image"))
        .when(n % 4 == 2, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
    )
    return interleave_schedule(m)


def interleave_schedule(m):
    """M19's closed-form round-robin over (doc_id, modality in
    {audio, image, video}) — factored so the fairness law is testable
    on arbitrary assignments (tests/test_properties.py::
    test_interleave_schedule_fairness fuzzes it against a brute-force
    round-robin and the |served_a - served_b| <= 1 prefix bound)."""
    from etl_spark_eks_spark.operators.sampling import (
        running_total_before,
    )

    m = m.withColumn("w", F.lit(1).cast("long"))
    pos = running_total_before(
        m, "doc_id", "w", 256, partition_cols=("modality",)
    ).withColumnRenamed("__cum_before", "mod_pos")
    counts = m.groupBy("modality").agg(
        F.count("*").cast("long").alias("c")
    )
    fold = counts.agg(
        F.collect_list(F.struct("modality", "c")).alias("cs")
    )
    rank = (
        F.when(F.col("modality") == "audio", 0)
        .when(F.col("modality") == "image", 1)
        .otherwise(2)
    )

    def _rank_of(s):
        return (
            F.when(s["modality"] == "audio", 0)
            .when(s["modality"] == "image", 1)
            .otherwise(2)
        )

    p = F.col("mod_pos")
    step = F.aggregate(
        "cs",
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.least(p, s["c"])
        + F.when((_rank_of(s) < rank) & (s["c"] > p), 1)
        .otherwise(0)
        .cast("long"),
    )
    return (
        pos.crossJoin(F.broadcast(fold))
        .select(
            step.alias("step"),
            "doc_id",
            "modality",
            F.col("mod_pos").cast("long").alias("mod_pos"),
        )
        .orderBy("step")
    )
