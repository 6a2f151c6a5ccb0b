"""Text-analysis primitives for LLM-training-data pipelines: tokenize,
shingles, token and shingle hashes, MinHash band hashes, SimHash,
shingle fingerprints, per-doc quality stats.

Catalyst expressions (split/transform/aggregate/hash) — per-row,
shuffle-free — plus one Arrow-batched MinHash kernel. Two hash
families: xxhash64 over tokens (JVM-only, for set and shingle
identities whose values never reach a query's output) and the
engine-portable md5 family below (for outputs an oracle must
reproduce). Both are deterministic across runs, executors, and Spark
versions (a requirement for incremental dedup at 100 TB: yesterday's
signatures must still be valid tomorrow).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(text: Column | str, lowercase: bool = False) -> Column:
    """Whitespace tokenization -> array<string> (empty tokens dropped)."""
    t = _c(text)
    if lowercase:
        t = F.lower(t)
    return F.filter(F.split(t, r"\s+"), lambda x: x != "")


def shingles(tokens: Column | str, k: int = 3) -> Column:
    """k-token shingles: array of space-joined consecutive k-grams.
    Documents shorter than k tokens yield an empty array. (The short-doc
    guard must wrap the whole expression: Spark's ``sequence(1, stop)``
    turns DESCENDING when stop < 1, and ``slice`` rejects start 0.)"""
    t = _c(tokens)
    n = F.size(t)
    idx = F.sequence(F.lit(1), n - (k - 1))
    return F.when(
        n >= k, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, k)))
    ).otherwise(F.array().cast("array<string>"))


def ordered_token_hashes(tokens: Column | str) -> Column:
    """Tokens -> array<long> of xxhash64 values, ORDER PRESERVED (for
    shingling; use ``token_hashes`` for set semantics). Materialize this
    as a named column before feeding it to ``shingle_hashes`` — the
    plan-shape rule of ``portable_minhash_band_hashes``: an inline
    expression would be textually re-expanded at every element_at
    reference."""
    return F.transform(_c(tokens), lambda t: F.xxhash64(t))


def shingle_hashes(token_hash_col: Column | str, k: int = 3) -> Column:
    """k-token shingle hashes straight from an ordered token-hash
    column: shingle i -> xxhash64(h[i], .., h[i+k-1]) — no k-token
    string is ever built. Measured 3.3x faster than hashing
    ``concat_ws`` shingle strings at sf0.1 (string shingles allocate
    ~3x the text per row; this reads k longs). Injective w.r.t. the
    string shingle up to a 2^-64 token-hash collision, so set sizes —
    hence Jaccard values — are preserved and string-side SQL oracles
    still match. Docs shorter than k tokens yield an empty array."""
    h = _c(token_hash_col)
    n = F.size(h)
    idx = F.sequence(F.lit(1), n - (k - 1))
    return F.when(
        n >= k,
        F.transform(
            idx, lambda i: F.xxhash64(*[F.element_at(h, i + j) for j in range(k)])
        ),
    ).otherwise(F.array().cast("array<long>"))


def token_hashes(tokens: Column | str) -> Column:
    """Distinct tokens -> array<long> of xxhash64 values. Hashing to
    longs FIRST means every downstream hash family re-hashes an 8-byte
    primitive instead of re-reading (and re-allocating) the token
    string; set sizes are preserved up to a 2^-64 collision."""
    return F.array_distinct(F.transform(_c(tokens), lambda t: F.xxhash64(t)))


def simhash32_from_hashes(token_hash_col: Column | str) -> Column:
    """32-bit SimHash from a MATERIALIZED token-hash column: per bit
    position, sum +-1 over token hashes, take the sign. Near-duplicate
    docs have small Hamming distance.

    Per-row, no shuffle: one sequential fold over the hash array
    accumulating a 32-int array, then Horner-packed into a long.
    Taking pre-hashed longs matters: higher-order lambdas are
    interpreted with no CSE, so an inline ``xxhash64(token)`` embedded
    in the 32 bit-branches re-hashes every token string 32 times.
    Constant Python-side shifts only (Spark's shiftright wrapper does
    not take a Column shift), and 32 bits so Horner packing (acc*2+bit)
    can't overflow a signed long under ANSI arithmetic.
    """
    toks = _c(token_hash_col)
    n_bits = 32

    def contrib(h: Column) -> Column:
        return F.array(
            *[
                F.when(
                    F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, F.lit(1)
                ).otherwise(F.lit(-1))
                for i in range(n_bits)
            ]
        )

    zeros = F.array(*[F.lit(0) for _ in range(n_bits)])
    counts = F.aggregate(
        toks, zeros, lambda acc, h: F.zip_with(acc, contrib(h), lambda a, b: a + b)
    )
    # Horner pack, MSB first: acc = acc*2 + (count>0)
    return F.aggregate(
        F.reverse(counts),
        F.lit(0).cast("long"),
        lambda acc, c: acc * 2 + F.when(c > 0, 1).otherwise(0),
    )


# ---------------------------------------------------------------------------
# Engine-portable hash family (round 11). The xxhash64 family above is a JVM
# intrinsic over 8-byte primitives but is not expressible in DuckDB, so
# operators whose OUTPUT is hash-family-dependent (MinHash bands, SimHash
# signatures, shingle fingerprints) use this family to earn a hash oracle.
# This family extends the proven hash_bucket contract (operators/sampling.py):
#   Spark  conv(substr(md5(x), 1, N), 16, 10)::BIGINT
#   DuckDB ('0x' || substr(md5(x), 1, N))::BIGINT
# verified bit-equal for N=8 since round 2 and for N=15 in round 11. Per-seed
# MinHash permutations are (a_s*h + b_s) mod P over P = 2^31-1 (the classic
# universal family, Spark MinHashLSH's shape) with sha256-derived plan-time
# constants — integer-exact on both engines, no overflow: a,b <= 2^31-2 and
# h <= 2^32-1 (portable_hash32 is 8 hex chars = 32 bits, NOT 31), so
# max(a*h + b) = (2^31-2)*(2^32-1) + (2^31-2) = 2^63 - 2^33 — inside signed
# 64-bit with only ~2^33 headroom. Any widening of portable_hash32 (e.g. 9
# hex chars) overflows silently on Spark (non-ANSI wraps) while DuckDB
# errors — divergent engines; test_portable_hash32_width_contract pins the
# 32-bit width. Cost vs xxhash64: one md5 per token instead of one
# xxhash64, then integer ops per seed — same plan shape, same
# shuffle-free per-row evaluation.

MH_PRIME = 2147483647  # 2^31 - 1


def portable_coeff(tag: str, s: int) -> int:
    """Deterministic coefficient in [1, MH_PRIME-1] from sha256 of
    ``f"{tag}{s}"`` — a plan-time constant both engines share (the
    similarity._plane_sign pattern)."""
    import hashlib

    digest = hashlib.sha256(f"{tag}{s}".encode()).digest()
    return int.from_bytes(digest[:8], "big") % (MH_PRIME - 1) + 1


def portable_hash32(col: Column | str) -> Column:
    """32-bit md5-derived hash of a string column (top 8 hex chars)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 8), 16, 10).cast("long")


def portable_hash64(col: Column | str) -> Column:
    """60-bit md5-derived hash of a string column (top 15 hex chars —
    the widest prefix that fits a signed BIGINT on both engines)."""
    return F.conv(F.substring(F.md5(_c(col)), 1, 15), 16, 10).cast("long")


def ph32_sql(expr: str) -> str:
    """DuckDB mirror of :func:`portable_hash32`."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT)"


def ph64_sql(expr: str) -> str:
    """DuckDB mirror of :func:`portable_hash64`."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def portable_token_hashes(tokens: Column | str) -> Column:
    """Distinct tokens -> array<long> of 32-bit portable hashes
    (set semantics; the portable analogue of ``token_hashes``)."""
    return F.array_distinct(F.transform(_c(tokens), portable_hash32))


def portable_ordered_token_hashes(tokens: Column | str) -> Column:
    """Tokens -> array<long> of 32-bit portable hashes, ORDER PRESERVED
    (for shingling; the portable analogue of ``ordered_token_hashes``)."""
    return F.transform(_c(tokens), portable_hash32)


def portable_minhash_band_hashes(
    token_hash_col: Column | str, n_hashes: int, n_bands: int
) -> Column:
    """Portable-family LSH band hashes: minhash[s] = min over token
    hashes of (a_s*h + b_s) mod P; band b = portable_hash64 of the
    comma-joined row minima. The declarative reference for
    :func:`portable_minhash_bands_np`, which the queries run.

    Plan-shape contract (why bands are built straight from token
    hashes rather than by composing a signature array with a banding
    step): each per-seed min appears EXACTLY ONCE in the expression
    tree, and the argument must be a projected column, not an inline
    expression. Composing from an inline signature array makes every
    ``element_at(sig, i)`` duplicate the whole 32-min expression, and
    Catalyst's InferFiltersFromGenerate then copies the duplicated tree
    again below the explode — measured ~30x redundant tokenize+hash work
    per row at sf0.1 (the plan string alone was 700 KB). Higher-order
    lambdas are interpreted, not codegen'd, so common-subexpression
    elimination never rescues the composed form. CollapseProject keeps
    the token-hash projection intact because the alias is expensive and
    referenced n_hashes times."""
    rows = n_hashes // n_bands
    toks = _c(token_hash_col)

    def mh(seed: int) -> Column:
        a = portable_coeff("mh_a", seed)
        b = portable_coeff("mh_b", seed)
        return F.array_min(
            F.transform(
                toks, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MH_PRIME)
            )
        )

    return F.array(
        *[
            portable_hash64(
                F.concat_ws(
                    ",", *[mh(b * rows + r).cast("string") for r in range(rows)]
                )
            )
            for b in range(n_bands)
        ]
    )


def portable_minhash_band_sql(n_hashes: int, n_bands: int, hcol: str = "h") -> list[str]:
    """DuckDB expressions (one per band) mirroring
    :func:`portable_minhash_band_hashes` over a token-hash list column."""
    rows = n_hashes // n_bands
    out = []
    for b in range(n_bands):
        mins = []
        for r in range(rows):
            s = b * rows + r
            a_, b_ = portable_coeff("mh_a", s), portable_coeff("mh_b", s)
            mins.append(
                f"CAST(list_min(list_transform({hcol},"
                f" x -> ({a_} * x + {b_}) % {MH_PRIME})) AS VARCHAR)"
            )
        out.append(ph64_sql(f"concat_ws(',', {', '.join(mins)})"))
    return out


def portable_minhash_bands_np(
    df, tokens: Column, id_col: str, n_hashes: int, n_bands: int
):
    """Arrow-batched twin of ``portable_token_hashes`` +
    ``portable_minhash_band_hashes`` (round 12, optimization): takes
    the TOKENIZED document (tokenize stays a Catalyst expression, so
    splitting semantics are byte-identical) and returns (doc_id,
    bands array<long>) computed with hashlib + numpy inside
    ``mapInPandas`` instead of 32 interpreted per-seed array
    transforms + 16 md5 band expressions per row.

    BIT-IDENTITY argument (the similarity._assign_np clause structure):
    (1) the 32-bit token hash is ``int(md5(token_utf8)[:8], 16)`` —
    hashlib md5 over the token's UTF-8 bytes is the same digest the
    JVM computes, and the 8-hex-char prefix parse matches
    conv(substr(..),16,10); (2) per-seed minima min((a*h+b) % P) are
    order-independent over the DISTINCT hash set, exact in int64
    (max a*h+b = 2^63 - 2^33, the documented headroom bound);
    (3) the band value is md5 of the comma-joined decimal minima
    ("m0,m1"), ``str(int)`` == CAST(long AS STRING); an empty token
    set makes every per-seed min NULL, which concat_ws SKIPS — the
    band value is md5 of the empty string, replicated here verbatim.
    Asserted column-for-column against the declarative form in
    tests/test_tier_c.py::test_portable_minhash_np_bit_identical.

    Scale: same dataflow (signature per row, shuffle-free; only
    doc_id + 16 band longs come out); the per-task md5 memo across
    repeated tokens is guide §4.5's init-once applied to a cache."""
    import hashlib

    import numpy as np
    import pandas as pd  # noqa: F401

    rows = n_hashes // n_bands
    A = np.array(
        [portable_coeff("mh_a", s) for s in range(n_hashes)], dtype=np.int64
    )
    B = np.array(
        [portable_coeff("mh_b", s) for s in range(n_hashes)], dtype=np.int64
    )

    def batches(it):
        memo: dict[str, int] = {}

        def h32(tok: str) -> int:
            v = memo.get(tok)
            if v is None:
                v = int(
                    hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16
                )
                memo[tok] = v
            return v

        for pdf in it:
            # Bound the per-task memo (ADVICE r12): a task's distinct
            # token vocabulary grows without bound across Arrow batches
            # at production scale; reset past a cap so executor Python
            # heap stays bounded (hit rate within a batch is what the
            # memo exists for).
            if len(memo) > 1_000_000:
                memo.clear()
            out = []
            for toks in pdf["__toks"]:
                # NULL text arrives as None (ADVICE r12): the
                # declarative twin's concat_ws null-skipping yields the
                # md5('') bands for it — same as an empty token set.
                hs = {h32(t) for t in toks} if toks is not None else set()
                if hs:
                    h = np.fromiter(hs, dtype=np.int64, count=len(hs))
                    mins = ((A[:, None] * h[None, :]) + B[:, None]) % MH_PRIME
                    mins = mins.min(axis=1)
                    strs = [
                        ",".join(
                            str(int(mins[b * rows + r])) for r in range(rows)
                        )
                        for b in range(n_bands)
                    ]
                else:
                    strs = [""] * n_bands
                out.append(
                    [
                        int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                        for s in strs
                    ]
                )
            res = pdf[["doc_id"]].copy()
            res["bands"] = out
            yield res

    return (
        df.select(F.col(id_col).alias("doc_id"), tokens.alias("__toks"))
        .mapInPandas(batches, "doc_id long, bands array<long>")
        .select("doc_id", with_band_count(F.col("bands"), n_bands))
    )


def with_band_count(bands: Column, n_bands: int) -> Column:
    """A band-key array as the ``bands`` column of a signature frame:
    its length rides in the field metadata ``n_bands``, where
    ``operators.dedup.band_pairs`` reads it without a Spark job."""
    return bands.alias("bands", metadata={"n_bands": n_bands})


def portable_shingle_hashes(token_hash_col: Column | str, k: int = 3) -> Column:
    """Portable k-token shingle hashes from an ordered portable
    token-hash column: shingle i -> portable_hash64 of the comma-joined
    k hashes (the portable analogue of ``shingle_hashes``)."""
    h = _c(token_hash_col)
    n = F.size(h)
    idx = F.sequence(F.lit(1), n - (k - 1))
    return F.when(
        n >= k,
        F.transform(
            idx,
            lambda i: portable_hash64(
                F.concat_ws(
                    ",",
                    *[F.element_at(h, i + j).cast("string") for j in range(k)],
                )
            ),
        ),
    ).otherwise(F.array().cast("array<long>"))


def portable_rolling_fingerprint(
    token_hash_col: Column | str, k: int = 3
) -> Column:
    """Document fingerprint: min shingle hash over k-token shingles
    (winnowing's min-sampling, window = whole doc), equal for exact
    dups and stable under small suffix edits. Takes a MATERIALIZED
    ordered portable token-hash column; docs shorter than k tokens
    fall back to hashing the comma-joined token-hash array. Portable
    family, so the DuckDB oracle reproduces it (q_c12)."""
    h = _c(token_hash_col)
    sh = portable_shingle_hashes(h, k)
    whole = portable_hash64(
        F.concat_ws(",", F.transform(h, lambda x: x.cast("string")))
    )
    return F.when(F.size(sh) > 0, F.array_min(sh)).otherwise(whole)


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit hashes (bit_count of XOR)."""
    return F.bit_count(_c(a).bitwiseXOR(_c(b)))


def token_stats(text: Column | str) -> dict[str, Column]:
    """Per-doc quality metrics (LLM-data curation staples)."""
    toks = tokenize(text)
    n = F.size(toks)
    distinct_n = F.size(F.array_distinct(toks))
    total_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return {
        "n_tokens": n.cast("long"),
        "n_distinct_tokens": distinct_n.cast("long"),
        "distinct_ratio": distinct_n.cast("double") / n,
        "avg_token_len": total_len.cast("double") / n,
    }
