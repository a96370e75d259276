"""Portable hashing primitives: polynomial string hash, MinHash signatures,
LSH band keys, SimHash.

All arithmetic is pure int64 Column expressions (whole-stage codegen, zero
Python) AND engine-portable: the DuckDB oracle reproduces the exact values,
so LSH blocking itself is correctness-checked, not just smoke-tested.

Reference analogue: the FAISS ANN index (`blink/indexer/faiss_indexer.py:
47-141`) — here the index *is* a table of band keys; retrieval is an
equi-join on the band key (SURVEY.md J7/J8).

Production note: at 100 TB you swap `poly_hash` for `xxhash64_mod` (one
native JVM hash call per string instead of an interpreted per-char
aggregate; not oracle-portable) — every MinHash kernel below takes the
base hash as the `hash_fn` parameter, and the swap preserves band
SEMANTICS (same candidate sets on a duplicate fixture, pinned by
tests/test_functions.py::test_minhash_xxhash64_band_semantics).
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

from blink_reloaded_spark.functions.text import FNV_MOD, normalize_text

# 2^31 - 1 is prime -> (a*h + b) % P with a in [1, P), b in [0, P) is a
# universal-ish permutation family over [0, P).
P = FNV_MOD

_rng = random.Random(42)
# 64 permutation pairs, enough for 16 bands x 4 rows signatures
PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, P), _rng.randrange(0, P)) for _ in range(64)
]


def poly_hash(c: Column) -> Column:
    """Portable polynomial hash of a string: acc = (acc*31 + ascii(ch)) % P.

    NOTE: operates on the raw string column (caller normalizes if wanted).
    """
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * F.lit(31) + x) % F.lit(P),
    )


def xxhash64_mod(c: Column) -> Column:
    """Production base hash: native xxhash64 folded into [0, P) so the
    `perm_hash` universal family applies unchanged (a*h stays < 2^62).
    ~10x cheaper than `poly_hash`'s interpreted per-char aggregate; NOT
    DuckDB-reproducible, so the oracle-checked queries keep poly_hash."""
    return ((F.xxhash64(c) % F.lit(P)) + F.lit(P)) % F.lit(P)


def perm_hash(h: Column, i: int) -> Column:
    """i-th permutation of a base hash: (a_i*h + b_i) % P (fits int64)."""
    a, b = PERMS[i]
    return (F.lit(a) * h + F.lit(b)) % F.lit(P)


def minhash_signature_cols(shingles: Column, num_hashes: int = 16) -> Column:
    """MinHash signature (array<long>, length num_hashes) of a shingle array.

    sig[i] = min over shingles s of perm_i(poly_hash(s)). The base hash is
    computed once per shingle, then permuted — one array pass per hash.
    Empty shingle set -> sig[i] = P (sentinel).
    """
    hashes = F.transform(shingles, poly_hash)

    def _min_perm(i: int):
        # NB: factory closure, not a default-arg lambda — PySpark treats
        # 2-arg lambdas in transform() as (element, index)
        return F.coalesce(
            F.array_min(F.transform(hashes, lambda h: perm_hash(h, i))),
            F.lit(P).cast("long"),
        )

    return F.array(*[_min_perm(i) for i in range(num_hashes)])


def band_keys(sig: Column, bands: int, rows: int) -> Column:
    """LSH band keys: array<string> of `bands` entries, each
    '<band_idx>|<sig values of that band joined by _>'.

    Two docs share a band key iff their signatures agree on all `rows`
    positions of that band — the standard MinHash-LSH bucketing.
    """
    keys = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            F.concat_ws(
                "_", *[F.slice(sig, b * rows + r + 1, 1)[0].cast("string") for r in range(rows)]
            ),
        )
        for b in range(bands)
    ]
    return F.array(*keys)


def simhash64(toks: Column, nbits: int = 32) -> Column:
    """Portable SimHash over a token array (nbits <= 62, default 32).

    bit_j is set iff the majority of token hashes have parity 1 under
    permutation j: ((a_j*h + b_j) % P) & 1. Hamming distance between two
    simhashes = bit_count(x ^ y) — both Spark and DuckDB have bit_count/xor.
    """
    hashes = F.transform(toks, poly_hash)
    n = F.size(hashes)

    def _parity_count(j: int):
        return F.size(F.filter(hashes, lambda h: perm_hash(h, j) % F.lit(2) == F.lit(1)))

    out = F.lit(0).cast("long")
    for j in range(nbits):
        bit = (_parity_count(j) * F.lit(2) > n).cast("long")
        out = out + bit * F.lit(1 << j)
    return out


def id_shingle_hashes(df, id_col: str, shingles: Column, hash_fn=None,
                      dedup_shingles: bool | None = None,
                      carry_cols: list[str] | None = None):
    """(id, h): one row per (id, shingle) with the base hash computed ONCE
    per DISTINCT shingle and joined back.

    The interpreted per-char `poly_hash` aggregate dominates MinHash cost;
    on real corpora the shingle vocabulary is orders of magnitude smaller
    than the (doc, shingle) row count (Heaps' law), so hashing the distinct
    vocabulary and equi-joining it back trades ~Nx redundant per-char
    aggregates for one shuffle of skinny rows — AQE broadcasts the hashed
    vocabulary when it is small. Same values as hashing in place (the join
    key IS the shingle), pinned by tests/test_functions.py.
    """
    hf = hash_fn or poly_hash
    carry = [F.col(c) for c in (carry_cols or [])]
    e = df.select(F.col(id_col).alias("id"), *carry,
                  F.explode(shingles).alias("s"))
    if dedup_shingles is None:
        # the distinct-vocabulary pass pays for itself only when the base
        # hash is the INTERPRETED poly_hash aggregate; a native hash_fn
        # (xxhash64_mod) is cheaper than the distinct+join shuffles it
        # would save (r3 measured on the 20k-entity blocking keys). Keyed
        # on the resolved function, not on argument presence: a caller
        # passing poly_hash EXPLICITLY (the oracle-parity path) keeps the
        # optimization (ADVICE r3)
        dedup_shingles = hf is poly_hash
    cnames = list(carry_cols or [])
    if not dedup_shingles:
        return e.select("id", *cnames, hf(F.col("s")).alias("h"))
    dist = e.select("s").distinct().select("s", hf(F.col("s")).alias("h"))
    return e.join(dist, "s").select("id", *cnames, "h")


def minhash_sig_table(
    df, id_col: str, shingles: Column, num_hashes: int, hash_fn=None,
    carry_cols: list[str] | None = None,
):
    """Wide MinHash signature table: (id, [carry_cols...], mh0..mh{n-1})
    via explode -> distinct-shingle hash join -> groupBy(id) with map-side
    partial mins. All expressions stay flat (no nested array lambdas ->
    codegen holds); the one data shuffle is the groupBy(id). Null-free:
    empty-shingle ids never appear after explode; positions coalesce to the
    P sentinel. `hash_fn` (default poly_hash) is the base string hash —
    pass `xxhash64_mod` for the production fast path. `carry_cols`:
    id-functional columns (e.g. a side flag) carried through the groupBy as
    extra grouping keys — zero extra shuffle, lets callers key a UNION of
    tables in one pass and split after."""
    h = id_shingle_hashes(df, id_col, shingles, hash_fn=hash_fn,
                          carry_cols=carry_cols)
    aggs = [
        F.coalesce(F.min(perm_hash(F.col("h"), i)), F.lit(P)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return h.groupBy("id", *(carry_cols or [])).agg(*aggs)


def band_keys_from_sig_table(sig, bands: int, rows: int,
                             carry_cols: list[str] | None = None):
    """(id, [carry_cols...], block_key) exploded band keys from a
    minhash_sig_table frame — share one materialized sig table between band
    keys and signatures instead of recomputing the shingle pass per
    consumer."""
    keys = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            F.concat_ws(
                "_",
                *[F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)],
            ),
        )
        for b in range(bands)
    ]
    return sig.select("id", *(carry_cols or []),
                      F.explode(F.array(*keys)).alias("block_key"))


def sig_array_from_sig_table(sig, num_hashes: int):
    """(id, sig: array<long>) from a minhash_sig_table frame."""
    return sig.select(
        "id", F.array(*[F.col(f"mh{i}") for i in range(num_hashes)]).alias("sig")
    )


def simhash_exploded(df, id_col: str, toks: Column, nbits: int = 32):
    """(id, simhash) with the explode->groupBy shape: one poly_hash per
    DISTINCT token (joined back), then nbits conditional-count aggregates
    per id. Same values as `simhash64` (pinned by test) — which evaluates
    the whole token-hash array once PER BIT (nbits full passes per row) and
    is kept as the single-expression variant for inline use. Duplicate
    tokens count once per occurrence, exactly like simhash64's transform.
    Ids with empty/missing token arrays do not appear (explode drops them);
    callers union them back with simhash 0 if needed."""
    e = df.select(F.col(id_col).alias("id"), F.explode(toks).alias("s"))
    dist = e.select("s").distinct().select("s", poly_hash(F.col("s")).alias("h"))
    h = e.join(dist, "s").select("id", "h")
    aggs = [F.count("*").alias("n")] + [
        F.sum((perm_hash(F.col("h"), j) % F.lit(2) == F.lit(1)).cast("long")).alias(
            f"c{j}"
        )
        for j in range(nbits)
    ]
    g = h.groupBy("id").agg(*aggs)
    out = F.lit(0).cast("long")
    for j in range(nbits):
        out = out + (F.col(f"c{j}") * F.lit(2) > F.col("n")).cast("long") * F.lit(
            1 << j
        )
    return g.select("id", out.alias("simhash"))


def minhash_band_keys_exploded(
    df,
    id_col: str,
    shingles: Column,
    bands: int,
    rows: int,
    hash_fn=None,
    carry_cols: list[str] | None = None,
):
    """Scale-path MinHash-LSH keys: (id, [carry_cols...], block_key), one
    row per band. Equivalent by construction to
    band_keys(minhash_signature_cols(...)) — pinned by a test. `hash_fn`
    as in minhash_sig_table."""
    sig = minhash_sig_table(df, id_col, shingles, bands * rows,
                            hash_fn=hash_fn, carry_cols=carry_cols)
    return band_keys_from_sig_table(sig, bands, rows, carry_cols=carry_cols)


def minhash_sigs_np_udf(k: int, num_hashes: int):
    """Factory: pandas UDF computing the MinHash signature array (length
    `num_hashes`) over the k-char shingles of an ALREADY-NORMALIZED string
    column — bit-identical to
    ``minhash_sig_table(df, id, char_shingles(nt, k, normalize=False), n)``
    with the default poly_hash base (guide §4.2: hand the whole batch to
    numpy instead of the explode → distinct-vocabulary hash join → groupBy
    shape, which costs three shuffles of the corpus-sized (id, shingle)
    frame plus the interpreted per-char aggregate; measured r8 on dedup03's
    sig tier: 1.78 s wall / 11.3 CPU-s → one map pass).

    Exactness argument (parity pinned by tests/test_functions.py):
    * poly_hash applies ``% P`` per char, but char codes < 2^21 and k <= 9
      keep the un-reduced Horner value < 2^21 * 31^k / 30 < 2^61, so one
      final ``% P`` is the same residue — all int64, no float anywhere
      (k >= 10 can overflow int64 and raises ValueError);
    * perm_hash is (a*h + b) % P with a, h < P < 2^31 → a*h < 2^62, exact
      in int64;
    * duplicate shingles cannot change a min, so array_distinct is
      irrelevant here;
    * codes are Unicode code points (utf-32), matching F.ascii / F.split
      for every BMP string (the driver corpus is pure ASCII);
    * short strings (0 < len < k) contribute their whole string as the one
      shingle, '' hashes to 0 — same as char_shingles + poly_hash.
    NULL inputs must be filtered by the caller (the explode path drops
    ids with a NULL shingle array; ``.where(col.isNotNull())`` preserves
    that contract).

    Raises ValueError outside the proven range: k not in [1, 9], or
    num_hashes above len(PERMS) (the signature columns past the permutation
    table would be left uninitialized).
    """
    if not 1 <= k <= 9:
        raise ValueError(
            f"minhash_sigs_np_udf: k={k} outside [1, 9]; the one-final-%P "
            "Horner hash is exact in int64 only up to k=9"
        )
    if not 1 <= num_hashes <= len(PERMS):
        raise ValueError(
            f"minhash_sigs_np_udf: num_hashes={num_hashes} outside "
            f"[1, {len(PERMS)}] (len(PERMS))"
        )
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    perms = PERMS[:num_hashes]

    # NB: no type annotations on the inner function — `pd` is a factory
    # local, and with `from __future__ import annotations` the stringified
    # 'pd.Series' would not resolve at pandas_udf inspection time
    @pandas_udf(ArrayType(LongType()))
    def _sigs(texts):
        n = len(texts)
        if n == 0:
            return pd.Series([], dtype=object)
        vals = texts.fillna("").astype(str)
        lens = vals.str.len().to_numpy(dtype=np.int64)
        joined = "".join(vals.tolist())
        codes = (
            np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32).astype(
                np.int64
            )
            if joined
            else np.zeros(0, dtype=np.int64)
        )
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        # full k-char window hashes at every global position (windows that
        # cross a doc boundary are never gathered below)
        n_win = max(len(codes) - k + 1, 0)
        H = np.zeros(max(n_win, 1), dtype=np.int64)
        if n_win:
            acc = codes[:n_win].copy()
            for j in range(1, k):
                acc = acc * 31 + codes[j : j + n_win]
            H[:n_win] = acc % P
        # ragged gather: doc i owns windows [starts[i], starts[i]+w_i)
        counts = np.where(lens >= k, lens - k + 1, 1)
        ptr = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(counts, out=ptr[1:])
        total = int(ptr[-1])
        base = np.repeat(starts, counts)
        within = np.arange(total, dtype=np.int64) - np.repeat(ptr[:-1], counts)
        allh = H[np.minimum(base + within, len(H) - 1)]
        shorts = np.flatnonzero(lens < k)
        if len(shorts):
            sh_h = np.empty(len(shorts), dtype=np.int64)
            for out_i, i in enumerate(shorts.tolist()):
                acc_s = 0
                for c in codes[starts[i] : starts[i] + lens[i]].tolist():
                    acc_s = (acc_s * 31 + c) % P
                sh_h[out_i] = acc_s
            allh[ptr[:-1][shorts]] = sh_h
        sig = np.empty((n, num_hashes), dtype=np.int64)
        for i, (a, b) in enumerate(perms):
            sig[:, i] = np.minimum.reduceat((a * allh + b) % P, ptr[:-1])
        return pd.Series(list(sig))

    return _sigs


def band_keys_from_sig_array(sig: Column, bands: int, rows: int) -> Column:
    """array<string> of band keys from a signature ARRAY column — same key
    format as band_keys_from_sig_table ('<band>|<v>_<v>...')."""
    keys = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            F.concat_ws(
                "_",
                *[sig.getItem(b * rows + r).cast("string") for r in range(rows)],
            ),
        )
        for b in range(bands)
    ]
    return F.array(*keys)


def sig_agreement(a: Column, b: Column) -> Column:
    """Fraction of agreeing MinHash positions — an unbiased estimate of the
    shingle jaccard. Used as a cheap pre-filter before exact verification."""
    return F.size(
        F.filter(F.zip_with(a, b, lambda x, y: x == y), lambda v: v)
    ) / F.size(a).cast("double")


def sig_agreement_flat(a: Column, b: Column, num_hashes: int) -> Column:
    """sig_agreement for a KNOWN signature length, unrolled into flat
    position comparisons (whole-stage codegen; the zip_with/filter form
    runs interpreted per element — r8, measured on dedup03's 464k-pair
    agreement tier). Same value for equal-length arrays."""
    agree = sum(
        (a.getItem(i) == b.getItem(i)).cast("int") for i in range(num_hashes)
    )
    return agree / F.lit(float(num_hashes))


def exact_text_key(c: Column) -> Column:
    """Exact-dedup key: portable hash of normalized text (plus length to cut
    collision odds). Used by the hash-groupBy exact dedup."""
    s = normalize_text(c)
    return F.concat_ws("_", poly_hash(s).cast("string"), F.length(s).cast("string"))
