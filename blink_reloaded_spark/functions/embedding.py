"""Embedding kernels: deterministic hashed-feature encoder (the sandbox
stand-in for the reference's BERT bi-encoder, `blink/biencoder/biencoder.py:
159-170`), dot/cosine as JVM array expressions, and random-hyperplane sign
buckets (the LSH analogue of the FAISS index, `blink/indexer/faiss_indexer.py`).

The encoder is a hashed char-trigram count projection: trigram g increments
dimension h(g) % dim, then L2-normalize. It is a deterministic function of
the character sequence — the property the pipeline actually relies on
(reference precedent: the whole tokenize->encode path is deterministic given
the model, `blink/biencoder/data_process.py:26-97`). Swap in a real model by
replacing `hashed_embedding_udf` with a model-backed pandas UDF of the same
signature.
"""

from __future__ import annotations



import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, FloatType, LongType

# Encoder output dim. Unsigned counts (not signed feature-hashing): for
# short surfaces (~12 trigrams) sign cancellation makes similarity noise —
# observed anti-correlation with the true match — while unsigned trigram
# counts give a monotone overlap measure; 256 dims keeps collision mass low.
# (The driver's embeddings.parquet is 64-dim; that's a separate input table,
# not this encoder's output.)
DIM = 256


MAX_CHARS = 256
_KNUTH = 2654435761  # Fibonacci-hash multiplier


# Kernel row-tile (same finding as functions/similarity.TILE): the scatter
# np.add.at writes across the whole (n, DIM) float32 output — 20MB at the
# 20k-row Arrow batch — and the gram/bucket temporaries stream with it; at
# 8 workers the memory bus saturates and stalled cycles bill as CPU.
# Tiling to 2048 rows keeps the output slab (+temporaries) ~2MB per
# iteration: measured 2->8-worker CPU inflation 1.9-3.1x -> ~1.1x with @2
# CPU unchanged. Each row is a pure function of its string, so the tile is
# bit-identical (pinned by tests).
TILE = 2048


def _embed_matrix(texts: pd.Series, tile: int = TILE) -> np.ndarray:
    """Tiled wrapper over `_embed_block` (see TILE note) — bit-identical,
    per-row function."""
    if len(texts) > tile:
        return np.vstack([
            _embed_block(texts.iloc[i:i + tile].reset_index(drop=True))
            for i in range(0, len(texts), tile)
        ])
    return _embed_block(texts)


def _embed_block(texts: pd.Series) -> np.ndarray:
    """Batch hashed char-trigram embedding kernel -> (n, DIM) float32,
    L2-normalized rows. Fully numpy-vectorized:

      codes[B, L]  <- utf-32 char codes of lowercased text (truncated)
      gram[B, L-2] <- c0*0x10000 + c1*0x100 + c2 (trigram id)
      bucket       <- (gram * KNUTH) mod 2^32 mod DIM; sign from bit 31
      out[row, bucket] += sign; L2-normalize rows

    Each output row is a pure per-row function of its input string (batch
    padding is masked out), so the SAME kernel backs both the stored-vector
    path (hashed_embedding_udf) and the recompute-from-text cos path
    (pair_cos_np) with bit-identical values.

    Char-level features keep typo'd variants ("fgu coerp" ~ "fagu corp")
    cosine-close where token-level features go to zero — the same property
    the reference gets from WordPiece subword tokens
    (`blink/biencoder/data_process.py:26-69`).
    """
    n = len(texts)
    out = np.zeros((n, DIM), dtype=np.float32)
    vals = texts.fillna("").astype(str).str.lower().str.slice(0, MAX_CHARS)
    lens = vals.str.len().to_numpy(dtype=np.int64)
    joined = "\x00".join(vals.tolist())
    if joined and lens.max(initial=0) >= 3:
        # ASCII batches decode to uint8 and run the gram/bucket math in
        # uint32 (wrapping multiply IS the mod-2^32 the uint64 path applies
        # explicitly; g < 2^32 whenever every code < 2^16, so buckets are
        # bit-identical). 64-bit multiplies don't vectorize on this target
        # and double the memory traffic — measured 5.7x kernel throughput
        # (61k -> 346k strings/s/core) with byte lanes + uint32 math.
        try:
            codes = np.frombuffer(joined.encode("ascii"), dtype=np.uint8)
            narrow = True
        except UnicodeEncodeError:
            codes = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
            narrow = bool(codes.max(initial=0) < 1 << 16)
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(lens[:-1] + 1, out=starts[1:])
        L = int(lens.max())
        col = np.arange(L)
        idx = np.minimum(starts[:, None] + col[None, :], len(codes) - 1)
        dt = np.uint32 if narrow else np.uint64
        mat = codes[idx].astype(dt)
        valid = col[None, :] < lens[:, None]
        mat = np.where(valid, mat, 0)
        if L >= 3:
            g = (mat[:, :-2] << dt(16)) ^ (mat[:, 1:-1] << dt(8)) ^ mat[:, 2:]
            gv = valid[:, 2:]
            if narrow:
                bucket = (g * dt(_KNUTH)) % dt(DIM)
            else:
                bucket = ((g * dt(_KNUTH)) & dt(0xFFFFFFFF)) % dt(DIM)
            rows = np.broadcast_to(np.arange(n)[:, None], g.shape)
            np.add.at(out, (rows[gv], bucket[gv].astype(np.int64)), np.float32(1.0))
    norms = np.linalg.norm(out, axis=1, keepdims=True)
    return out / np.maximum(norms, 1e-12)


@pandas_udf(ArrayType(FloatType()))
def hashed_embedding_udf(texts: pd.Series) -> pd.Series:
    """array<float> hashed trigram embedding column (see _embed_matrix)."""
    return pd.Series(list(_embed_matrix(texts)))


def pair_cos_np(a: pd.Series, b: pd.Series) -> np.ndarray:
    """dot(embed(a), embed(b)) per row, recomputed from the pair TEXTS —
    bit-identical to joining stored hashed_embedding_udf vectors and
    running dot_product_udf (same _embed_matrix float32 rows, same float64
    einsum). In-batch unique-string dedup makes the recompute cheap: pair
    batches repeat surfaces heavily (<=16 candidates per mention surface;
    hot entities across mentions), so the kernel runs once per DISTINCT
    string per batch.

    Only valid when the score's vectors ARE the hashed text embedding
    (LinkagePipeline's case); external model vectors must keep the join
    path (two_phase_scored_pairs cos_source="join")."""
    if len(a) == 0:
        return np.zeros(0, dtype=np.float64)
    av = a.fillna("").astype(str).to_numpy()
    bv = b.fillna("").astype(str).to_numpy()
    # hash-based dedup (pd.factorize), not np.unique: the sort-based unique
    # chases PyUnicode pointers O(n log n) across the heap — measured 10x
    # the CPU of factorize on a 40k-string pair batch, and it was the
    # largest UNtiled working set left in the links stage's Python workers.
    # Row values don't depend on uniq order (each embedding row is a pure
    # per-string function), so the swap is bit-identical.
    inverse, uniq = pd.factorize(np.concatenate([av, bv]), sort=False)
    emb = _embed_matrix(pd.Series(uniq)).astype(np.float64)
    ai, bi = inverse[: len(av)], inverse[len(av):]
    return np.einsum("ij,ij->i", emb[ai], emb[bi])


@pandas_udf(DoubleType())
def dot_product_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized dot product of two fixed-dim array<float> columns
    (numpy row-wise). The hot-path alternative to `dot_product`: Spark's
    higher-order aggregate runs INTERPRETED per element, i.e. ~256 virtual
    calls per pair — measured as the dominant cost of the pair scorer.
    numpy's pairwise summation can differ from the sequential JVM sum in
    the last ulp; scores are rounded to 6dp downstream, and the pipeline's
    determinism contract is per-platform (same input -> same output), which
    numpy satisfies. Null vectors are not supported (pipeline vectors are
    always present); ragged batches raise a clear shape error from the
    reshape below rather than a misleading AxisError (ADVICE r2)."""
    if len(a) == 0:
        return pd.Series([], dtype=float)
    ma = np.asarray(a.to_list(), dtype=np.float64).reshape(len(a), -1)
    mb = np.asarray(b.to_list(), dtype=np.float64).reshape(len(b), -1)
    return pd.Series(np.einsum("ij,ij->i", ma, mb))


def dot_product(a: Column, b: Column) -> Column:
    """Dot product of two array<float/double> columns, JVM-side.

    Sequential left-to-right summation in double — matches DuckDB
    list_dot_product on double lists for oracle parity.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity, rounded to 6dp for engine-portable comparison."""
    return F.round(
        dot_product(a, b) / F.greatest(l2_norm(a) * l2_norm(b), F.lit(1e-12)), 6
    )


def _hyperplanes(nplanes: int, dim: int = DIM, seed: int = 42) -> np.ndarray:
    """Fixed seeded random hyperplanes (shared driver<->executor constant).
    Distinct seeds give INDEPENDENT tables for OR-amplified LSH (ann05)."""
    rng = np.random.RandomState(seed)
    return rng.randn(nplanes, dim).astype(np.float64)


@pandas_udf(DoubleType())
def cosine_raw_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Unrounded cosine similarity, numpy-batched — the vectorized
    replacement for `cosine_similarity`'s interpreted dot+norm aggregates
    on hot re-rank paths (~192 interpreted ops/pair -> one einsum). Callers
    apply the same F.round(..., 6) the Column version uses, so rounding
    semantics (JVM HALF_UP) are identical; the pre-rounding value differs
    from the sequential JVM sum only in final ulps (oracle hash checks pin
    the rounded equality)."""
    if len(a) == 0:
        return pd.Series([], dtype=float)
    ma = np.asarray(a.to_list(), dtype=np.float64).reshape(len(a), -1)
    mb = np.asarray(b.to_list(), dtype=np.float64).reshape(len(b), -1)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    return pd.Series(num / np.maximum(den, 1e-12))


def cosine_similarity_fast(a: Column, b: Column) -> Column:
    """cosine_similarity semantics (rounded 6dp) on the vectorized kernel."""
    return F.round(cosine_raw_udf(a, b), 6)


def hyperplane_buckets_udf(nplanes: int, dim: int, seeds: tuple[int, ...]):
    """Factory: pandas UDF computing the hyperplane bucket id for EVERY
    table seed in ONE Arrow pass -> array<long> of len(seeds), entry t =
    hyperplane_bucket(vec, nplanes, dim, seed=seeds[t]).

    Same semantics as mapping `hyperplane_bucket` over the seeds, but the
    multi-table JVM form is the wrong shape for Catalyst AND execution:
    each table embeds nplanes 64-literal plane arrays with interpreted
    higher-order dot products — 16 tables x 4 planes is a ~4k-literal
    expression tree the driver re-analyzes on every query build (measured:
    ann05's bench wall was dominated by per-trial planning + single-split
    interpreted dots, 7.7s for a 2.1s-warm query), while here the planes
    live in ONE numpy (T*P, dim) matrix and the buckets are a single
    matmul + bit-pack per batch. Sign parity with the sequential JVM dot
    is pinned by tests/test_oracle_queries (driver hash check) — a sign
    flip needs |dot| within float rounding of 0 (~1e-14 odds per dot).
    """
    planes = np.vstack([_hyperplanes(nplanes, dim, s) for s in seeds])
    n_tables = len(seeds)
    weights = (1 << np.arange(nplanes, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def _buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.asarray(vecs.to_list(), dtype=np.float64).reshape(len(vecs), -1)
        bits = (m @ planes.T > 0).astype(np.int64)
        b = bits.reshape(len(vecs), n_tables, nplanes) @ weights
        return pd.Series(list(b))

    return _buckets


def hyperplane_bucket(
    vec: Column, nplanes: int = 8, dim: int = DIM, seed: int = 42
) -> Column:
    """Random-hyperplane LSH bucket id (long): bit j = sign(vec . plane_j).

    Pure Column arithmetic — the planes are literal arrays, the dot products
    stay in codegen. Vectors in the same bucket are cosine-close with high
    probability; used for embedding-based blocking and ANN.
    """
    planes = _hyperplanes(nplanes, dim, seed)
    out = F.lit(0).cast("long")
    for j in range(nplanes):
        plane = F.array(*[F.lit(float(w)) for w in planes[j]])
        d = dot_product(vec, plane)
        out = out + (d > 0).cast("long") * F.lit(1 << j)
    return out
