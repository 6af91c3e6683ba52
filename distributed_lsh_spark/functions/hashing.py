"""MinHash signatures and LSH band keys (SimHash lives in
functions/signature.py).

Reference parity map (citations under /root/reference/):
  * The reference's hash family h_{i,j}(v) = a.v + b over Gaussian a
    (MapReduce-LSH/.../common/LSH.java:220-236) becomes the MinHash family
    sig_i = min over shingle hashes h of (a_i * h + b_i) mod P — the standard
    text analogue with identical AND/OR composition semantics.
  * The reference draws parameters from an UNSEEDED java.util.Random
    (MapReduce-LSH/.../common/LSHTool.java:11) — a reproducibility bug.  We
    draw (a_i, b_i) from Python's `random.Random`, whose Mersenne-Twister
    stream is guaranteed stable across CPython versions, so the NumPy oracle
    and the Spark plan embed identical constants.
  * Bucket-ID compression (LSH.java:242-270: quantize, fold 64->32 bits,
    mod 2^31-1) becomes band_hash = xxhash64(band_id, sig-slice): the band
    key only needs to be equality-faithful, not value-faithful, because every
    candidate is exactly verified afterwards (SearchMapper.java:107-126).

Two MinHash implementations, same output bit-for-bit:
  * `minhash_expr` — pure JVM higher-order expression (default: zero Python,
    whole-stage codegen, no Arrow transfer).
  * `minhash_pandas_udf` — Arrow-vectorized NumPy (flatten batch ->
    np.minimum.reduceat), for A/B benchmarking.

All arithmetic stays in [0, 2^31-1) (PRIME_31, the reference's own fold
modulus, LSH.java:21) so a_i * h + b_i < 2^62 never overflows a signed
64-bit long in either engine.
"""

from __future__ import annotations

import random
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_lsh_spark.conf import PRIME_31, DedupConfig


@lru_cache(maxsize=8)
def minhash_params(num_perm: int, seed: int) -> tuple[tuple[int, ...], tuple[int, ...]]:
    """(a, b) pairs for the universal-hash permutations; deterministic."""
    rng = random.Random(f"minhash:{seed}")
    a = tuple(rng.randrange(1, PRIME_31) for _ in range(num_perm))
    b = tuple(rng.randrange(0, PRIME_31) for _ in range(num_perm))
    return a, b


# ---------------------------------------------------------------- MinHash

def _require_kxl(cfg: DedupConfig, where: str) -> None:
    """This module implements only the classic kxl permutations; the OPH
    at-scale scheme lives in the fused UDF (functions/signature.py) and the
    oracle (oracle/dedup.py).  Failing loudly beats silently computing kxl
    for a config that asked for oph."""
    if cfg.minhash_scheme != "kxl":
        raise ValueError(
            f"{where} implements only minhash_scheme='kxl' "
            f"(got {cfg.minhash_scheme!r}); use the fused signature UDF "
            "(functions.signature.with_signatures) for 'oph'")


def minhash_expr(shingles_col: str, cfg: DedupConfig) -> Column:
    """array<long> signature, length cfg.num_perm — pure JVM expression
    over a PRE-REDUCED column of pmod(h, P) values (see with_minhash: the
    reduction is materialized once instead of once per permutation).

    sig[i] = min_h pmod(a_i * h31 + b_i, P); empty shingle set -> array of
    P (sentinel max, never collides with a real doc's band unless both are
    empty — matching the oracle).
    """
    _require_kxl(cfg, "minhash_expr")
    a, b = minhash_params(cfg.num_perm, cfg.seed)
    a_lit = "array(" + ",".join(f"{x}L" for x in a) + ")"
    b_lit = "array(" + ",".join(f"{x}L" for x in b) + ")"
    p = PRIME_31
    # NOTE: _h31 is referenced twice on purpose: CollapseProject keeps a
    # non-cheap projection materialized only when it has >1 reference;
    # with a single reference Catalyst inlines it INSIDE the 128-iteration
    # lambda and re-evaluates it per permutation (measured 3x slowdown).
    return F.expr(
        f"""CASE WHEN size(_h31) = 0
              THEN array_repeat(CAST({p} AS BIGINT), {cfg.num_perm})
            ELSE transform(sequence(0, {cfg.num_perm - 1}),
              i -> array_min(transform(_h31,
                h -> pmod(element_at({a_lit}, i + 1) * h
                          + element_at({b_lit}, i + 1), {p}))))
            END"""
    )


def minhash_pandas_udf(cfg: DedupConfig):
    """Arrow-vectorized alternative: one np.minimum.reduceat per batch."""
    _require_kxl(cfg, "minhash_pandas_udf")
    a, b = minhash_params(cfg.num_perm, cfg.seed)
    a_np = np.asarray(a, dtype=np.uint64)
    b_np = np.asarray(b, dtype=np.uint64)
    p = np.uint64(PRIME_31)
    num_perm = cfg.num_perm

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _minhash(shingles: pd.Series) -> pd.Series:
        lens = shingles.str.len().to_numpy()
        out = np.full((len(shingles), num_perm), PRIME_31, dtype=np.int64)
        nz = lens > 0
        if nz.any():
            flat = np.concatenate([np.asarray(s, dtype=np.int64) for s in shingles[nz]])
            # int64 floored-mod matches Spark's pmod; the uint64 view does NOT
            # (2^64 mod (2^31-1) = 4, so reinterpreting negatives shifts residues).
            h = (flat % np.int64(PRIME_31)).astype(np.uint64)
            # (num_perm, total_shingles) permuted values, then segment-min.
            perm = (np.outer(a_np, h) + b_np[:, None]) % p
            offsets = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(lens[nz][:-1], out=offsets[1:])
            mins = np.minimum.reduceat(perm, offsets, axis=1)  # (num_perm, n_nz)
            out[nz] = mins.T.astype(np.int64)
        return pd.Series(list(out))

    return _minhash


def with_minhash(df: DataFrame, cfg: DedupConfig, shingles_col: str = "shingles",
                 out: str = "minhash", impl: str = "expr") -> DataFrame:
    if impl == "expr":
        return (
            df.withColumn("_h31", F.expr(
                f"transform({shingles_col}, h -> pmod(h, {PRIME_31}))"))
              .withColumn(out, minhash_expr(shingles_col, cfg))
              .drop("_h31")
        )
    return df.withColumn(out, minhash_pandas_udf(cfg)(F.col(shingles_col)))


# ---------------------------------------------------------------- banding

def band_keys(df: DataFrame, cfg: DedupConfig, id_col: str = "doc_id",
              minhash_col: str = "minhash") -> DataFrame:
    """(doc_id, band_id, band_hash) — one row per (doc, band).

    The reference materializes bucket tables (BucketTable:
    MapReduce-LSH/.../common/BucketTable.java:15-18); here "the table" is
    just this DataFrame's (band_id, band_hash) key space, consumed by a
    self-join (SURVEY.md J2).  band_hash = xxhash64(band_id, slice) — a
    64-bit key, collision-harmless because verification is exact.
    """
    b, r = cfg.num_bands, cfg.rows_per_band
    bands = F.expr(
        f"transform(sequence(0, {b - 1}), "
        f"i -> struct(CAST(i AS INT) AS band_id, "
        f"xxhash64(i, slice({minhash_col}, i * {r} + 1, {r})) AS band_hash))"
    )
    return (
        df.select(id_col, F.explode(bands).alias("band"))
          .select(id_col, F.col("band.band_id").alias("band_id"),
                  F.col("band.band_hash").alias("band_hash"))
    )
