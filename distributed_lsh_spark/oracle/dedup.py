"""NumPy/pure-Python dedup oracle (no Spark).

Re-implements every stage of the dedup pipeline independently of Spark so
tests can assert `collect() == oracle` exactly (SURVEY.md §5 item 1).  The
normalization / shingling / MinHash / SimHash definitions here are the
*specification*; the Spark implementations in
distributed_lsh_spark.functions must match bit-for-bit.

Candidate pairs are derived from raw signature-slice equality (band hash is
only an equality-faithful compression on the Spark side, cf.
MapReduce-LSH/.../common/LSH.java:242-270 where bucketID compression is also
just an equality key).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

import zlib

from distributed_lsh_spark.conf import PRIME_31, DedupConfig
from distributed_lsh_spark.functions.hashing import minhash_params

_NON_ALNUM = re.compile(r"[^a-z0-9]+")
_FNV = 1099511628211
_M64 = (1 << 64) - 1


def normalize_tokens(text: str) -> list[str]:
    return [t for t in _NON_ALNUM.sub(" ", text.lower()).split(" ") if t]


def _to_signed(u: int) -> int:
    return u - (1 << 64) if u >= (1 << 63) else u


def poly_shingle(tok_hashes: list[int]) -> int:
    """H = ((H * FNV) + tok_h) mod 2^64 over the window (signed-64 view) —
    the spec mirrored by functions.signature (NumPy uint64 wraparound) and
    functions.text (JVM long wraparound)."""
    h = 0
    for t in tok_hashes:
        h = (h * _FNV + t) & _M64
    return h


def shingle_set(text: str, k: int) -> list[int]:
    """Sorted distinct signed-64 shingle hashes (= engine `shingles` column).

    tok_h = crc32(utf8(token)); k-gram hash = rolling poly of tok_h;
    docs with 0 < n < k tokens get one whole-doc shingle; empty docs {0}.
    """
    toks = normalize_tokens(text)
    th = [zlib.crc32(t.encode("utf-8")) for t in toks]
    if not th:
        vals = {0}
    elif len(th) < k:
        vals = {poly_shingle(th)}
    else:
        vals = {poly_shingle(th[i:i + k]) for i in range(len(th) - k + 1)}
    return sorted(_to_signed(v) for v in vals)


def minhash_sig(shingles: list[int], cfg: DedupConfig) -> list[int]:
    if cfg.minhash_scheme == "oph":
        return oph_sig(shingles, cfg)
    if not shingles:
        return [PRIME_31] * cfg.num_perm
    a, b = minhash_params(cfg.num_perm, cfg.seed)
    hs = [h % PRIME_31 for h in shingles]  # Python % == Spark pmod (floored)
    return [min((a[i] * h + b[i]) % PRIME_31 for h in hs) for i in range(cfg.num_perm)]


def oph_sig(shingles: list[int], cfg: DedupConfig) -> list[int]:
    """One-permutation hashing with right-rotation densification
    (Shrivastava & Li '14): ONE universal hash g(s), num_perm range bins,
    bin value = min g in bin; an empty bin borrows from the nearest
    non-empty bin to its right (circular) at value + d*P so borrowed
    entries collide only with equally-borrowed entries."""
    k = cfg.num_perm
    if not shingles:
        return [PRIME_31] * k
    a, b = minhash_params(k, cfg.seed)
    bins: list[int | None] = [None] * k
    for h in shingles:
        g = (a[0] * (h % PRIME_31) + b[0]) % PRIME_31
        i = g % k
        if bins[i] is None or g < bins[i]:
            bins[i] = g
    out = []
    for i in range(k):
        if bins[i] is not None:
            out.append(bins[i])
        else:
            d = 1
            while bins[(i + d) % k] is None:
                d += 1
            out.append(bins[(i + d) % k] + d * PRIME_31)
    return out


def simhash_fp(shingles: list[int], bits: int = 64) -> int:
    """Signed 64-bit SimHash, identical to the simhash column of
    functions/signature.py."""
    if not shingles:
        return 0
    votes = [0] * bits
    for h in shingles:
        u = h & ((1 << bits) - 1)
        for j in range(bits):
            votes[j] += 1 if (u >> j) & 1 else -1
    u = 0
    for j in range(bits):
        if votes[j] > 0:
            u |= 1 << j
    return u - (1 << bits) if u >= (1 << (bits - 1)) else u


def jaccard(sa: list[int], sb: list[int]) -> float:
    A, B = set(sa), set(sb)
    if not A and not B:
        return 1.0
    inter = len(A & B)
    return inter / (len(A) + len(B) - inter)


def hamming(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[int, int] = {}

    def find(self, x: int) -> int:
        p = self.parent.setdefault(x, x)
        while p != x:
            self.parent[x] = p = self.parent.setdefault(p, p)
            x, p = p, self.parent[p]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            # min-root convention: cluster id = min doc_id in component
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            self.parent[hi] = lo


@dataclass
class DedupOracle:
    """End-to-end oracle over {doc_id: text}."""

    cfg: DedupConfig
    docs: dict[int, str]
    shingles: dict[int, list[int]] = field(init=False)
    sigs: dict[int, list[int]] = field(init=False)
    simhashes: dict[int, int] = field(init=False)

    def __post_init__(self) -> None:
        k = self.cfg.shingle_k
        self.shingles = {d: shingle_set(t, k) for d, t in self.docs.items()}
        self.sigs = {d: minhash_sig(s, self.cfg) for d, s in self.shingles.items()}
        self.simhashes = {d: simhash_fp(s, self.cfg.simhash_bits)
                          for d, s in self.shingles.items()}

    # ---- candidate generation (band-slice equality == LSH collision) ----
    def candidate_pairs(self) -> set[tuple[int, int]]:
        b, r = self.cfg.num_bands, self.cfg.rows_per_band
        buckets: dict[tuple[int, tuple[int, ...]], list[int]] = {}
        for d, sig in self.sigs.items():
            for i in range(b):
                buckets.setdefault((i, tuple(sig[i * r:(i + 1) * r])), []).append(d)
        pairs: set[tuple[int, int]] = set()
        for members in buckets.values():
            if len(members) > 1:
                ms = sorted(members)
                for i, x in enumerate(ms):
                    for y in ms[i + 1:]:
                        pairs.add((x, y))
        return pairs

    # ---- exact verification -------------------------------------------
    def verified_pairs(self) -> dict[tuple[int, int], float]:
        out = {}
        for (a, b) in self.candidate_pairs():
            j = jaccard(self.shingles[a], self.shingles[b])
            if j >= self.cfg.jaccard_threshold:
                out[(a, b)] = j
        return out

    def exact_pairs(self, threshold: float | None = None) -> dict[tuple[int, int], float]:
        """Brute-force all-pairs exact Jaccard (ground truth for recall)."""
        th = self.cfg.jaccard_threshold if threshold is None else threshold
        ids = sorted(self.docs)
        out = {}
        for i, a in enumerate(ids):
            sa = set(self.shingles[a])
            for b in ids[i + 1:]:
                sb = self.shingles[b]
                inter = len(sa.intersection(sb))
                if inter == 0:
                    continue
                j = inter / (len(sa) + len(sb) - inter)
                if j >= th:
                    out[(a, b)] = j
        return out

    def simhash_pairs(self) -> dict[tuple[int, int], int]:
        """All pairs with Hamming(simhash) <= threshold (brute force)."""
        ids = sorted(self.docs)
        out = {}
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = hamming(self.simhashes[a], self.simhashes[b])
                if h <= self.cfg.hamming_threshold:
                    out[(a, b)] = h
        return out

    # ---- clustering ------------------------------------------------------
    def clusters(self, pairs: set[tuple[int, int]] | None = None) -> dict[int, int]:
        """doc_id -> cluster_id (min doc_id in connected component).

        Only docs appearing in >=1 dup pair get a row (singletons excluded),
        matching the engine's clusters output.
        """
        if pairs is None:
            pairs = set(self.verified_pairs())
        uf = UnionFind()
        for a, b in pairs:
            uf.union(a, b)
        return {d: uf.find(d) for d in uf.parent}

    def recall(self) -> float:
        truth = set(self.exact_pairs())
        if not truth:
            return 1.0
        found = set(self.verified_pairs())
        return len(found & truth) / len(truth)
