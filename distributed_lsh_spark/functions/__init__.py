from distributed_lsh_spark.functions.text import (
    normalized_tokens,
    shingle_strings,
    with_shingle_hashes,
)
from distributed_lsh_spark.functions.hashing import (
    with_minhash,
    band_keys,
)

__all__ = [
    "normalized_tokens",
    "shingle_strings",
    "with_shingle_hashes",
    "with_minhash",
    "band_keys",
]
