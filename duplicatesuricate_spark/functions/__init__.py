from duplicatesuricate_spark.functions.fuzzy_parity import (
    fuzzy_exact,
    fw_ratio_py,
    fw_token_set_ratio_py,
    token_set_exact,
)
from duplicatesuricate_spark.functions.sketch import (
    minhash_simhash_py,
    with_full_sketches,
)
from duplicatesuricate_spark.functions.text import with_shingles, with_tokens

__all__ = [
    "with_tokens",
    "with_shingles",
    "with_full_sketches",
    "minhash_simhash_py",
    "fuzzy_exact",
    "token_set_exact",
    "fw_ratio_py",
    "fw_token_set_ratio_py",
]
