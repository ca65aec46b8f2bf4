from .derivations import (
    deterministic_dump_id,
    json_pack,
    bool_flag,
    normalize_apostrophes,
    strip_branch_and_version,
    member_flag,
)
from .hashes import md5_hash32, md5_hash64

__all__ = [
    "deterministic_dump_id", "json_pack", "bool_flag",
    "normalize_apostrophes", "strip_branch_and_version", "member_flag",
    "md5_hash32", "md5_hash64",
]
