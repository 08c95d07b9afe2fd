from .inspect import (  # noqa: F401
    explain_str,
    has_broadcast_hash_join,
    has_partial_aggregate_before_shuffle,
    wholestage_codegen_spans,
)
