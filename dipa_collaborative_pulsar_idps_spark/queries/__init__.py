from .. import memo
from .registry import REGISTRY, QuerySpec, all_oracles, all_queries, query


def clear_all_caches() -> None:
    """Release every session memo (persisted frames, the incremental
    index directories, routing decisions, table frames) in one call: the
    lifecycle end for long-lived sessions that sweep many sf_dirs.
    Safe on a stopped session."""
    memo.clear()


__all__ = [
    "REGISTRY",
    "QuerySpec",
    "all_oracles",
    "all_queries",
    "clear_all_caches",
    "query",
]
