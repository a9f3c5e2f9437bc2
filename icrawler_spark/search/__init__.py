"""Search/query layer (SURVEY §2.10): the search-index projection, fuzzy
top-k and keyword search over the collected index rows, cross-task dedup
windows, and clause extraction."""

from .clause import extract_clause_text, parse_clause_reference
from .index import (
    build_search_index,
    dedupe_search_index,
    keyword_search,
    prepare_rows,
    search,
)

__all__ = [
    "build_search_index",
    "dedupe_search_index",
    "keyword_search",
    "prepare_rows",
    "search",
    "parse_clause_reference",
    "extract_clause_text",
]
