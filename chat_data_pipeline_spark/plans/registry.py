"""Name → expression-factory registry.

The reference resolves cleaners/filters from YAML by name with
``getattr(cleaners, name)`` / ``getattr(filters, name)`` and binds kwargs via
``custom_partial`` which preserves ``__name__`` for criteria-column naming
(ref:utils.py:23-50,142-146).  Here the registry maps names to Column-builder
factories; user-supplied callables pass straight through, so arbitrary custom
cleaners/filters plug in exactly like the reference's.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column

from chat_data_pipeline_spark.functions.cleaners import CLEANERS
from chat_data_pipeline_spark.functions.filters import FILTERS, FilterSpec


def get_cleaner(cleaner: str | Callable[[Column], Column]) -> Callable[[Column], Column]:
    if callable(cleaner):
        return cleaner
    try:
        return CLEANERS[cleaner]  # type: ignore[return-value]
    except KeyError:
        raise KeyError(
            f"unknown cleaner {cleaner!r}; known: {sorted(CLEANERS)}"
        ) from None


def get_filter(flt: str | FilterSpec, **kwargs: object) -> FilterSpec:
    """Resolve a filter by name, optionally re-binding default kwargs — the
    ``custom_partial`` equivalent (ref:utils.py:142-146)."""
    spec = flt if isinstance(flt, FilterSpec) else None
    if spec is None:
        try:
            spec = FILTERS[flt]  # type: ignore[index]
        except KeyError:
            raise KeyError(f"unknown filter {flt!r}; known: {sorted(FILTERS)}") from None
    if kwargs:
        spec = FilterSpec(
            spec.name,
            spec.score,
            spec.keep,
            {**spec.defaults, **kwargs},
            keep_from_score=spec.keep_from_score,
        )
    return spec


def get_web_page_cleaners() -> list[str]:
    """Web-scrape preset (round 6, no reference twin): markup off first,
    then the standard text normalization — the order matters because tag
    stripping exposes whitespace runs the normalizer then collapses."""
    return ["strip_html", "fix_utf8_encoding", "normalize_whitespace"]


def get_web_page_filters(**gopher_overrides: object) -> list[FilterSpec]:
    """Web-scrape quality preset: the two published page rulesets in the
    order the papers apply them — C4's line/page rules (cheap, structural)
    before Gopher's statistical signals."""
    return [
        get_filter("check_c4_quality"),
        get_filter("check_gopher_quality", **gopher_overrides),
    ]
