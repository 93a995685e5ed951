"""Result-format tiers.

Mirrors the reference's parse_result_format
(great_expectations/core/expectation_configuration.py:61-86) and the tiered
output contract (expectations/expectation.py:2644-2793): BOOLEAN_ONLY <
BASIC < SUMMARY < COMPLETE. Higher tiers request progressively more
violation detail; the engine uses the tier to decide whether the
violation-extraction pass (pass 2) runs at all.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any

TIERS = ("BOOLEAN_ONLY", "BASIC", "SUMMARY", "COMPLETE")


@dataclass(frozen=True)
class ResultFormat:
    tier: str = "BASIC"
    partial_unexpected_count: int = 20
    unexpected_index_column_names: tuple[str, ...] = ()
    include_unexpected_rows: bool = False
    # COMPLETE-tier df.filter(F.expr(...)) string (reference
    # map_metric_provider.py:2957-2961 honors this opt-out)
    return_unexpected_index_query: bool = True

    def __post_init__(self) -> None:
        if self.tier not in TIERS:
            raise ValueError(f"unknown result_format {self.tier!r}; expected one of {TIERS}")

    @property
    def level(self) -> int:
        return TIERS.index(self.tier)

    def at_least(self, tier: str) -> bool:
        return self.level >= TIERS.index(tier)

    @property
    def needs_source_rows(self) -> bool:
        """Violation detail that only the violating source rows can give:
        unexpected rows, or index columns at COMPLETE."""
        return self.include_unexpected_rows or (
            self.at_least("COMPLETE") and bool(self.unexpected_index_column_names))

    @classmethod
    def parse(cls, rf: Any) -> "ResultFormat":
        if rf is None:
            return cls()
        if isinstance(rf, ResultFormat):
            return rf
        if isinstance(rf, str):
            return cls(tier=rf.upper())
        if isinstance(rf, dict):
            names = rf.get("unexpected_index_column_names", ()) or ()
            if isinstance(names, str):
                # a bare column name must become ONE column, not its
                # characters (tuple('url') == ('u','r','l'))
                names = (names,)
            return cls(
                tier=str(rf.get("result_format", "BASIC")).upper(),
                partial_unexpected_count=int(rf.get("partial_unexpected_count", 20)),
                unexpected_index_column_names=tuple(names),
                include_unexpected_rows=bool(rf.get("include_unexpected_rows", False)),
                return_unexpected_index_query=bool(
                    rf.get("return_unexpected_index_query", True)),
            )
        raise ValueError(f"cannot parse result_format: {rf!r}")
