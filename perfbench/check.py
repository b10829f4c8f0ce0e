"""Result checking, outside the timed window.

Rows from the engine and from the independent reference (DuckDB over the
same parquet, or the registry's own oracle SQL) are brought to one
canonical form and compared as sorted multisets. Floats compare with a
relative tolerance because the two engines sum in different orders.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from dataclasses import dataclass, field

REL_TOL = 1e-9


def _cell(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist") and getattr(v, "ndim", 0) > 0:
        return tuple(_cell(x) for x in v)
    if hasattr(v, "item"):
        return _cell(v.item())  # numpy scalar
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def canon(rows) -> list[tuple]:
    """Rows (tuples, Spark ``Row``s or lists) → sorted list of tuples with
    Decimal → float, dates → ISO strings, NaN → None."""
    out = [tuple(_cell(v) for v in r) for r in rows]
    return sorted(out, key=lambda r: tuple(_sort_key(v) for v in r))


def _sort_key(v):
    if v is None:
        return (0, 0.0, "")
    if isinstance(v, (bool, int, float)):
        return (1, float(v), "")
    return (2, 0.0, str(v))


def _equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def diff(got, want) -> str | None:
    """None when ``got`` and ``want`` hold the same rows, else a one-line
    description of the first difference."""
    g, w = canon(got), canon(want)
    if len(g) != len(w):
        return f"row count {len(g)} != expected {len(w)}"
    for i, (rg, rw) in enumerate(zip(g, w)):
        if len(rg) != len(rw) or not all(_equal(x, y) for x, y in zip(rg, rw)):
            return f"row {i}: {rg!r} != expected {rw!r}"
    return None


@dataclass
class Tally:
    """Counts ops attempted and failed. An op fails when it raises or when
    its checked result differs from the reference; nothing is filtered."""

    attempted: int = 0
    raised: int = 0
    wrong: int = 0
    problems: list[str] = field(default_factory=list)

    def record(self, label: str, error: str | None = None, mismatch: str | None = None) -> None:
        self.attempted += 1
        if error is not None:
            self.raised += 1
            self.problems.append(f"{label}: raised {error}")
        elif mismatch is not None:
            self.wrong += 1
            self.problems.append(f"{label}: wrong result, {mismatch}")

    @property
    def failed(self) -> int:
        return self.raised + self.wrong

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0
