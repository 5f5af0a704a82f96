"""Every static broadcast hint and every driver action in the package
carries a written bound.

Catalyst and AQE pick join strategies from size estimates; a hint
overrides them, and a hint on a frame that grows with the data is a
driver-OOM cliff. So a hint stays only with a ``# bound: …`` comment
on its own line or within the two lines above, naming why the hinted
side cannot grow with the data (a fixed key domain, a sample rate, a
top-k) or which plan changes without it. A driver action
(``collect``/``first``/``take``/``head``/``toPandas``) pulls a frame
into driver memory, so it goes through ``session.bounded_collect``
(where the size follows the data) or carries the same comment (a
single-row aggregate, a limit, a fixed key domain). No Spark session
needed."""

from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "datanika_core_spark"

_DRIVER_ACTION = re.compile(
    r"\.collect\(\)|\.first\(\)|\.take\(|\.head\(|\.toPandas\(\)"
)


def _unbounded(paths, pattern, exempt: str | None = None) -> list[str]:
    """``file:line`` of each line matching ``pattern`` (and not
    containing ``exempt``) with no ``bound:`` comment on it or within
    the two lines above."""
    out = []
    for path in sorted(paths):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if not pattern.search(line) or (exempt and exempt in line):
                continue
            if not any("bound:" in ln for ln in lines[max(0, i - 2):i + 1]):
                out.append(f"{path.relative_to(PKG.parent)}:{i + 1}")
    return out


def test_every_broadcast_hint_has_a_bound_comment():
    hint = re.compile(re.escape("F.broadcast("))
    assert _unbounded(PKG.rglob("*.py"), hint) == []


def test_every_state_driver_action_has_a_bound():
    assert _unbounded(
        PKG.rglob("*.py"), _DRIVER_ACTION, "bounded_collect"
    ) == []
