"""Every static broadcast hint carries a written bound.

Catalyst and AQE pick join strategies from size estimates; a hint
overrides them, and a hint on a frame that grows with the data is a
driver-OOM cliff. So a hint stays only with a ``# bound: …`` comment
on its own line or within the two lines above, naming why the hinted
side cannot grow with the data (a fixed key domain, a sample rate, a
top-k) or which plan changes without it. No Spark session needed."""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "datanika_core_spark"


def test_every_broadcast_hint_has_a_bound_comment():
    unbounded = []
    for path in sorted(PKG.rglob("*.py")):
        lines = path.read_text().splitlines()
        for i, line in enumerate(lines):
            if "F.broadcast(" not in line:
                continue
            if not any("bound:" in ln for ln in lines[max(0, i - 2):i + 1]):
                unbounded.append(f"{path.relative_to(PKG.parent)}:{i + 1}")
    assert unbounded == []
