"""Regenerate the grading ledger from the registry + driver history.

The catalog rotates through the driver's 50-row graded window each round,
so hand-maintained totals drift. This script derives everything from the
two sources of truth — ``catalog.load_all()`` (what exists) and
``CORRECTNESS_r*.json`` (what the driver has verified) — and:

- writes ``LEDGER.md``: one row per catalog query with oracle status,
  last-graded round, and last driver verdict;
- rewrites the ``Totals:`` line of ``COVERAGE.md`` between the
  ``<!-- totals -->`` markers (inserting them after the header paragraph
  on first run).

Usage: python scripts/ledger.py
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def history() -> dict[str, tuple[int, str]]:
    """name -> (last graded round, verdict in that round)."""
    out: dict[str, tuple[int, str]] = {}
    for f in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)", f.name)
        rnd = int(m.group(1))
        for name, row in json.loads(f.read_text()).items():
            if row.get("err"):
                verdict = f"err: {str(row['err']).splitlines()[0][:40]}"
            elif row.get("hash_match"):
                verdict = "green"
            elif row.get("rows_match"):
                verdict = "rows-only-match"
            else:
                verdict = "MISMATCH"
            out[name] = (rnd, verdict)
    return out


def main() -> None:
    from docker_neo4j_spark import catalog

    catalog.load_all()
    hist = history()
    names = list(catalog.QUERIES)
    oracle = [n for n in names if n in catalog.ORACLES]
    rows_only = [n for n in names if n not in catalog.ORACLES]
    ever_green = [n for n in names if hist.get(n, (0, ""))[1] == "green"]
    never = [n for n in oracle if n not in hist]

    lines = [
        "# Grading ledger (generated — do not edit; `python scripts/ledger.py`)",
        "",
        f"Catalog: **{len(names)} queries** — {len(oracle)} oracle-checked, "
        f"{len(rows_only)} rows-only (pytest-graded).",
        f"Driver history: **{len(ever_green)} ever green**; "
        f"{len(never)} oracle rows never driver-graded"
        + (f" ({', '.join(never)})" if never else "")
        + ".",
        "",
        "Position = current grading order (the driver grades a 50-row prefix;",
        "ordering policy in `catalog/__init__.py:load_all`).",
        "",
        "| # | query | oracle | last graded | verdict |",
        "|---|---|---|---|---|",
    ]
    for i, n in enumerate(names):
        rnd, verdict = hist.get(n, (None, "—"))
        lines.append(
            f"| {i} | {n} | {'yes' if n in catalog.ORACLES else 'rows-only'} "
            f"| {'r' + str(rnd) if rnd else 'never'} | {verdict} |"
        )
    (ROOT / "LEDGER.md").write_text("\n".join(lines) + "\n")

    totals = (
        f"<!-- totals:begin -->Totals: **{len(names)} catalog queries — "
        f"{len(oracle)} oracle-checked, {len(rows_only)} rows-only**; "
        f"{len(ever_green)} ever driver-green, {len(never)} oracle rows awaiting a "
        f"first driver verdict (see LEDGER.md, generated by scripts/ledger.py)."
        f"<!-- totals:end -->"
    )
    cov = (ROOT / "COVERAGE.md").read_text()
    if "<!-- totals:begin -->" in cov:
        cov = re.sub(
            r"<!-- totals:begin -->.*?<!-- totals:end -->", totals, cov, flags=re.S
        )
    else:
        cov = re.sub(r"(?m)^Totals:.*$", totals, cov, count=1)
    (ROOT / "COVERAGE.md").write_text(cov)
    print(f"{len(names)} queries | {len(oracle)} oracle | {len(rows_only)} rows-only | "
          f"{len(ever_green)} ever-green | never-graded: {len(never)}")


if __name__ == "__main__":
    main()
