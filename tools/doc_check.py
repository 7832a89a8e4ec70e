"""Doc-consistency gate: QUERIES.md and README.md must agree with the
live registry.

Two review passes this round caught silent count drift (190 vs 197 vs
200…) and missing table rows for freshly-registered queries — exactly the
class of rot a machine check kills.  Checks:

1. every ``queries()`` key has a ``| `name` |`` row in QUERIES.md;
2. every QUERIES.md row names a registry key (a small allowlist covers
   operator-level rows documented under their gating ``*_check`` query);
3. the counts quoted in QUERIES.md's header and README.md match
   ``len(queries())``.

Exit 1 with a diff on any violation.  Wired into tools/smoke.py.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

#: operator-level rows: documented in the table, gated via a *_check query
OPERATOR_ROWS = {
    "holt_winters_forecast",   # gated via holt_forecast_check
    "streaming_ohlc",          # gated via streaming_ohlc_6h
    "streaming_cusum",         # gated via streaming_cusum_check
    "streaming_percentiles",   # gated via streaming_percentiles_check
}


def main() -> int:
    import __spark_entry__ as entry

    qs = set(entry.queries())
    n = len(qs)
    ok = True

    queries_md = open(ROOT / "QUERIES.md").read()
    rows = set(re.findall(r"^\| `([a-z0-9_]+)` \|", queries_md, re.M))

    missing = sorted(qs - rows)
    if missing:
        print(f"DOCS STALE: registry keys with no QUERIES.md row: {missing}")
        ok = False
    phantom = sorted(rows - qs - OPERATOR_ROWS)
    if phantom:
        print(f"DOCS STALE: QUERIES.md rows naming nothing in the registry: "
              f"{phantom}")
        ok = False

    n_oracles = len(entry.oracle_sql())
    m = re.search(r"(\d+) queries; (\d+) verified", queries_md)
    # the "verified" count asserts ORACLE coverage — compare it against
    # oracle_sql(), not queries(), or a future oracle-less registration
    # would force the header to state a false claim
    if not m or int(m.group(1)) != n or int(m.group(2)) != n_oracles:
        print(f"DOCS STALE: QUERIES.md header says {m.groups() if m else None}, "
              f"registry has {n} queries / {n_oracles} oracles")
        ok = False
    if n_oracles != n:
        print(f"ORACLE GAP: {n} queries but only {n_oracles} oracle_sql "
              f"entries — {sorted(qs - set(entry.oracle_sql()))}")
        ok = False

    readme = open(ROOT / "README.md").read()
    m2 = re.search(r"(\d+) queries, all (\d+) with DuckDB", readme)
    if not m2 or int(m2.group(1)) != n or int(m2.group(2)) != n:
        print(f"DOCS STALE: README says {m2.groups() if m2 else None}, "
              f"registry has {n}")
        ok = False

    if ok:
        print(f"docs consistent: {n} queries, {len(rows)} table rows "
              f"({len(OPERATOR_ROWS)} operator-level)")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
