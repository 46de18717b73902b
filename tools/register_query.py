"""Finish registering a newly-added @q query: window + index + README.

After adding a new ``@q(...)`` or ``q_sql(...)`` block to
``plans/queries.py``, run

    python tools/register_query.py <query_name>

and it will (1) bootstrap the name into ``_ROTATION`` so the module
imports, (2) regenerate ``_DRIVER_WINDOW``/``_ROTATION`` mechanically
from the committed CORRECTNESS ledger (never-certified queries head the
stalest-50 window), (3) regenerate ``docs/OPERATORS.md``, and (4) bump
the three README count strings. Idempotent; run once per new query (or
once after several additions — every new name bootstraps together).
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QPATH = os.path.join(REPO, "neo4j_to_clickhouse_spark", "plans", "queries.py")
README = os.path.join(REPO, "README.md")


def regenerate() -> None:
    sys.path.insert(0, REPO)
    from neo4j_to_clickhouse_spark.plans import QUERIES

    from driver_window import ledger, stalest_window  # type: ignore

    from neo4j_to_clickhouse_spark.plans.queries import _WINDOW_ROUND

    rows_only = {n for n, s in QUERIES.items() if s.oracle is None}
    window, rotation = stalest_window(
        list(QUERIES), rows_only, upto_round=_WINDOW_ROUND
    )
    last = ledger(upto_round=_WINDOW_ROUND)

    def render(name: str, items: list[str], tag) -> str:
        lines = [f"{name} = ["]
        for q in items:
            lines.append(f'    "{q}",  # {tag(q)}')
        lines.append("]")
        return "\n".join(lines)

    nw = render(
        "_DRIVER_WINDOW",
        window,
        lambda q: f"last green: r{last.get(q, 0):02d}",
    )
    nr = render(
        "_ROTATION",
        rotation,
        lambda q: "rows-only" if q in rows_only else f"r{last.get(q, 0):02d}",
    )
    src = open(QPATH).read()
    src = re.sub(r"_DRIVER_WINDOW = \[.*?\n\]", nw, src, count=1, flags=re.S)
    src = re.sub(r"_ROTATION = \[.*?\n\]", nr, src, count=1, flags=re.S)
    open(QPATH, "w").write(src)

    n = len(QUERIES)
    n_oracle = sum(1 for s in QUERIES.values() if s.oracle is not None)
    txt = open(README).read()
    txt = re.sub(r"\d+-query inventory", f"{n}-query inventory", txt)
    txt = re.sub(
        r"All \d+ inventory queries", f"All {n} inventory queries", txt
    )
    txt = re.sub(r"\(\d+ value-hashed", f"({n_oracle} value-hashed", txt)
    open(README, "w").write(txt)

    subprocess.check_call(
        [sys.executable, os.path.join(REPO, "tools", "gen_operator_index.py")]
    )
    print(
        f"registry {n} queries / {n_oracle} oracles; window head: "
        f"{window[:3]}"
    )


def main() -> None:
    names = sys.argv[1:]
    if not names:
        raise SystemExit("usage: register_query.py <new_query_name> [...]")
    src = open(QPATH).read()
    for name in names:
        if f'"{name}"' not in src.split("_DRIVER_WINDOW = [", 1)[1]:
            src = src.replace(
                "_ROTATION = [\n",
                f'_ROTATION = [\n    "{name}",  # bootstrap\n',
                1,
            )
    open(QPATH, "w").write(src)
    regenerate()


if __name__ == "__main__":
    main()
