"""Generate docs/OPERATORS.md — the one-line-per-query index of the
engine's registered surface, straight from the registry so it cannot
drift (tests/test_registry.py pins the file to this generator)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def render() -> str:
    from neo4j_to_clickhouse_spark.plans.queries import QUERIES

    lines = [
        "# Query & operator index",
        "",
        "One line per registered query (generated by "
        "`tools/gen_operator_index.py` — edit docstrings in "
        "`plans/queries.py`, not this file). Every entry pairs a Spark "
        "program with a DuckDB oracle unless marked *rows-only*; the "
        "program is either hand-built from DataFrame operators or the "
        "oracle SQL itself, run by Spark SQL.",
        "",
        f"{len(QUERIES)} queries, "
        f"{sum(1 for s in QUERIES.values() if s.oracle is not None)} "
        "oracle-checked.",
        "",
    ]
    for name, spec in QUERIES.items():
        doc = " ".join((spec.doc or "(undocumented)").split())
        tag = "" if spec.oracle is not None else " *(rows-only)*"
        lines.append(f"- `{name}` — {doc}{tag}")
    lines.append("")
    return "\n".join(lines)


if __name__ == "__main__":
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "OPERATORS.md",
    )
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out}")
