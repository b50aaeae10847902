"""Regenerate COVERAGE.md's auto-generated gate-query appendix.

Usage: python tools/gen_query_index.py
Replaces everything below the marker line with a fresh table of every
registered gate query (name, oracle status) so COVERAGE.md can never
drift from the registry.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

MARKER = "<!-- AUTO-GENERATED QUERY INDEX -->"


def main() -> None:
    import pos_dlt_spark.queries as Q

    Q.load_registry()

    lines = [
        MARKER,
        "",
        "## Appendix: every gate query (generated by tools/gen_query_index.py)",
        "",
        f"{len(Q.REGISTRY)} registered; each row is one `queries()` entry the",
        "driver can draw. 'full' = value-level DuckDB oracle; 'rows-only' =",
        "no SQL-expressible oracle (reason in the row above naming it).",
        "",
        "| query | oracle |",
        "|---|---|",
    ]
    for name in sorted(Q.REGISTRY):
        kind = "full" if Q.REGISTRY[name].oracle else "rows-only"
        lines.append(f"| `{name}` | {kind} |")
    lines.append("")

    path = os.path.join(REPO, "COVERAGE.md")
    text = open(path).read()
    base = text.split(MARKER)[0].rstrip() + "\n\n"
    open(path, "w").write(base + "\n".join(lines))
    print(f"wrote {len(Q.REGISTRY)} rows")


if __name__ == "__main__":
    main()
