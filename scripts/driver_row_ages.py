#!/usr/bin/env python
"""Print the "last driver row" age map and the next driver window.

For every oracle-paired registry entry, the age is the latest
CORRECTNESS_r*.json round holding a green row for it
(``catalog.driver_row_ages``); ``catalog.driver_window`` fills the
driver's window oldest first from this map.

Usage: python scripts/driver_row_ages.py [--markdown]

The default output is one line per round bucket; --markdown emits the
table COVERAGE.md embeds. Both end with the next computed window.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ai_duckdb_spark.queries import catalog  # noqa: E402


def main() -> None:
    markdown = "--markdown" in sys.argv
    ages = catalog.driver_row_ages(ROOT)
    by_round: dict[int, list[str]] = {}
    for n, s in sorted(catalog.REGISTRY.items()):
        if s.oracle is not None:
            by_round.setdefault(ages.get(n, 0), []).append(n)
    if markdown:
        print("| last driver row | n | entries |\n|---|---|---|")
    for rnd, names in sorted(by_round.items()):
        label = f"r{rnd:02d}" if rnd else "never"
        if markdown:
            print(f"| {label} | {len(names)} | {', '.join(f'`{n}`' for n in names)} |")
        else:
            print(f"{label}: {len(names)} entries")
    window = catalog.driver_window(ages)
    quote = "`{}`" if markdown else "{}"
    print(f"\nNext driver window ({len(window)}):", ", ".join(quote.format(n) for n in window))


if __name__ == "__main__":
    main()
