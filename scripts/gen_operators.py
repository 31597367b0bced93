#!/usr/bin/env python
"""Regenerate OPERATORS.md from the query registry."""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from node_cdc_nats_spark import registry  # noqa: E402

registry.load_all()
lines = [
    "# Operator inventory",
    "",
    "Auto-generated from the query registry (`python scripts/gen_operators.py` --",
    "regenerate after adding operators). One row per `queries()` entry in the",
    "driver contract; 'oracle' marks DuckDB value-hash verification at sf0.01",
    "(rows-only entries are iterative/approximate ops per the contract).",
    "",
    "| # | operator | module | oracle | summary |",
    "|---|---|---|---|---|",
]
for i, name in enumerate(sorted(registry.QUERIES), 1):
    fn = registry.QUERIES[name]
    mod = fn.__module__.replace("node_cdc_nats_spark.", "")
    doc = (fn.__doc__ or "").strip().split("\n")[0].rstrip(".")
    if not doc and name in registry.ORACLES:
        sql = " ".join(registry.ORACLES[name].split())
        doc = "`" + (sql[:100] + ("..." if len(sql) > 100 else "")) + "`"
    if len(doc) > 110 and not doc.startswith("`"):
        doc = doc[:107] + "..."
    doc = doc.replace("|", "\\|")
    has_oracle = "yes" if name in registry.ORACLES else "rows-only"
    lines.append(f"| {i} | `{name}` | {mod} | {has_oracle} | {doc} |")
open("OPERATORS.md", "w").write("\n".join(lines) + "\n")
print(f"{len(registry.QUERIES)} operators")
