"""Generate docs/OPERATORS.md — the full harness-ID index.

One row per registered query: name, oracle mode, the module:line where
it is registered, first sentence of its doc.  Regenerate after adding operators:

    python tools/gen_operator_index.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gordo_components_spark.registry import load_all


def main() -> None:
    rows = []
    for name, spec in load_all().items():
        doc = " ".join(spec.doc.split())
        # first sentence, compacted
        head = doc.split(". ")[0].split(" — ")[0][:110]
        mode = "oracle" if spec.oracle else "rows-only"
        rows.append((name, mode, spec.source.replace("gordo_components_spark.", ""), head))
    out = [
        "# Operator index (generated — do not edit)",
        "",
        f"All {len(rows)} registered harness queries, in registry order",
        "(the first 50 are the driver's pinned witness window).  Regenerate",
        "with `python tools/gen_operator_index.py`.",
        "",
        "| # | Harness ID | Check | Source | Summary |",
        "|---|---|---|---|---|",
    ]
    for i, (name, mode, loc, head) in enumerate(rows):
        out.append(f"| {i} | `{name}` | {mode} | `{loc}` | {head} |")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "docs", "OPERATORS.md")
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote {path}: {len(rows)} operators")


if __name__ == "__main__":
    main()
