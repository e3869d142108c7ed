"""Generate OPERATORS.md: one row per registered key — oracle kind,
implementing function, and the first docstring sentence. Run after
adding operators:

    python tools/gen_operator_index.py
"""

from __future__ import annotations

import inspect

from _root import ROOT

from diversity_maximization_spark import registry

registry.load_all()


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", ".\n"):
        if stop in text:
            return text.split(stop, 1)[0] + "."
    return text[:240]


def main() -> None:
    rows = []
    for key, fn in sorted(registry.QUERIES.items()):
        mod = fn.__module__.replace("diversity_maximization_spark.", "")
        try:
            line = inspect.getsourcelines(fn)[1]
        except OSError:
            line = 0
        kind = "SQL" if key in registry.ORACLES else "rows"
        rows.append(
            f"| `{key}` | {kind} | `{mod}.py:{line}` "
            f"| {first_sentence(fn.__doc__)} |"
        )
    out = [
        "# Operator index",
        "",
        f"Auto-generated by tools/gen_operator_index.py — "
        f"{len(rows)} registered keys, "
        f"{len(registry.ORACLES)} with a DuckDB hash-match oracle "
        "(`SQL`), the rest rows-only with property/golden tests "
        "(`rows`). See SURVEY.md §2 for the grouped inventory and "
        "PLANS.md for audited physical plans.",
        "",
        "| key | oracle | source | summary |",
        "|---|---|---|---|",
        *rows,
        "",
    ]
    with open(ROOT / "OPERATORS.md", "w") as f:
        f.write("\n".join(out))
    print(f"OPERATORS.md written ({len(rows)} keys)")


if __name__ == "__main__":
    main()
