"""Generate CATALOG.md: one row per __spark_entry__.queries() entry —
name, oracle coverage, and the first docstring sentence — so coverage
is auditable at a glance without reading the registry source."""

import os
import sys

# the checkout this script lives in, not whichever copy is installed
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402


def first_sentence(doc: str) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    cuts = [text.index(stop) for stop in (". ", ".) ") if stop in text]
    return text[: min(cuts) + 1] if cuts else text


def main() -> None:
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    covered = sum(1 for k in qs if k in oracles)
    tail = ("." if covered == len(qs)
            else " (the rest are rows-only checks).")
    lines = [
        "# Query catalog",
        "",
        "Generated by tools/gen_catalog.py — do not edit by hand.",
        f"{len(qs)} queries; {covered} under the DuckDB value-hash "
        f"oracle{tail}",
        "",
        "| # | query | oracle | what it computes |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(sorted(qs.items()), 1):
        mark = "hash" if name in oracles else "rows"
        lines.append(f"| {i} | `{name}` | {mark} | "
                     f"{first_sentence(fn.__doc__)} |")
    with open(os.path.join(ROOT, "CATALOG.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote CATALOG.md: {len(qs)} queries")


if __name__ == "__main__":
    main()
