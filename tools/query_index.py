"""Generate QUERIES.md — the registry as a reviewable index.

One row per registered query: oracle status (hash-gated vs rows-only)
and the first sentence of its doc. Regenerate after adding queries:
``python tools/query_index.py``. The full doc text lives on each
query in ``queries/pack.py``; this is the table of contents the
driver's CORRECTNESS_r*.json rows map onto.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from yahoofinancedatalake_spark.queries.pack import (  # noqa: E402
    QUERIES,
    REGISTRATION_ORDER,
)


def first_sentence(doc: str, limit: int = 160) -> str:
    s = " ".join(doc.split())
    for end in (". ", " — ", ": "):
        i = s.find(end)
        if 20 <= i <= limit:
            return s[: i + (1 if end == ". " else 0)]
    return s[:limit] + ("…" if len(s) > limit else "")


def render() -> str:
    """QUERIES.md's text: one row per query in registration order,
    which does not depend on the driver rotation."""
    n_oracle = sum(1 for q in QUERIES.values() if q.oracle)
    lines = [
        "# Query registry index\n\n"
        f"{len(QUERIES)} queries; {n_oracle} hash-gated against the "
        "DuckDB oracle (rows + schema + order-insensitive value "
        f"hash), {len(QUERIES) - n_oracle} rows-only by construction "
        "(non-SQL-expressible hash families / codecs — each ANN "
        "index additionally carries an oracle-gated recall row). "
        "Listed in registration order (pack module, then definition "
        "order). Regenerate: `python tools/query_index.py`.\n\n"
        "| # | query | oracle | what it covers |\n"
        "|---|---|---|---|\n"
    ]
    for i, name in enumerate(REGISTRATION_ORDER, 1):
        q = QUERIES[name]
        kind = "hash" if q.oracle else "rows"
        lines.append(f"| {i} | {name} | {kind} | {first_sentence(q.doc)} |\n")
    return "".join(lines)


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else "QUERIES.md"
    with open(out, "w") as f:
        f.write(render())
    print(f"wrote {out} ({len(QUERIES)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
