"""Regenerate README.md's query-inventory summary + table from the registry.

Run after registering new queries; tests/test_registry.py pins the README
to the registry, so a stale table fails CI-style. The "verified by"
column distinguishes the driver's frozen 50-key correctness set (read
from the newest CORRECTNESS_r*.json) from keys covered only by the
repo's own oracle gate.
"""

from __future__ import annotations

import glob
import json
import re
import sys

sys.path.insert(0, "/root/repo")

from tpctools_spark.registry import oracle_queries, spark_queries  # noqa: E402

README = "/root/repo/README.md"


def main() -> None:
    qs = spark_queries()
    os_ = oracle_queries()
    rows_only = sorted(set(qs) - set(os_))

    runs = sorted(glob.glob("/root/repo/CORRECTNESS_r*.json"))
    driver_keys = set(json.load(open(runs[-1]))) if runs else set()

    lines = []
    for k in sorted(qs):
        check = "oracle" if k in os_ else "rows-only"
        who = "driver" if k in driver_keys else "repo gate"
        lines.append(f"| `{k}` | {check} | {who} |")
    table = "| query | check | verified by |\n|---|---|---|\n" + "\n".join(lines)

    text = open(README).read()
    text = re.sub(
        r"\| query \| check \| verified by \|\n\|---\|---\|---\|\n(?:\| `[a-z0-9_]+` \| [a-z-]+ \| [a-z +]+ \|\n?)+",
        table + "\n",
        text,
    )
    text = re.sub(
        r"the full registry\nis \d+ queries",
        f"the full registry\nis {len(qs)} queries",
        text,
    )
    text = re.sub(
        r"\*\*\d+ registered queries\*\*: \d+ oracle-backed, \d+ rows-only",
        f"**{len(qs)} registered queries**: {len(os_)} oracle-backed, "
        f"{len(rows_only)} rows-only",
        text,
    )
    # Prose count in the repo-layout table ("The N-query operator
    # inventory") — went stale at 391 when the regenerator only touched
    # the table and the two summary sentences above.
    text = re.sub(
        r"The \d+-query operator inventory",
        f"The {len(qs)}-query operator inventory",
        text,
    )
    open(README, "w").write(text)
    print(f"README inventory: {len(qs)} queries ({len(os_)} oracle)")


if __name__ == "__main__":
    main()
