"""Commit-able plan fingerprints: PLANS.json, one entry per query.

The blanket plan sweep asserts invariants (no cartesian, allowlisted
BNLJ/global-window, no hinted sf-scaling broadcasts) but cannot flag a
*regression* that stays within them — e.g. a join reordering behind a
``localCheckpoint`` that silently doubles a shuffle. This script plans
every sweep-eligible query at sf0.001 with ``TPCTOOLS_NO_CHECKPOINT=1``
(so checkpointed subtrees are fully visible) and records, per query:

- ``fp``: md5 of the analyzed plan's treeString with expression ids
  (``#123``) normalized away — stable across sessions, changes iff the
  logical plan shape/expressions change;
- ``nodes``: a node-name histogram (Join/Aggregate/Window/…) — the
  coarse reviewable signal when a fingerprint does change.

``scripts/round_close.py`` regenerates PLANS.json each round; any plan
change therefore lands as a reviewable git diff instead of an invisible
behavior shift.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SF = "/root/testdata/sf0.001"

_EXPR_ID = re.compile(r"#\d+")
# Catalyst names lambda variables with a SESSION-GLOBAL counter
# (`lambda x_273#...`), so the same plan text varies with how many
# lambdas the session analyzed before it — strip the counter (the
# expr-id pass has already reduced `x_273#12` to `x_273#`).
_LAMBDA_VAR = re.compile(r"\b([A-Za-z]\w*?)_\d+#")
# Scratch-staged tables carry a per-build hex suffix
# (`orders_bp_db5cd2fd`) — session noise, not plan shape.
_HEX_SUFFIX = re.compile(r"_[0-9a-f]{8}\b")
_NODE = re.compile(r"^[\s:+|-]*([A-Za-z][A-Za-z0-9]*)")


def fingerprint(tree: str) -> tuple[str, dict[str, int]]:
    norm = _LAMBDA_VAR.sub(r"\1_#", _EXPR_ID.sub("#", tree))
    norm = _HEX_SUFFIX.sub("_#h", norm)
    nodes: dict[str, int] = {}
    for line in norm.splitlines():
        m = _NODE.match(line)
        if m:
            nodes[m.group(1)] = nodes.get(m.group(1), 0) + 1
    return hashlib.md5(norm.encode()).hexdigest()[:16], dict(
        sorted(nodes.items())
    )


def main() -> int:
    os.environ["TPCTOOLS_NO_CHECKPOINT"] = "1"
    from tpctools_spark.plan_exclusions import plan_exclusion_reason
    from tpctools_spark.registry import spark_queries
    from tpctools_spark.session import get_spark

    # A few plans depend on the session's parallelism, so the planning
    # session is pinned to the one PLANS.json was made with, not the
    # host's core count.
    spark = get_spark(
        "plan-fingerprints", master="local[32]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = spark_queries()
    fps: dict[str, dict] = {}
    excluded: dict[str, str] = {}
    failed: list[str] = []
    for name in sorted(qs):
        reason = plan_exclusion_reason(name)
        if reason is not None:
            excluded[name] = reason
            continue
        try:
            df = qs[name](spark, SF)
            tree = df._jdf.queryExecution().analyzed().toString()
            fp, nodes = fingerprint(tree)
            fps[name] = {"fp": fp, "nodes": nodes}
        except Exception as exc:  # noqa: BLE001
            failed.append(f"{name}: {type(exc).__name__}: {exc}"[:150])
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLANS.json",
    )
    # Coverage is auditable from the artifact alone:
    # len(fingerprints) + len(excluded) == registry size, every
    # exclusion carries its reason (tests/test_plan_sweep.py pins it).
    with open(path, "w") as f:
        json.dump(
            {"excluded": excluded, "fingerprints": fps},
            f,
            indent=1,
            sort_keys=True,
        )
        f.write("\n")
    print(
        f"wrote {path}: {len(fps)} fingerprints, {len(excluded)} excluded"
    )
    for msg in failed:
        print(f"FAILED {msg}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
