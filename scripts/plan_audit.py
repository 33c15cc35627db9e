#!/usr/bin/env python
"""Plan-quality audit: for every registry query, count the physical
plan's exchanges / broadcasts / scans-with-pushdown and flag
anti-patterns (unpartitioned windows, cartesian products). Writes
PLAN_AUDIT.md — the self-audit the 100 TB design claims are checked
against (SURVEY §4).

Usage: python scripts/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fintech_lakehouse_spark.plans import QUERIES
from fintech_lakehouse_spark.session import get_spark


def audit(plan: str) -> dict:
    # explain("formatted"): operators appear once in the tree and once
    # in the numbered details section — count the details entries.
    shuffles = len(
        re.findall(r"Arguments: (hash|range)partitioning", plan)
    )
    single_part = len(re.findall(r"Arguments: SinglePartition", plan))
    broadcasts = len(re.findall(r"\(\d+\) BroadcastExchange", plan))
    scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    cartesian = len(re.findall(r"\(\d+\) CartesianProduct", plan))
    nested_loop = len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan))
    return {
        "shuffles": shuffles,
        "single_partition_exchanges": single_part,
        "broadcasts": broadcasts,
        "scans": scans,
        "scans_with_pushdown": pushed,
        "cartesian": cartesian,
        "bc_nested_loop": nested_loop,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        # passing a query name here silently audits against a
        # nonexistent lake and writes 215 ERROR rows (r12 incident)
        sys.exit(
            f"plan_audit: {sf_dir!r} is not a directory — the only "
            "argument is the sf_dir (the audit always covers every "
            "registered query)"
        )
    spark = get_spark(
        "plan-audit", master="local[8]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# PLAN_AUDIT — physical-plan quality per registry query",
        "",
        f"Generated by scripts/plan_audit.py at {sf_dir} (pre-AQE static plans;",
        "AQE further coalesces/rewrites at runtime). Columns: hash/range",
        "exchanges (shuffles), single-partition exchanges (global sorts/limits —",
        "fine post-aggregation, a smell on raw data), broadcast exchanges,",
        "parquet scans and how many carry pushed filters, nested-loop joins",
        "(expected only for deliberate small-side inequality joins).",
        "",
        "Static-plan subtree duplication is deduplicated at runtime by",
        "ReusedExchange ONLY where the duplicated consumers reach identical",
        "exchanges. The r5 claim that this covered the n-gram pair queries was",
        "half wrong: their consumers exchange on different keys, so the",
        "shingle derivation recomputed per consumer until r6b inserted one",
        "explicit repartition on the shingle/gram column for every consumer",
        "to reuse (BASELINE.md §2 Round-6b: 7.1 s → 3.0 s at sf0.1, and the",
        "16× corpus curve bends from 10.5× to 5.2× wall — BASELINE.md §2/§3",
        "r6b). Multi-consumer repartitions of this kind show up below as one",
        "extra shuffle; that shuffle is the materialization point the",
        "consumers share. persist() remains deliberately unused (eager",
        "BlockManager barrier, hides scan pushdown from this audit).",
        "",
        "| query | shuffles | 1-part | bcast | scans | pushed | NLJ |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            a = audit(buf.getvalue())
            lines.append(
                f"| {name} | {a['shuffles']} | {a['single_partition_exchanges']} "
                f"| {a['broadcasts']} | {a['scans']} | {a['scans_with_pushdown']} "
                f"| {a['bc_nested_loop'] + a['cartesian']} |"
            )
        except Exception as exc:  # pragma: no cover
            lines.append(f"| {name} | ERROR: {str(exc)[:60]} | | | | | |")
    lines += [
        "",
        "## Reading notes",
        "",
        "- 0-shuffle rows are pure projections (whole-stage codegen, no wide op).",
        "- Aggregation/window queries show exactly 1 shuffle — map-side partials",
        "  keep exchange volume at group cardinality.",
        "- NLJ>0 is deliberate: dq_lineitem_report broadcast-crosses a 1-row",
        "  summary; knn/near-dup broadcast a tiny side into an inequality join.",
        "- 1-part exchanges appear only post-aggregation (global ranks over ≤25",
        "  rows, global stats) — never on raw data.",
        "- duplicate_clusters is the iterative connected-components loop; its",
        "  shuffle count is iterations × join, by construction.",
        "- segment_nation_setops pays one distinct-shuffle per set operand —",
        "  inherent to EXCEPT/INTERSECT semantics.",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.md")
    with open(out, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(QUERIES)} queries)")


if __name__ == "__main__":
    main()
