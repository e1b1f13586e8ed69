"""Duplicated-scan audit (optimization round 15).

For every registered query, build the physical plan at sf0.001 and
count DISTINCT `Scan parquet` operator ids per source table that sit
OUTSIDE an InMemoryRelation (cached subtrees replay in the formatted
text but execute once). A table appearing under two distinct
non-cached scan ids is computed twice at the source — either a
deliberate two-pass algorithm (quantile-then-flag, midpoint-then-
grain) or a missing materialize_once.

Usage: python tools/scan_audit.py [name ...]   (default: all)
Output: one line per query with >1 distinct scan of some table.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF", "/root/testdata/sf0.001")


def main() -> None:
    from msk_flink_streaming_cdk_spark.plans.checks import formatted_plan
    from msk_flink_streaming_cdk_spark.registry import QUERIES
    from msk_flink_streaming_cdk_spark.registry.llm_q import bench_warm
    from msk_flink_streaming_cdk_spark.session import get_spark

    names = sys.argv[1:] or list(QUERIES)
    spark = get_spark(app_name="scan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    for name in names:
        try:
            bench_warm(name, spark, SF_DIR)
            df = QUERIES[name](spark, SF_DIR)
            plan = formatted_plan(df)
        except Exception as e:  # noqa: BLE001 - audit tool, report and move on
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            continue
        # Details section: "(id) Scan parquet" followed by a Location
        # line; InMemoryRelation-owned scans execute once regardless of
        # how often the cached subplan is reprinted, so drop any scan id
        # that appears in the tree only under an InMemoryRelation chain.
        tree, _, details = plan.partition("\n\n")
        cached_ids: set[str] = set()
        depth_stack: list[tuple[int, bool]] = []
        for line in tree.splitlines():
            m = re.search(r"(?:\+-|:-)?\s*([A-Za-z]+[A-Za-z ]*)\((\d+)\)", line)
            if not m:
                continue
            indent = len(line) - len(line.lstrip(" :+-"))
            while depth_stack and depth_stack[-1][0] >= indent:
                depth_stack.pop()
            in_cache = bool(depth_stack and depth_stack[-1][1])
            is_imr = "InMemoryRelation" in line
            depth_stack.append((indent, in_cache or is_imr))
            if "Scan parquet" in line and in_cache:
                cached_ids.add(m.group(2))
        # ADVICE r15: bound the Location search to the CURRENT
        # operator's details block (split on the "(id) Operator"
        # headers) so a scan block without a Location line can't
        # silently inherit the next operator's location; self-check
        # that every non-cached tree scan id resolved to a table.
        per_table: dict[str, set[str]] = {}
        resolved: set[str] = set()
        tree_scan_ids = {
            m.group(1)
            for m in re.finditer(r"Scan parquet[^(]*\((\d+)\)", tree)
        }
        blocks = re.split(r"(?m)^\((\d+)\) ", details)
        # re.split with one group yields [pre, id1, block1, id2, ...]
        for sid, block in zip(blocks[1::2], blocks[2::2]):
            if not block.startswith("Scan parquet"):
                continue
            loc = re.search(r"Location:[^\[]*\[([^\]]+)\]", block)
            if not loc:
                continue
            resolved.add(sid)
            if sid in cached_ids:
                continue
            table = os.path.basename(loc.group(1).rstrip("/"))
            per_table.setdefault(table, set()).add(sid)
        unresolved = tree_scan_ids - cached_ids - resolved
        if unresolved:
            print(
                f"{name}: WARN unresolved scan ids {sorted(unresolved)}"
            )
        dups = {t: sorted(ids) for t, ids in per_table.items() if len(ids) > 1}
        if dups:
            print(f"{name}: {dups}")
    spark.stop()


if __name__ == "__main__":
    main()
