"""Suite-wide plan-shape audit: no unpartitioned Window may consume an
unbounded (non-aggregated) relation.

An unpartitioned Window moves ALL its input to one reducer — the exact
shape that dies at 100 TB. It is only acceptable over a *bounded*
relation: the output of an Aggregate (group-by over a bounded key
domain), a GlobalLimit, or literal/local data. This walks the OPTIMIZED
logical plan of every registered query and reports violations.

Usage: python tools/window_audit.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_stream_aggregator_spark.queries import REGISTRY
from kafka_stream_aggregator_spark.session import get_spark

BOUNDED = {"Aggregate", "GlobalLimit", "LocalRelation", "OneRowRelation",
           "Range"}


def _children(node):
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _walk(node):
    yield node
    for c in _children(node):
        yield from _walk(c)


def unpartitioned_window_violations(df) -> list[str]:
    """Names of unpartitioned Window nodes whose subtree contains no
    bounded-relation producer (Aggregate/GlobalLimit/local data)."""
    plan = df._jdf.queryExecution().optimizedPlan()
    bad = []
    for node in _walk(plan):
        if node.getClass().getSimpleName() != "Window":
            continue
        if not node.partitionSpec().isEmpty():
            continue
        subtree = list(_walk(node))[1:]
        if not any(n.getClass().getSimpleName() in BOUNDED for n in subtree):
            bad.append(node.simpleString(120))
    return bad


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:] or [
        n for n in REGISTRY if not n.startswith("stream_")
    ]
    spark = get_spark("window_audit")
    n_bad = 0
    for name in names:
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {name}: {type(e).__name__}: {e}")
            continue
        bad = unpartitioned_window_violations(df)
        if bad:
            n_bad += 1
            print(f"VIOLATION {name}:")
            for b in bad:
                print(f"  {b}")
    print(f"{n_bad} violations / {len(names)} checked")


if __name__ == "__main__":
    main()
