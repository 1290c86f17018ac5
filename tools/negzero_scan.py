"""Registry-wide negative-zero scan (VERDICT r10 item 1c/4).

Spark round(-eps, 6) emits +0.0 (java.math.BigDecimal has no -0)
while DuckDB round(-eps, 6) emits -0.0, and the driver's typed value
hash is sign-aware — so any query whose final float emission can be
a hair below zero (clamped ratios, correlations, slopes, drawdowns,
log-ratios, CUSUM) is one data point away from a red driver row with
rows/schema green (the agg_atkinson_index r8/r10 signature).

This tool scans EVERY registered oracle (DuckDB side, cheap) and —
with --spark — every Spark query, at the given tier, and reports any
-0.0 in any output cell (recursing into arrays/structs). The policy
is "no query emits -0.0 on either engine": a query that does is one
engine-version change away from a cross-engine sign disagreement.
Fix sites by clamping (greatest(0, x) when the quantity is >= 0 by
definition) or normalizing (x + 0.0; IEEE: -0.0 + 0.0 = +0.0) on
BOTH engines.

Usage:
    python tools/negzero_scan.py [sf_dir ...] [--spark]

Exit status: 0 if clean, 1 if any -0.0 found.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from kafka_stream_aggregator_spark.queries import REGISTRY

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _neg_zero_cells(v, path=""):
    """Yield (path, value) for every -0.0 in a (possibly nested) cell."""
    if isinstance(v, float):
        if v == 0.0 and math.copysign(1.0, v) < 0:
            yield path, v
    elif isinstance(v, (list, tuple)):
        for i, x in enumerate(v):
            yield from _neg_zero_cells(x, f"{path}[{i}]")
    elif isinstance(v, dict):
        for k, x in v.items():
            yield from _neg_zero_cells(x, f"{path}.{k}")


def scan_rows(rows, cols):
    hits = []
    for r in rows:
        for c, v in zip(cols, r):
            hits.extend(_neg_zero_cells(v, c))
    return hits


def scan_oracles(sf_dir: str) -> list[str]:
    """Run every registered oracle in DuckDB; return '-0.0' hit lines."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    bad = []
    for name, spec in REGISTRY.items():
        if spec.oracle is None:
            continue
        cur = con.execute(spec.oracle)
        cols = [d[0] for d in cur.description]
        hits = scan_rows(cur.fetchall(), cols)
        if hits:
            bad.append(f"{name} [duckdb @ {sf_dir}]: "
                       f"{sorted(set(p for p, _ in hits))}")
    con.close()
    return bad


def scan_spark(sf_dir: str) -> list[str]:
    """Run every registered Spark query; return '-0.0' hit lines."""
    from kafka_stream_aggregator_spark.session import get_spark

    spark = get_spark("negzero_scan", extra={"spark.ui.showConsoleProgress": "false"})
    bad = []
    for name, spec in REGISTRY.items():
        try:
            df = spec.fn(spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # env-gated queries (kafka etc.)
            print(f"  skip {name}: {type(e).__name__}", file=sys.stderr)
            continue
        hits = scan_rows(rows, df.columns)
        if hits:
            bad.append(f"{name} [spark @ {sf_dir}]: "
                       f"{sorted(set(p for p, _ in hits))}")
    return bad


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--spark"]
    do_spark = "--spark" in sys.argv[1:]
    tiers = args or ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
    bad = []
    for sf_dir in tiers:
        print(f"scanning oracles @ {sf_dir} ...")
        bad.extend(scan_oracles(sf_dir))
        if do_spark:
            print(f"scanning spark queries @ {sf_dir} ...")
            bad.extend(scan_spark(sf_dir))
    if bad:
        print("NEGATIVE ZERO FOUND:")
        for line in bad:
            print("  " + line)
        return 1
    print(f"clean: no -0.0 in any scanned output ({len(tiers)} tier(s), "
          f"spark={'yes' if do_spark else 'no'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
