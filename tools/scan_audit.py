"""Scan-pruning audit: for every bench query (and the TPC-H bank),
inspect the FORMATTED physical plan and report, per parquet scan:
columns read (ReadSchema) vs table width, and PushedFilters.

A scan that reads every column for a narrow projection, or a filter
that failed to push into the scan, is a 100 TB defect long before it
is a local-bench defect — this tool makes the plan-level contract
auditable and regression-testable (tests/test_scan_pruning.py pins
the headline queries).

Usage: python tools/scan_audit.py [out_md]
"""

from __future__ import annotations

import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLE_WIDTHS = {}  # filled at runtime from the parquet schemas


def formatted_plan(df) -> str:
    # public API: capture explain("formatted")
    buf = io.StringIO()
    import contextlib

    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


_SCAN_RE = re.compile(
    r"Scan parquet[^\n]*\n(?:.*?\n)*?(?=\n\(\d+\)|\Z)", re.MULTILINE
)


def audit_query(spark, sf_dir, name, fn):
    from pyspark.sql import functions as F  # noqa: F401

    df = fn(spark, sf_dir)
    txt = formatted_plan(df)
    scans = []
    # formatted plan lists scans as "(N) Scan parquet " blocks with
    # Location / ReadSchema / PushedFilters attributes
    for block in re.split(r"\n\(\d+\)", txt):
        # the plan-tree header also says "Scan parquet"; real scan
        # detail blocks carry Location/ReadSchema attributes
        if "Scan parquet" not in block or "ReadSchema" not in block:
            continue
        loc = re.search(r"Location:.*?\[(.*?)\]", block)
        table = ""
        if loc:
            m = re.search(r"([a-z_0-9]+)\.parquet", loc.group(1))
            table = m.group(1) if m else loc.group(1)[-30:]
        rs = re.search(r"ReadSchema: struct<(.*?)>", block, re.DOTALL)
        ncols = 0
        if rs:
            body = rs.group(1).strip()
            ncols = 0 if not body else len(re.findall(r"\w+:", body))
        pf = re.search(r"PushedFilters: \[(.*?)\]", block, re.DOTALL)
        filters = (pf.group(1).strip() if pf else "").replace("\n", " ")
        scans.append((table, ncols, filters))
    return scans


def main():
    out_md = sys.argv[1] if len(sys.argv) > 1 else None
    from kafka_stream_aggregator_spark.queries import REGISTRY
    from kafka_stream_aggregator_spark.session import get_spark
    from kafka_stream_aggregator_spark.tables import load_table

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("scan_audit", extra={"spark.ui.showConsoleProgress": "false"})
    for tname in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        TABLE_WIDTHS[tname] = len(load_table(spark, sf_dir, tname).columns)

    names = [n for n, s in REGISTRY.items() if getattr(s, "bench", False)]
    names += [n for n in REGISTRY if re.fullmatch(r"q\d+_\w+", n)]
    lines = [
        "# Scan-pruning audit (generated by tools/scan_audit.py)",
        "",
        f"Scale dir: {sf_dir}. For each parquet scan in each bench/TPC-H",
        "query's FORMATTED physical plan: columns read vs table width,",
        "and the filters pushed into the scan. `cols = width` is only a",
        "defect when the query projects fewer columns than it reads.",
        "",
        "| query | scan | cols read / width | pushed filters |",
        "|---|---|---|---|",
    ]
    worst = []
    for name in names:
        try:
            scans = audit_query(spark, sf_dir, name, REGISTRY[name].fn)
        except Exception as e:  # pragma: no cover - report, don't die
            lines.append(f"| {name} | ERROR {str(e)[:60]} | | |")
            continue
        if not scans:
            lines.append(f"| {name} | (no parquet scan — generator/stream) | | |")
        for tbl, ncols, filters in scans:
            width = TABLE_WIDTHS.get(tbl, "?")
            lines.append(
                f"| {name} | {tbl} | {ncols} / {width} | "
                f"{filters[:80] or '—'} |"
            )
            if width != "?" and ncols == width and width > 4:
                worst.append((name, tbl, ncols))
    lines += [
        "",
        "## Full-width scans (candidates to inspect)",
        "",
    ]
    if worst:
        for name, tbl, ncols in worst:
            lines.append(f"- {name}: reads all {ncols} columns of {tbl}")
    else:
        lines.append("- none")
    text = "\n".join(lines) + "\n"
    if out_md:
        with open(out_md, "w") as f:
            f.write(text)
        print(f"wrote {out_md} ({len(names)} queries)")
    else:
        print(text)


if __name__ == "__main__":
    main()
