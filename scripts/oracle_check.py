"""Round-6 optimization guard: re-run declared queries against the DuckDB
oracle (the driver's own check, locally reproduced) so any plan change that
alters RESULTS is caught before commit.

Usage: python scripts/oracle_check.py [--sf /root/testdata/sf0.1] q01 t05 ...
       (no names = every query that has an oracle; a name selects the
       query of that name or every `<name>_*` query; a name that selects
       nothing exits 2 before Spark starts)
"""

from __future__ import annotations

import argparse
import os
import sys
from collections.abc import Iterable

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = ["documents", "lineitem", "orders", "customer", "nation", "region",
          "events", "embeddings", "part", "supplier"]


def resolve_names(requested: list[str], available: Iterable[str]) -> list[str]:
    """The query names selected by `requested`, sorted. A request matches a
    name exactly or as its prefix up to an underscore (`q01` selects
    `q01_pricing_summary`; `q1` does not select `q10_*`). No request selects
    every name. Raises ValueError listing the requests that match nothing."""
    names = sorted(available)
    if not requested:
        return names
    selected: set[str] = set()
    unknown = []
    for n in requested:
        hits = [k for k in names if k == n or k.startswith(n + "_")]
        if not hits:
            unknown.append(n)
        selected.update(hits)
    if unknown:
        raise ValueError(f"no query matches {unknown}")
    return sorted(selected)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cores", type=int)
    args = ap.parse_args()

    from docvision_spark.pipeline.session import get_spark
    import __spark_entry__ as entry

    reg, orc = entry.queries(), entry.oracle_sql()
    try:
        names = resolve_names(args.names, orc)
    except ValueError as e:
        ap.error(str(e))

    spark = get_spark(app_name="oracle-check", cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(args.sf, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"create view {t} as select * from read_parquet('{path}')")

    failures = []
    for name in names:
        if name not in reg:
            continue
        try:
            sdf = reg[name](spark, args.sf).toPandas()
            odf = con.execute(orc[name]).df()
            cols = sorted(sdf.columns)
            assert cols == sorted(odf.columns), \
                f"schema {cols} vs {sorted(odf.columns)}"
            s = sdf[cols].sort_values(cols).reset_index(drop=True)
            o = odf[cols].sort_values(cols).reset_index(drop=True)
            assert len(s) == len(o), f"rows {len(s)} vs {len(o)}"
            for c in cols:
                sv, ov = s[c], o[c]
                if sv.dtype.kind in "fc" or ov.dtype.kind in "fc":
                    import numpy as np
                    ok = np.allclose(sv.astype(float).fillna(-1e18),
                                     ov.astype(float).fillna(-1e18),
                                     rtol=0, atol=1e-9)
                else:
                    ok = (sv.astype(str).values == ov.astype(str).values).all()
                assert ok, f"column {c} differs"
            print(f"PASS {name} ({len(s)} rows)")
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: {e}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        sys.exit(1)
    print("ALL PASS")


if __name__ == "__main__":
    main()
