#!/usr/bin/env python
"""Value-check registry keys against their DuckDB oracles at arbitrary
fixture scales: `python scripts/sweep_parity.py [SF_DIR ...] [KEY ...]`.

Arguments that name a directory are fixture dirs; the rest are registry
keys.  With no keys it sweeps EVERY key (default dir: sf0.01); with
keys it checks only those (default dirs: sf0.001, sf0.01 and sf0.1),
the per-change parity gate.

The in-suite gates run the full registry at sf0.01 (the driver's scale)
plus curated slices at sf0.001/sf0.1; this sweep is the exhaustive
cross-scale audit.  It has caught two real latent flakes the sf0.01
gate could not see: percentile interpolation midpoints at sf0.001
(two-element groups) and a .005 double-rounding tie in
project_arithmetic at sf0.1 — both fixed with exact integer/decimal
arithmetic (see PLANS.md)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from mysql_postgres_debezium_cdc_spark.registry import all_queries
from mysql_postgres_debezium_cdc_spark.session import get_session
from tests.conftest import SF_DIR_ORACLE
from tests.parity import compare, duck_connection


def sweep(spark, sf_dir: str, keys: list[str] | None = None) -> list[tuple[str, str]]:
    con = duck_connection(sf_dir)
    specs = all_queries()
    bad = []
    for name in keys or list(specs):
        spec = specs[name]
        if spec.oracle is None:
            if keys:
                bad.append((name, "no oracle"))
            continue
        try:
            errors = compare(spec.fn(spark, sf_dir), con.sql(spec.oracle).df())
            if errors:
                bad.append((name, errors[0][:200]))
        except Exception as ex:  # noqa: BLE001 — report, keep sweeping
            bad.append((name, "EXC: " + str(ex)[:200]))
        spark.catalog.clearCache()
    print(f"swept {sf_dir}: failures={len(bad)}", flush=True)
    for name, err in bad:
        print(f"  {name}: {err}", flush=True)
    return bad


def main() -> int:
    args = sys.argv[1:]
    sf_dirs = [a for a in args if os.path.isdir(a)]
    keys = [a for a in args if not os.path.isdir(a)]
    unknown = sorted(set(keys) - set(all_queries()))
    if unknown:
        print(f"unknown registry keys: {unknown}", file=sys.stderr)
        return 2
    if not sf_dirs:
        root = os.path.dirname(SF_DIR_ORACLE)
        scales = ("sf0.001", "sf0.01", "sf0.1") if keys else ("sf0.01",)
        sf_dirs = [os.path.join(root, sf) for sf in scales]
    spark = get_session("sweep-parity")
    total_bad = 0
    for sf_dir in sf_dirs:
        total_bad += len(sweep(spark, sf_dir, keys))
    return 1 if total_bad else 0


if __name__ == "__main__":
    sys.exit(main())
