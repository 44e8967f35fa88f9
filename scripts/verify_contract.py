"""Driver-contract verification: entry smoke + full DuckDB oracle sweep at
sf0.01 + cluster-size determinism probe (the /verify recipe, runnable).

Usage: python scripts/verify_contract.py [--probe q1,q2,...] [--only q1,q2]
Exit 0 = every query matches its oracle; prints a per-query status line.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF = "/root/testdata/sf0.01"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--probe", default="", help="comma list of queries to re-run at local[2]")
    ap.add_argument("--only", default="", help="comma list: restrict the oracle sweep")
    args = ap.parse_args()

    entrymod = importlib.import_module("__spark_entry__")
    from deepkg_spark.session import get_spark
    from tests.compare import canon_rows, duck_connect

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    n = entrymod.entry(spark).count()
    assert n > 0, "entry() smoke failed"
    print(f"entry smoke: {n} rows")

    con = duck_connect(SF)
    only = {q for q in args.only.split(",") if q}
    oracles = entrymod.oracle_sql()
    failures = []
    probe_cache: dict[str, list] = {}
    probe_set = {q for q in args.probe.split(",") if q}
    # a probe compares the local[2] result against the sweep's cached rows:
    # force-include every probe query in the sweep so --only can never leave
    # a probe without a baseline (which used to print a spurious DIVERGED)
    if only:
        only |= probe_set
    unknown = probe_set - set(entrymod.queries())
    if unknown:
        print(f"unknown probe queries: {sorted(unknown)}")
        return 2
    for name, q in entrymod.queries().items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sql = oracles[name]
            sdf = q(spark, SF)
            s = [tuple(r) for r in sdf.collect()]
            rel = con.sql(sql)
            d = rel.fetchall()
            sc = canon_rows([c.lower() for c in sdf.columns], s)
            dc = canon_rows([c.lower() for c in rel.columns], d)
            ok = len(s) == len(d) and sc == dc
            if name in probe_set:
                probe_cache[name] = sc
            print(f"{name}: {'OK' if ok else 'FAIL'} ({len(s)} rows, {time.time()-t0:.1f}s)")
            if not ok:
                failures.append(name)
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERROR {type(e).__name__}: {e}")
            failures.append(name)
    spark.stop()

    if probe_set:
        spark2 = get_spark(master="local[2]", shuffle_partitions=2)
        for name in sorted(probe_set):
            if name not in probe_cache:
                # the sweep run errored for this query — never compare
                # against a missing baseline (it would print DIVERGED for a
                # harness problem, or mask a real divergence as misuse)
                print(f"probe[local2] {name}: NO BASELINE (sweep errored)")
                failures.append(f"probe-no-baseline:{name}")
                continue
            q = entrymod.queries()[name]
            sdf = q(spark2, SF)
            sc = canon_rows(
                [c.lower() for c in sdf.columns], [tuple(r) for r in sdf.collect()]
            )
            ok = sc == probe_cache[name]
            print(f"probe[local2] {name}: {'IDENTICAL' if ok else 'DIVERGED'}")
            if not ok:
                failures.append(f"probe:{name}")
        spark2.stop()

    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print("ALL OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
