"""Multi-SF oracle verification for targeted queries (r15).

Runs named queries()/oracle_sql() pairs through the same comparator the
test suite uses (tests/oracle.compare) at each given SF dir — the
3-SF re-proof the optimization rounds owe for every rewritten query
(ADVICE r14 medium: the 50-query driver sample omits most rewrites).

Usage:
  PYTHONPATH=/root/repo python tools/oracle_sweep.py \
      --names effective_diameter_approx,embedding_pca_power \
      [--sfs /root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import sys

# Driver heap: half the host's physical memory, capped at 16g (a fixed
# 16g exceeds the RAM of smaller hosts); an explicit env value wins.
_HALF_RAM_MB = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 21
os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{min(_HALF_RAM_MB, 16384)}m")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", required=True)
    ap.add_argument(
        "--sfs",
        default="/root/testdata/sf0.001,/root/testdata/sf0.01,/root/testdata/sf0.1",
    )
    args = ap.parse_args()
    names = [n.strip() for n in args.names.split(",") if n.strip()]
    sfs = [s.strip() for s in args.sfs.split(",") if s.strip()]

    import __spark_entry__ as entrymod
    from sna_pyspark_graphframes_spark import registry
    from sna_pyspark_graphframes_spark.session import get_spark
    from tests.oracle import compare, duckdb_connection

    spark = get_spark(app_name="oracle_sweep")
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    failures = 0
    for sf_dir in sfs:
        registry.clear_session_caches()
        registry.clear_twin_memo()
        con = duckdb_connection(sf_dir)
        for name in names:
            if name not in oracles:
                print(f"[{sf_dir}] {name}: NO ORACLE", flush=True)
                failures += 1
                continue
            df = qs[name](spark, sf_dir)
            ok, msg = compare(df, con, oracles[name])
            print(f"[{sf_dir}] {name}: {'OK' if ok else 'FAIL ' + str(msg)}", flush=True)
            failures += 0 if ok else 1
        con.close()
    registry.clear_session_caches()
    registry.clear_twin_memo()
    print(f"failures={failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
