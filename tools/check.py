#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each verify-output
parquet, run the matching oracle SQL in DuckDB over the same sf tables and
compare (rows, schema-ish, values). Usage:

    python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import json
import math
import os
import struct
import sys

import duckdb
import numpy as np
import pandas as pd


def float_bits_equal(a: float, b: float) -> bool:
    """Bit-pattern equality — the driver hashes raw float bits, so -0.0 vs
    +0.0 (and any NaN-payload difference) is a driver mismatch even though
    `==` says equal. Local check must be at least as strict (r6 lesson:
    q_yaw_vane_bins was locally green / driver red on exactly this)."""
    return struct.pack("<d", a) == struct.pack("<d", b)

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    errs = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        errs.append(f"columns: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}")
        return errs
    if len(spark_df) != len(oracle_df):
        errs.append(f"rowcount: spark={len(spark_df)} oracle={len(oracle_df)}")
    s, o = canon(spark_df), canon(oracle_df)
    n = min(len(s), len(o))
    for col in s.columns:
        sc, oc = s[col].iloc[:n], o[col].iloc[:n]
        if str(sc.dtype) != str(oc.dtype):
            errs.append(f"dtype[{col}]: spark={sc.dtype} oracle={oc.dtype}")
        # Vectorized fast path: when the whole column already matches,
        # skip the per-row loop — it is minutes per million-row gate and
        # almost always all-green. Floats compare on BIT PATTERNS (the
        # driver hashes bits: -0.0 != +0.0 there); everything else via
        # Series.equals. Any discrepancy falls through for exact reporting.
        try:
            scr, ocr = sc.reset_index(drop=True), oc.reset_index(drop=True)
            if scr.dtype.kind == "f" and ocr.dtype.kind == "f":
                sb = scr.to_numpy().astype(np.float64).view(np.int64)
                ob = ocr.to_numpy().astype(np.float64).view(np.int64)
                if np.array_equal(sb, ob):
                    continue
            elif scr.equals(ocr):
                continue
        except (TypeError, ValueError):
            pass
        bad = 0
        first = None
        for i in range(n):
            a, b = sc.iloc[i], oc.iloc[i]
            if a is None and b is None:
                continue
            try:
                an, bn = pd.isna(a), pd.isna(b)
            except (TypeError, ValueError):
                an = bn = False
            if an and bn:
                continue
            if an != bn:
                bad += 1
                if first is None:
                    first = (i, a, b)
                continue
            if isinstance(a, float) and isinstance(b, float):
                if not float_bits_equal(a, b):
                    bad += 1
                    if first is None:
                        first = (i, a, b, "bits" if a == b or
                                 (math.isnan(a) and math.isnan(b)) else "value")
            elif a != b:
                bad += 1
                if first is None:
                    first = (i, a, b)
        if bad:
            errs.append(f"value[{col}]: {bad}/{n} mismatched, first={first}")
    return errs


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    # Bound the oracle, not the machine: DuckDB's default limit is ~80% of
    # RAM *per instance*; 8 concurrent sweep shards at sf10 each believed
    # they owned the box and the canon sorts OOM'd each other (r10 sweep:
    # 7 'Out of Memory Error' gate failures that were checker-resource, not
    # engine). A per-instance cap + disk spill makes shards well-behaved.
    mem = os.environ.get("CHECK_MEM_LIMIT", "12GB")
    con.execute(f"SET memory_limit='{mem}'")
    # Per-PROCESS spill dir: concurrent checkers sharing one spill dir
    # clobber each other's temp files (r12 sf10 sweep: a spurious
    # 'Could not read enough bytes from duckdb_temp_storage' IO error on
    # a gate that is green when checked alone). Best-effort cleanup at
    # exit keeps /tmp bounded.
    spill = f"/tmp/duckdb_spill_{os.getpid()}"
    con.execute(f"SET temp_directory='{spill}'")
    import atexit
    import shutil
    atexit.register(lambda: shutil.rmtree(spill, ignore_errors=True))
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle_sql = json.load(open(f"{out_dir}/oracle_sql.json"))
    ok = fail = 0
    # a pass over 0 rows checks nothing; name them so it shows
    empty_passes = []
    import glob
    have = {p.split("/")[-1] for p in glob.glob(f"{out_dir}/*") if not p.endswith(".json")}
    for name in sorted(have):
        if only and name not in only:
            continue
        # A killed Verify leaves a directory without Spark's _SUCCESS marker;
        # reading it yields a zero-column frame that fails confusingly.
        if not os.path.exists(f"{out_dir}/{name}/_SUCCESS"):
            print(f"✗ {name}: PARTIAL OUTPUT (no _SUCCESS) — re-run Verify for it")
            fail += 1
            continue
        spark_df = pd.read_parquet(f"{out_dir}/{name}")
        if name not in oracle_sql:
            print(f"  [rows-only] {name}: {len(spark_df)} rows")
            continue
        try:
            oracle_df = con.execute(oracle_sql[name]).fetchdf()
            # DuckDB's parallel double sum is order-nondeterministic run to
            # run: execute twice and flag oracles whose own output drifts
            # (a drifting oracle means the QUERY's rounding sits on a float
            # boundary — fix the gate, don't re-roll the dice)
            oracle_df2 = con.execute(oracle_sql[name]).fetchdf()
            if compare(name, oracle_df, oracle_df2):
                print(f"! {name}: UNSTABLE ORACLE (two runs differ) — "
                      f"make summed values integer-valued (see verify skill)")
        except Exception as e:
            print(f"✗ {name}: ORACLE SQL ERROR: {e}")
            fail += 1
            continue
        errs = compare(name, spark_df, oracle_df)
        if errs:
            fail += 1
            print(f"✗ {name}:")
            for e in errs:
                print(f"    {e}")
        else:
            ok += 1
            print(f"✓ {name} ({len(spark_df)} rows)")
            if len(spark_df) == 0:
                empty_passes.append(name)
    missing = set(oracle_sql) - have
    if missing:
        print(f"! oracle entries without spark output: {sorted(missing)}")
    print(f"\n{ok} ok, {fail} failed")
    if empty_passes:
        print(f"0-row passes: {', '.join(empty_passes)}")
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()
