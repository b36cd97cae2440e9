"""Driver-gate simulation: run EVERY registered query on Spark AND its
DuckDB oracle at the given SF, compare rows/schema/values after the
driver's normalization (columns sorted by name, rows sorted, floats
rounded to 9), the same comparison as ``tests/test_queries.py``."""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duckdb

from tests.test_queries import TABLES, _norm_rows as norm_rows

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def main():
    from ai_pdf_ocr_spark.engine.session import build_session
    from ai_pdf_ocr_spark.queries import all_queries

    spark = build_session(app="gate_sim", master="local[8]",
                          shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    reg = all_queries()
    if len(sys.argv) > 2:  # optional substring filters for fast loops
        pats = sys.argv[2].split(",")
        reg = {k: v for k, v in reg.items()
               if any(p in k for p in pats)}
    bad, ok = [], 0
    for name in sorted(reg):
        q = reg[name]
        try:
            sdf = q.fn(spark, SF_DIR)
            srows = sdf.collect()
            scols = sdf.columns
            if q.sql is None:
                ok += 1
                print(f"  {name}: rows-only ({len(srows)})", flush=True)
                continue
            cur = con.execute(q.sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            sn = norm_rows(scols, [tuple(r) for r in srows])
            on = norm_rows(ocols, orows)
            if sorted(scols) != sorted(ocols):
                bad.append((name, "schema", scols, ocols))
            elif sn != on:
                diff = next((i for i, (a, b) in enumerate(zip(sn, on))
                             if a != b), min(len(sn), len(on)))
                bad.append((name, f"values rows={len(sn)}/{len(on)} "
                            f"first_diff@{diff}: "
                            f"{sn[diff] if diff < len(sn) else '∅'} vs "
                            f"{on[diff] if diff < len(on) else '∅'}"))
            else:
                ok += 1
        except Exception as e:
            bad.append((name, f"ERR {type(e).__name__}: {e}"))
    spark.stop()
    print(json.dumps({"sf": SF_DIR, "ok": ok, "bad": bad}, default=str))


if __name__ == "__main__":
    main()
