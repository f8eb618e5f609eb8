"""Generate ``expected.json``: the fingerprint every benchmark row must produce.

    python3 perfbench/make_expected.py

Each row runs once on the engine over the vendored sf0.01 tables, and its
fingerprint is stored only if the row's DuckDB ``oracle_sql``, run over the
same tables, gives the same fingerprint. Load-shaped rows must also read
back from parquet exactly what the plan returns. The script writes nothing
and exits 1 if any check disagrees.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import workloads as wl  # noqa: E402


def main() -> int:
    missing = wl.missing_files()
    if missing:
        print(f"tree under test is incomplete: {missing}", file=sys.stderr)
        return 2
    work = run.prepare_work_dir()
    sys.path.insert(0, str(wl.ROOT))
    import duckdb

    from lfb_data_warehouse_spark.plans import REGISTRY
    from lfb_data_warehouse_spark.session import get_spark
    from lfb_data_warehouse_spark.sources.io import write_parquet

    spark = get_spark("perfbench-expected", extra_conf=run.work_dir_conf(work))
    fingerprint = wl.fingerprinter()
    con = duckdb.connect()
    for t in wl.load_by_path("check_oracle", "tools/check_oracle.py").TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{wl.DATA_DIR / t}.parquet')")

    names = [n for rows in wl.WORKLOADS.values() for n in rows]
    fns = wl.row_functions(names)
    out, bad = {}, []
    for name in names:
        df = fns[name](spark, str(wl.DATA_DIR))
        got = fingerprint(df.toPandas())
        if name in wl.WRITTEN:
            path = str(work / "written" / name)
            write_parquet(df, path)
            back = spark.read.parquet(path).toPandas()
            if fingerprint(back) != got:
                bad.append(f"{name}: parquet read-back differs from the plan's result")
        ref = fingerprint(con.execute(REGISTRY[name].oracle).df())
        if ref != got:
            bad.append(f"{name}: engine disagrees with its DuckDB oracle_sql")
        out[name] = {"fingerprint": got, "checked_against": "duckdb oracle_sql"}
        print(f"{'ok ' if ref == got else 'BAD'} {name}", flush=True)
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    doc = {"data": "perfbench/data/sf0.01",
           "fingerprint": "sha256 of repr(tools/check_oracle.py canon(result))",
           "rows": out}
    with open(wl.EXPECTED, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
