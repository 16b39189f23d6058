"""Ad-hoc gate checker: run one or more queries() entries against their
oracle_sql() twins exactly like the driver (row count + sorted-column value
hash).  Usage: python tests/check_gate.py sf0.001 pois_batch_join ..."""
import hashlib
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
import __spark_entry__ as E  # noqa: E402
from openpoiservice_spark.session import get_spark  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _norm(v):
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float) and v.is_integer():
        return v
    return v


def value_hash(rows, cols):
    lines = sorted(",".join(repr(_norm(r[c])) for c in cols) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "sf0.001"
    names = sys.argv[2:]
    sf_dir = f"/root/testdata/{sf}"
    spark = get_spark(app="gatecheck", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    qs, os_ = E.queries(), E.oracle_sql()
    names = names or [n for n in qs if n in os_]
    fails = 0
    for name in names:
        try:
            sdf = qs[name](spark, sf_dir)
            srows = sdf.collect()
            cols = sorted(sdf.columns)
            if name not in os_:
                # rows-only gate (no SQL twin) — mirror the driver's weaker
                # check: ran, stable schema, >= 0 rows
                print(f"{name}: rows {len(srows)} cols {cols} "
                      "(rows-only, no oracle) -> OK")
                continue
            odf = con.execute(os_[name]).fetch_df()
            orows = odf.to_dict("records")
            ocols = sorted(odf.columns)
            rh = len(srows) == len(orows)
            ch = cols == ocols
            sh = value_hash([r.asDict() for r in srows], cols)
            oh = value_hash(orows, ocols) if ch else "?"
            ok = rh and ch and sh == oh
            fails += 0 if ok else 1
            print(f"{name}: rows {len(srows)}/{len(orows)} cols_match={ch} "
                  f"hash_match={sh == oh} -> {'OK' if ok else 'FAIL'}")
            if not ch:
                print(f"  spark cols {cols} oracle cols {ocols}")
        except Exception as e:  # noqa: BLE001
            fails += 1
            print(f"{name}: ERROR {type(e).__name__}: {e}")
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
