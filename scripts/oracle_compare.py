"""Compare a `graft.Verify` dump against its DuckDB oracles.

`graft.Verify <sfDir> <outDir>` writes one parquet directory per query plus
`oracle_sql.json` (query name -> DuckDB SQL). This script registers every
`<sfDir>/<table>.parquet` as a DuckDB view, runs each oracle, and compares
its result with the Spark output: columns sorted by name, every value
rendered with `astype(str)`, rows sorted by value. Both sides are read
through DuckDB, so a type is rendered the same way on either side.

    python3 scripts/oracle_compare.py <outDir> <sfDir> [name,name,...]

Prints one line per query (`OK (<rows> rows)` or what differs) and a
summary; exits 1 if any query mismatches, fails, or has no Spark output.
"""
import json
import os
import sys

import duckdb

TABLES = ["events", "documents", "embeddings", "lineitem", "orders",
          "customer", "nation", "region", "part", "supplier"]


def normalized(df):
    df = df[sorted(df.columns)].astype(str)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(con, name, sql, out_dir):
    spark_dir = os.path.join(out_dir, name)
    if not os.path.isdir(spark_dir):
        return "no Spark output", 0
    want = normalized(con.sql(sql).df())
    got = normalized(con.sql(
        f"SELECT * FROM read_parquet('{spark_dir}/*.parquet')").df())
    if list(want.columns) != list(got.columns):
        return f"columns differ: oracle {list(want.columns)} vs spark {list(got.columns)}", 0
    if len(want) != len(got):
        return f"row count differs: oracle {len(want)} vs spark {len(got)}", 0
    diff = (want != got).any(axis=1)
    if diff.any():
        i = int(diff.idxmax())
        return (f"{int(diff.sum())} rows differ, first: oracle "
                f"{want.iloc[i].to_dict()} vs spark {got.iloc[i].to_dict()}"), 0
    return None, len(got)


def main(argv):
    if len(argv) < 3:
        sys.exit(__doc__)
    out_dir, sf_dir = argv[1], argv[2]
    only = set(argv[3].split(",")) if len(argv) > 3 else None
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    bad = []
    for name, sql in sorted(oracles.items()):
        if only is not None and name not in only:
            continue
        try:
            err, rows = compare(con, name, sql, out_dir)
        except Exception as e:  # an oracle or a dump that DuckDB cannot run
            err = f"error: {e}"
        if err:
            bad.append(name)
            print(f"{name}: mismatch — {err}")
        else:
            print(f"{name}: OK ({rows} rows)")
    total = len(oracles) if only is None else len(only & set(oracles))
    print(f"{total - len(bad)}/{total} oracle rows match")
    if bad:
        print("failing: " + ", ".join(bad))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
