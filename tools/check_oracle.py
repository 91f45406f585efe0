"""Compare a `graft.Verify` dump against the DuckDB oracle.

Usage:
    sbt -batch "runMain graft.Verify <sf_dir> <out_dir> [query ...]"
    python3 tools/check_oracle.py <sf_dir> <out_dir> [query ...]

For each query in <out_dir>/oracle_sql.json (or only the named ones) it
runs the oracle SQL over the corpus parquet files, reads the Spark
result from <out_dir>/<query>/, and compares the two with columns
sorted by name and rows sorted by every column, as strings. It prints
one line per query and exits 1 unless every line is MATCH.
"""
import json
import os
import sys

import duckdb

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def canonical(df):
    cols = sorted(df.columns)
    return df[cols].sort_values(by=cols).reset_index(drop=True).astype(str)


def compare(con, name, sql, outdir):
    spath = os.path.join(outdir, name)
    if not os.path.isdir(spath):
        return 'MISSING spark output'
    spark_df = con.execute(
        f"SELECT * FROM read_parquet('{spath}/*.parquet')").fetchdf()
    try:
        ora_df = con.execute(sql).fetchdf()
    except Exception as e:  # the oracle's own failure is a result too
        return f'ORACLE SQL ERROR {e}'
    if sorted(spark_df.columns) != sorted(ora_df.columns):
        return (f'SCHEMA MISMATCH spark={sorted(spark_df.columns)} '
                f'oracle={sorted(ora_df.columns)}')
    if len(spark_df) != len(ora_df):
        return f'ROWCOUNT MISMATCH spark={len(spark_df)} oracle={len(ora_df)}'
    s, o = canonical(spark_df), canonical(ora_df)
    if s.equals(o):
        return f'rows={len(s)} MATCH'
    import pandas as pd
    idx = (s != o).any(axis=1)
    return f'rows={len(s)} VALUE MISMATCH\n' + pd.concat(
        [s[idx].head(3).add_suffix('_spark'),
         o[idx].head(3).add_suffix('_oracle')], axis=1).to_string()


def main(argv):
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    sfdir, outdir, only = argv[1], argv[2], argv[3:]
    with open(os.path.join(outdir, 'oracle_sql.json')) as f:
        oracles = json.load(f)
    unknown = [q for q in only if q not in oracles]
    if unknown:
        print(f'no oracle for: {" ".join(unknown)}', file=sys.stderr)
        return 2
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sfdir}/{t}.parquet')")
    failed = 0
    for name in (only or list(oracles)):
        line = compare(con, name, oracles[name], outdir)
        print(f'{name}: {line}', flush=True)
        failed += not line.endswith(' MATCH')
    print(f'{len(only or oracles) - failed}/{len(only or oracles)} MATCH')
    return 1 if failed else 0


if __name__ == '__main__':
    sys.exit(main(sys.argv))
