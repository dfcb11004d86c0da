#!/usr/bin/env python3
"""Replay the driver's DuckDB compare over a graft.Verify output dir.

Usage: python3 tools/oracle_compare.py [verify_out_dir] [sf_dir]

Each query's Spark output and oracle result are compared column-name-
sorted and row-sorted, dtype-aware. A mismatch names what differs
(columns, row count, dtypes) and prints the first differing rows.
Exits 1 on any mismatch or error.
"""
import duckdb, json, sys

out = sys.argv[1] if len(sys.argv) > 1 else '/tmp/verify_out'
d = sys.argv[2] if len(sys.argv) > 2 else '/root/testdata/sf0.01'
con = duckdb.connect()
for t in ['lineitem', 'orders', 'customer', 'supplier', 'part', 'nation',
          'region', 'events', 'documents', 'embeddings']:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")


def canon(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def problems(g, e):
    """Why g (Spark) and e (oracle) differ; empty when they are equal."""
    if list(g.columns) != list(e.columns):
        return [f'cols spark={list(g.columns)} oracle={list(e.columns)}']
    if len(g) != len(e):
        return [f'rows spark={len(g)} oracle={len(e)}']
    out = []
    if list(g.dtypes) != list(e.dtypes):
        out.append(f'dtypes spark={list(map(str, g.dtypes))} '
                   f'oracle={list(map(str, e.dtypes))}')
    if not g.equals(e):
        bad = ((g != e) & ~(g.isna() & e.isna())).any(axis=1)
        if bad.any():
            out.append(f'{int(bad.sum())} differing rows; first:')
            for i in bad[bad].index[:3]:
                out.append(f'  spark : {g.loc[i].to_dict()}')
                out.append(f'  oracle: {e.loc[i].to_dict()}')
        elif not out:
            out.append('frames differ (equals() is False, no row differs)')
    return out


bad = 0
for name, sql in sorted(json.load(open(f'{out}/oracle_sql.json')).items()):
    try:
        got = con.execute(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
        exp = con.execute(sql).df()
    except Exception as e:
        bad += 1
        print(name, 'ERR', str(e)[:120])
        continue
    why = problems(canon(got), canon(exp))
    if why:
        bad += 1
        print(name, 'MISMATCH')
        for line in why:
            print('   ', line)
print('ALL OK' if bad == 0 else f'{bad} MISMATCHES')
sys.exit(1 if bad else 0)
