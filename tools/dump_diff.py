"""Cross-dump regression differential: compare two graft.Verify output
dirs query-by-query by row count + an order-insensitive checksum over
the VARCHAR row image (computed in DuckDB — scales to the 10^8-row
streaming-pair dumps pandas cannot hold). Two trees that should be
result-identical (a refactor, a physical-plan change like the r15
broadcast rewrite) diff to an empty report; any divergence lists the
query, both counts, and both checksums.

    python3 tools/dump_diff.py <dump_a> <dump_b> [--only a,b,c]

Queries present in only one dump are reported as such (a new query or
a failed dump is visible, never silently skipped). An `--only` name
neither dump holds fails the run before any query is compared. Column sets are
compared too — a renamed column is a schema break even at equal
checksums (the image is built per-dump from ITS sorted columns).

Float caveat: the row image casts DOUBLEs through ROUND(·, 9) like
staged_oracle's compare, so bit-level double drift below 1e-9 is
tolerated; everything the oracles treat as exact (integers, strings,
decimals) compares exactly.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duck_env  # noqa: E402


def checksum(con, path):
    rel = f"SELECT * FROM '{path}/*.parquet'"
    probe = con.sql(f'{rel} LIMIT 0')
    parts = []
    for cname, dtype in zip(probe.columns, probe.types):
        c = f'"{cname}"'
        if str(dtype) in ('FLOAT', 'DOUBLE'):
            parts.append(f'CAST(ROUND({c}, 9) AS VARCHAR)')
        else:
            parts.append(f'CAST({c} AS VARCHAR)')
    img = " || '|' || ".join(
        f"COALESCE({p}, '<null>')"
        for _, p in sorted(zip(probe.columns, parts)))
    n, h = con.sql(
        f'SELECT COUNT(*), COALESCE(SUM(CAST(hash({img}) AS HUGEINT)), 0) '
        f'FROM ({rel})').fetchone()
    return n, h, sorted(probe.columns)


def main():
    a, b = sys.argv[1], sys.argv[2]
    only = None
    for arg in sys.argv[3:]:
        if arg.startswith('--only'):
            val = arg.split('=', 1)[1] if '=' in arg else \
                sys.argv[sys.argv.index(arg) + 1]
            only = set(x.strip() for x in val.split(',') if x.strip())
    qs_a = {d for d in os.listdir(a) if os.path.isdir(os.path.join(a, d))}
    qs_b = {d for d in os.listdir(b) if os.path.isdir(os.path.join(b, d))}
    if only is not None:
        # a name neither dump holds fails and is listed, as
        # compare_oracle.py --only does: a typo must not pass as 0/0
        unknown = sorted(only - (qs_a | qs_b))
        if unknown:
            sys.exit(f"unknown query {', '.join(unknown)}; "
                     f"valid: {', '.join(sorted(qs_a | qs_b))}")
        qs_a &= only
        qs_b &= only
    diffs = []
    for q in sorted(qs_a | qs_b):
        if q not in qs_a or q not in qs_b:
            diffs.append(f'{q}: ONLY IN {"A" if q in qs_a else "B"}')
            print(diffs[-1])
            continue
        con = duck_env.connect()
        try:
            ra, rb = checksum(con, f'{a}/{q}'), checksum(con, f'{b}/{q}')
        except Exception as e:
            diffs.append(f'{q}: ERR {str(e)[:160]}')
            print(diffs[-1])
            con.close()
            continue
        con.close()
        if ra != rb:
            diffs.append(f'{q}: DIFF rows={ra[0]}/{rb[0]} '
                         f'checksum={ra[1]}/{rb[1]} cols={ra[2]}/{rb[2]}')
            print(diffs[-1])
        else:
            print(f'{q}: identical ({ra[0]} rows)')
    n = len(qs_a | qs_b)
    print(f'\n{n - len(diffs)}/{n} queries identical; diffs: {len(diffs)}')
    sys.exit(1 if diffs else 0)


if __name__ == '__main__':
    main()
