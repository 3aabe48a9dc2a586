"""Driver-replica oracle compare: DuckDB evaluates each oracleSql entry
against the testdata views and the result is hash-compared (sorted
columns, stringified objects, sorted rows) with the Spark dump from
graft.Verify.

    python3 tools/compare_oracle.py [sf_dir] [verify_out_dir] [--fork] [--only a,b,c]

Each query runs on a FRESH DuckDB connection: one long-lived connection
fragments after memory-heavy oracles (p55's recursive CTE under
memory_limit=48GB at sf0.1) and OOMs the queries evaluated after it —
measured in round 9, where 4 late-alphabet oracles failed on a shared
connection and all matched immediately on fresh ones.

`--fork` goes one step further and runs EACH QUERY IN ITS OWN
SUBPROCESS: a fresh connection in the same process does not return
p55's ~48 GB RSS to the OS (the allocator keeps it), so at sf0.1 the
queries evaluated after p55 can still die on host-level allocation
failures if anything else is running. A subprocess exits and gives the
memory back. Costs ~0.5 s/query of interpreter startup — use it for
sf0.1 sweeps; plain mode is fine at sf0.01 and below.

`--only` (comma-separated names) restricts the run — re-checking a
flagged query or finishing an interrupted sweep without re-evaluating
everything.
"""
import json, os, subprocess, sys
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duck_env  # capped + self-cleaning DuckDB spill (r14 ENOSPC postmortem)

flags = [a for a in sys.argv[1:] if a.startswith('--')]
fork = '--fork' in flags
only = None
consumed = set()  # indices of space-form `--only NAME` values
# walk by index (not .index(), which always finds the FIRST occurrence):
# repeated --only flags each consume their own value and union together
for i, a in enumerate(sys.argv):
    if i > 0 and a.startswith('--only'):
        val = a.split('=', 1)[1] if '=' in a else None
        if val is None:
            val = sys.argv[i + 1] if i + 1 < len(sys.argv) else ''
            consumed.add(i + 1)  # keep the name out of the positionals
        vals = set(x.strip() for x in val.split(',') if x.strip())
        only = vals if only is None else (only | vals)
args = [a for i, a in enumerate(sys.argv) if i > 0
        and not a.startswith('--') and i not in consumed]
sf = args[0] if len(args) > 0 else '/root/testdata/sf0.01'
out = args[1] if len(args) > 1 else '/tmp/vout'

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']


def norm(df):
    df = df[sorted(df.columns)]
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def run_one(name, sql):
    """Evaluate one oracle; prints one status line; returns ok bool."""
    # default 48GB leaves headroom for a concurrent Spark/sbt process;
    # standalone heavy-oracle re-runs (sf1 recursive-CTE class) can raise
    # it: GRAFT_ORACLE_MEM=100GB python3 tools/compare_oracle.py ...
    # Spill is disk-capped and swept on exit (duck_env; r14 postmortem).
    con = duck_env.connect()
    for t in TABLES:
        p = f'{sf}/{t}.parquet'
        if not os.path.exists(p):
            continue  # heavy-family probe dirs carry only documents/embeddings
        src = p + '/*.parquet' if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    try:
        a = norm(con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df())
        b = norm(con.sql(sql).df())
    except Exception as e:
        print(f"{name}: ERR {str(e)[:160]}")
        con.close()
        return False
    ok_schema = list(a.columns) == list(b.columns)
    ok_rows = len(a) == len(b)
    ok_vals = ok_schema and ok_rows and a.equals(b)
    if not ok_vals:
        schema_a = [(c, str(a[c].dtype)) for c in a.columns]
        schema_b = [(c, str(b[c].dtype)) for c in b.columns]
        print(f"{name}: MISMATCH rows={len(a)}/{len(b)} cols={schema_a}/{schema_b}")
        if ok_schema and ok_rows:
            diff = (a != b) & ~(a.isna() & b.isna())
            idx = diff.any(axis=1)
            print('  first diffs:'); print(a[idx].head(3)); print(b[idx].head(3))
    else:
        print(f"{name}: OK ({len(a)} rows)")
    con.close()
    return ok_vals


def stat_contracts():
    """Report <name>.contract.json files Verify wrote for the by-design
    rows-only queries (q23's Bernoulli sample): the statistical contract
    REPLACES the hash for those, so the summary self-describes them
    instead of leaving a silent no-oracle gap. Returns (count, fails)."""
    names, fails = [], []
    for fn in sorted(os.listdir(out)):
        if not fn.endswith('.contract.json'):
            continue
        name = fn[:-len('.contract.json')]
        if only is not None and name not in only:
            continue
        c = json.load(open(f'{out}/{fn}'))
        ok = c.get('contract') == 'stat_contract_ok'
        checks = ', '.join(
            f"{ch['name']}={'ok' if ch.get('ok') else 'FAIL'}"
            for ch in c.get('checks', []))
        print(f"{name}: {'STAT CONTRACT OK' if ok else 'STAT CONTRACT ' + str(c.get('contract'))} ({checks})")
        names.append(name)
        if not ok:
            fails.append(name)
    return len(names), fails


def main():
    duck_env.preflight(sf)
    # a Verify run that died on an environment failure (disk full, OOM)
    # writes env_failure.json instead of a dump — surface the
    # classification instead of crashing on the missing oracle file
    if (not os.path.exists(f'{out}/oracle_sql.json')
            and os.path.exists(f'{out}/env_failure.json')):
        print('ENVIRONMENT FAILURE (rerun me): '
              + open(f'{out}/env_failure.json').read())
        sys.exit(2)
    oracle = json.load(open(f'{out}/oracle_sql.json'))
    items = [(n, s) for n, s in sorted(oracle.items())
             if only is None or n in only]
    fails = []
    for name, sql in items:
        if fork:
            r = subprocess.run(
                [sys.executable, __file__, sf, out, '--one', name])
            if r.returncode != 0:
                fails.append(name)
        elif not run_one(name, sql):
            fails.append(name)
    ncontract, cfails = stat_contracts()
    fails += cfails
    ntot = len(items) + ncontract
    print(f"\n{ntot-len(fails)}/{ntot} queries match "
          f"({len(items)} oracle + {ncontract} stat-contract); fails: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == '__main__':
    if '--one' in flags or '--one' in sys.argv:
        i = sys.argv.index('--one')
        name = sys.argv[i + 1]
        sql = json.load(open(f'{out}/oracle_sql.json'))[name]
        sys.exit(0 if run_one(name, sql) else 1)
    main()
