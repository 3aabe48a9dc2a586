"""Staged split-replay for oracle SQL whose ONE-SHOT DuckDB evaluation is
environment-bound at sf10 (VERDICT r14 #3: the minhash-signature and
shingle-set families — p06/p90, p13, p28/p35/p91).

Strategy (the cc_oracle.py lesson generalized): the oracle SQL is taken
VERBATIM from the dump's oracle_sql.json — no second copy to drift —
and its top-level CTE chain is MATERIALIZED one stage at a time, each
stage in its own SUBPROCESS (memory returns to the OS between stages)
with capped disk spill (duck_env). A stage can additionally be SHARDED:
the stage body is wrapped as

    SELECT * FROM (<body>) WHERE hash(<col>) % N = i

and evaluated N times into one parquet dir. This is EXACT by
construction for any deterministic body whose output contains <col>:
the shards partition the output; no ordering or aggregation semantics
change. (DuckDB also pushes the hash filter below group-bys on the
shard key, which is what bounds peak memory — but correctness never
depends on the pushdown, only speed does.)

The final comparison runs INSIDE DuckDB on both sides (the Spark dump
and the staged oracle result): COUNT(*) plus an order-insensitive
checksum over the VARCHAR-cast row image, with FLOAT/DOUBLE columns
rounded to 9 significant-ish decimals first (pandas' str() in
compare_oracle.py proves the values agree to full precision at the
scales where it runs; the rounding here only absorbs the VARCHAR
rendering of identical doubles). Both sides go through the same engine
and the same casts, so representation is identical — and it scales to
the 10^8-pair outputs pandas cannot hold.

Validation ladder (run it before trusting a new scale): at every scale
where compare_oracle.py's one-shot evaluation runs (sf0.001/sf0.01/
sf0.1), this tool must agree with it, since both evaluate the same SQL.

    python3 tools/staged_oracle.py <sf_dir> <verify_out_dir> <query> \
        [--shards N] [--workdir D] [--keep]

Sharding plans are derived from the parsed CTE names: a stage whose
output carries the corpus id (doc_id/vec_id) shards on it; join-shaped
stages shard on their join key; small stages run one-shot. Unknown
CTE names run one-shot (slow-but-safe default). WITH RECURSIVE oracles
are refused — that family is cc_oracle.py's job.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duck_env  # noqa: E402

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']

# Shard-column preference: each stage shards on the FIRST of these
# present in its (schema-probed) output; a stage carrying none runs
# one-shot. Correctness does not depend on the choice (sharding is
# exact for any column in the stage's output — the shards partition
# the rows); only peak memory does, so id-dense columns lead.
SHARD_CANDIDATES = ['doc_id', 'vec_id', 'id_a', 'src', 'dst', 'id']


def parse_ctes(sql):
    """Split a `WITH a AS (...), b AS (...) SELECT ...` chain into
    ([(name, body)...], final_select). Paren-depth scan — CTE bodies
    nest arbitrarily. Refuses WITH RECURSIVE."""
    s = sql.strip()
    m = re.match(r'WITH\s+(RECURSIVE\s+)?', s, re.I)
    if not m:
        return [], s
    if m.group(1):
        sys.exit('staged_oracle: WITH RECURSIVE oracles are cc_oracle.py\'s '
                 'job (union-find closure), not staged replay')
    i = m.end()
    ctes = []
    while True:
        # MATERIALIZED hint: staged replay materializes every CTE to
        # parquet anyway, so the hint is consumed and dropped here
        mm = re.match(
            r'\s*([A-Za-z_][A-Za-z0-9_]*)\s+AS\s*(?:MATERIALIZED\s*)?\(',
            s[i:], re.I)
        if not mm:
            break
        name = mm.group(1)
        j = i + mm.end()  # just past the opening paren
        depth, k = 1, j
        in_str = False
        while depth > 0:
            c = s[k]
            if in_str:
                if c == "'":
                    in_str = False
            elif c == "'":
                in_str = True
            elif c == '(':
                depth += 1
            elif c == ')':
                depth -= 1
            k += 1
        ctes.append((name, s[j:k - 1].strip()))
        i = k
        mm2 = re.match(r'\s*,', s[i:])
        if mm2:
            i += mm2.end()
        else:
            break
    return ctes, s[i:].strip()


def views_sql(sf, work, done):
    """CREATE VIEW statements for the base tables + materialized CTEs."""
    out = []
    for t in TABLES:
        p = f'{sf}/{t}.parquet'
        if not os.path.exists(p):
            continue
        src = p + '/*.parquet' if os.path.isdir(p) else p
        out.append(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    for name in done:
        out.append(
            f"CREATE VIEW {name} AS SELECT * FROM '{work}/{name}/*.parquet'")
    return out


def probe_cols(sf, work, done, body):
    """Schema-probe a stage body (LIMIT 0 in a child) -> column list."""
    script = ';\n'.join(views_sql(sf, work, done) + [
        f'SELECT * FROM ({body}) LIMIT 0'])
    r = subprocess.run(
        [sys.executable, __file__, '--cols'], input=script,
        capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f'schema probe FAILED:\n{r.stderr[-2000:]}')
    return r.stdout.split()


def run_stage(sf, work, done, name, body, shards):
    """Materialize one stage to {work}/{name}/ in subprocess(es)."""
    os.makedirs(f'{work}/{name}', exist_ok=True)
    cols = probe_cols(sf, work, done, body)
    shard_col = next((c for c in SHARD_CANDIDATES if c in cols), None)
    n = shards if shard_col else 1
    for i in range(n):
        sel = (f'SELECT * FROM ({body}) '
               f'WHERE hash({shard_col}) % {n} = {i}') if n > 1 else body
        script = ';\n'.join(views_sql(sf, work, done) + [
            f"COPY ({sel}) TO '{work}/{name}/part{i}.parquet' "
            f"(FORMAT PARQUET, COMPRESSION ZSTD)"])
        r = subprocess.run(
            [sys.executable, __file__, '--exec'], input=script,
            capture_output=True, text=True,
            env=dict(os.environ, GRAFT_STAGE=f'{name}[{i+1}/{n}]'))
        if r.returncode != 0:
            sys.exit(f'stage {name} shard {i}/{n} FAILED:\n{r.stderr[-2000:]}')
        print(f'  {name} [{i + 1}/{n}] ok', flush=True)


def exec_child(cols_only=False):
    """--exec: run the stdin SQL script on a fresh capped connection.
    --cols: print the final statement's column names instead."""
    con = duck_env.connect()
    stmts = [s for s in sys.stdin.read().split(';\n') if s.strip()]
    for stmt in stmts[:-1]:
        con.sql(stmt)
    if cols_only:
        print(' '.join(con.sql(stmts[-1]).columns))
    else:
        con.sql(stmts[-1])
    con.close()


def checksum(con, rel_sql, cols_sql=None):
    """(count, order-insensitive checksum) of a relation, inside DuckDB.
    Doubles are rounded to 9 decimals before the VARCHAR cast so both
    sides render identically; everything else casts as-is."""
    cols = con.sql(f'SELECT * FROM ({rel_sql}) LIMIT 0')
    parts = []
    for cname, dtype in zip(cols.columns, cols.types):
        c = f'"{cname}"'
        if str(dtype) in ('FLOAT', 'DOUBLE'):
            parts.append(f"CAST(ROUND({c}, 9) AS VARCHAR)")
        else:
            parts.append(f'CAST({c} AS VARCHAR)')
    img = " || '|' || ".join(f"COALESCE({p}, '<null>')" for p in parts)
    row = con.sql(
        f'SELECT COUNT(*), COALESCE(SUM(CAST(hash({img}) AS HUGEINT)), 0) '
        f'FROM ({rel_sql})').fetchone()
    return row[0], row[1], sorted(cols.columns)


def main():
    if '--exec' in sys.argv or '--cols' in sys.argv:
        exec_child(cols_only='--cols' in sys.argv)
        return
    args = [a for a in sys.argv[1:] if not a.startswith('--')]
    flags = {a.split('=')[0]: (a.split('=', 1) + [''])[1]
             for a in sys.argv[1:] if a.startswith('--')}
    sf, out, name = args[0], args[1], args[2]
    shards = int(flags.get('--shards', '8') or '8')
    work = flags.get('--workdir') or f'/tmp/staged_{name}'
    stop_at = flags.get('--stop-at') or None
    duck_env.preflight(sf)
    sql = json.load(open(f'{out}/oracle_sql.json'))[name]
    if stop_at:
        # recursive-closure composition (p35 class): materialize only the
        # heavy non-recursive PREFIX up to the named CTE (the oracle text
        # before any RECURSIVE member parses standalone once truncated),
        # keep the workdir, and let cc_oracle.py --edges run the closure.
        m = re.search(r',\s*sym\s+AS\b', sql)
        if m and stop_at == 'verified':
            sql = (re.sub(r'^\s*WITH\s+RECURSIVE', 'WITH', sql[:m.start()])
                   + ' SELECT 1')
        else:
            sys.exit(f'--stop-at={stop_at}: only the `verified`-then-'
                     f'`sym` closure family is supported')
    ctes, final = parse_ctes(sql)
    guard_cap = int(flags['--guard-cap']) if flags.get('--guard-cap') else None
    if guard_cap is not None:
        # Replay the engine's HOT-BUCKET GUARD on the hyperplane family
        # (Dedup.bucketedCosinePairs): buckets larger than cap emit star
        # edges from the bucket-min id instead of the quadratic
        # self-join; sub-cap buckets keep the oracle's verbatim join.
        # Same contract-rewrite strategy as cc_oracle.py --cap (p36's
        # IVF cells), applied to the `pairs AS (sig self-join)` CTE.
        # Validate where the guard disengages (sf0.01, all buckets
        # sub-cap: rewrite == plain == dump) and against an
        # engine-at-cap-K dump at small scale before trusting it at 100x.
        idx = next((i for i, (n, b) in enumerate(ctes) if n == 'pairs'
                    and re.search(r'FROM\s+sig\s+l\s+JOIN\s+sig\s+r\b', b)),
                   None)
        if idx is None:
            sys.exit(f'{name}: no hyperplane `pairs` (sig self-join) CTE '
                     f'to guard-rewrite')
        guarded = [
            ('bstats', 'SELECT b, COUNT(*) AS n, MIN(vec_id) AS hub '
                       'FROM sig GROUP BY b'),
            ('smallsig', 'SELECT s.vec_id, s.b FROM sig s '
                         f'JOIN bstats ON bstats.b = s.b AND bstats.n <= {guard_cap}'),
            ('pairs', 'SELECT l.vec_id AS id_a, r.vec_id AS id_b '
                      'FROM smallsig l JOIN smallsig r '
                      'ON l.b = r.b AND l.vec_id < r.vec_id '
                      'UNION ALL '
                      'SELECT bs.hub AS id_a, s.vec_id AS id_b '
                      'FROM sig s JOIN bstats bs '
                      f'ON bs.b = s.b AND bs.n > {guard_cap} '
                      'AND s.vec_id <> bs.hub'),
        ]
        ctes = ctes[:idx] + guarded + ctes[idx + 1:]
        print(f'{name}: hot-bucket guard replayed at cap={guard_cap} '
              f'(star edges above, all-pairs below)')
    print(f'{name}: {len(ctes)} stages + final, shards={shards}, '
          f'work={work}' + (f', stop_at={stop_at}' if stop_at else ''),
          flush=True)
    if os.path.isdir(work):
        shutil.rmtree(work)
    done = []
    for cname, body in ctes:
        run_stage(sf, work, done, cname, body, shards)
        done.append(cname)
        if cname == stop_at:
            print(f'{name}: stopped after `{stop_at}` — edges at '
                  f'{work}/{stop_at} (feed cc_oracle.py --edges)')
            return
    run_stage(sf, work, done, '__result__', final, shards)
    # compare: count + order-insensitive checksum, both sides in DuckDB
    con = duck_env.connect()
    na, ha, ca = checksum(con, f"SELECT * FROM '{out}/{name}/*.parquet'")
    nb, hb, cb = checksum(con, f"SELECT * FROM '{work}/__result__/*.parquet'")
    con.close()
    ok = (na, ha, ca) == (nb, hb, cb)
    print(f'{name}: dump rows={na} checksum={ha}')
    print(f'{name}: staged-oracle rows={nb} checksum={hb}')
    if ca != cb:
        print(f'{name}: SCHEMA MISMATCH {ca} vs {cb}')
    print(f'{name}: {"OK — staged oracle matches the dump" if ok else "MISMATCH"}')
    if '--keep' not in flags and ok:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == '__main__':
    main()
