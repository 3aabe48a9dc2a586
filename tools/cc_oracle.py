"""Split-oracle check for the dedup-survivor queries whose DuckDB replay
dies on the RECURSIVE closure at large scale (p36 at the derived sf1:
`reach` materializes |component|^2 rows over ~2.4M verified edges —
BASELINE.md round-11).

The delicate part of those oracles is everything BEFORE the closure:
candidate generation and the cosine-verification numerics. The closure
itself (connected components + min-id survivor) is 20 lines of
union-find. So: DuckDB replays the oracle's own CTE chain up to
`verified` (the SQL is taken verbatim from the dump's oracle_sql.json
and truncated at the first closure CTE — no second copy to drift), a
Python union-find replays the closure, and the survivor set is compared
exactly with the Spark dump.

Validated by construction: at every scale where the FULL recursive
oracle runs (sf0.001/sf0.01/sf0.1, green in compare_oracle), this tool
must agree with it, since both consume the same `verified` edges — run
it there first, then at the scale that needs it.

    GRAFT_ORACLE_MEM=100GB python3 tools/cc_oracle.py <sf_dir> <verify_out_dir> [query] [--cap N]

`--cap N` (p36 only) replays the engine's HOT-CELL GUARD contract
instead of the sub-cap all-pairs branch: cells larger than N emit
cosine-verified STAR EDGES from the cell's min-id hub (the documented
`bucketedCosinePairs` semantics, Dedup.scala), sub-cap cells keep the
oracle's verbatim all-pairs join. This is what makes the capped branch
independently checkable at C=100, where the all-pairs edge set is
DuckDB's ceiling (>79 GB spill, BASELINE round-13): star edges are
linear in cell size. Validate the rewrite first at a scale where both
branches run (sf0.01: `--cap 100000` must equal the plain replay;
`--cap 4` must equal a Spark dump produced with
SPARK_GRAFT_CONF=spark.graft.maxBucketSize=4), then use it at the
scale that needs it. Edges feed the union-find in 1M-row chunks, so
tool memory stays bounded by the component map, not the edge list.
"""
import json
import re
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import duck_env  # capped + self-cleaning DuckDB spill (r14 ENOSPC postmortem)

cap = None
edges_dir = None
argv = list(sys.argv[1:])
if '--cap' in argv:
    i = argv.index('--cap')
    cap = int(argv[i + 1])
    del argv[i:i + 2]
if '--edges' in argv:
    # pre-materialized verified-edge parquet (staged_oracle.py
    # --stop-at=verified): skips the in-process prefix evaluation for
    # oracles whose one-shot edge computation is environment-bound
    i = argv.index('--edges')
    edges_dir = argv[i + 1]
    del argv[i:i + 2]
sf = argv[0] if len(argv) > 0 else '/root/testdata/sf0.01'
out = argv[1] if len(argv) > 1 else '/tmp/vout'
name = argv[2] if len(argv) > 2 else 'p36_semantic_dedup'

# Survivor-policy registry: min-id (the default family) or p76's
# quality-keyed pick (max n_chars over the component, ties min id,
# all-null falls back to min id — the engine's <=> fallback). A query
# absent here has no replayable policy and is refused, so it can't
# "run" and report a spurious MISMATCH at exactly the scale where no
# full oracle can disambiguate.
APPLICABLE = {'p36_semantic_dedup': 'min_id', 'p11_neardup_dedup': 'min_id',
              'p17_neardup_star': 'min_id', 'p35_embedding_dedup': 'min_id',
              'p76_quality_dedup': 'quality'}
if name not in APPLICABLE:
    sys.exit(f"{name}: not a min-id-survivor oracle this tool can replay "
             f"(applicable: {sorted(APPLICABLE)})")

TABLES = ['region', 'nation', 'customer', 'supplier', 'part', 'orders',
          'lineitem', 'events', 'documents', 'embeddings']

sql = json.load(open(f'{out}/oracle_sql.json'))[name]

if cap is not None:
    # Replay the hot-cell guard: rewrite the `pairs` CTE (p36's is an
    # all-pairs join over `assign`) into the guarded two-branch form.
    # The sub-cap branch keeps the original join shape; the capped
    # branch is the engine's documented star-edge contract.
    if name != 'p36_semantic_dedup':
        sys.exit(f"--cap replays the IVF-cell guard and applies to "
                 f"p36_semantic_dedup only, not {name}")
    start = sql.find('pairs AS MATERIALIZED (')
    if start < 0:
        sys.exit(f"{name}: no `pairs AS MATERIALIZED (` CTE to rewrite")
    i = sql.index('(', start)
    depth, j = 0, i
    while True:  # matching close paren of the CTE body
        if sql[j] == '(':
            depth += 1
        elif sql[j] == ')':
            depth -= 1
            if depth == 0:
                break
        j += 1
    # sub-cap members are MATERIALIZED before the self-join: an
    # unfiltered assign x assign join is exactly the quadratic blowup
    # the guard exists to avoid (measured: DuckDB join-ordered the
    # filter AFTER the self-join and spilled >60 GB at C=100)
    guarded = f"""cellstats AS MATERIALIZED (
  SELECT cell, COUNT(*) AS n, MIN(vec_id) AS hub FROM assign GROUP BY cell),
smallcell AS MATERIALIZED (
  SELECT a.vec_id, a.cell FROM assign a
  JOIN cellstats ca ON ca.cell = a.cell AND ca.n <= {cap}),
pairs AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM smallcell a JOIN smallcell b
    ON a.cell = b.cell AND a.vec_id < b.vec_id
  UNION ALL
  SELECT ca.hub AS id_a, a.vec_id AS id_b
  FROM assign a JOIN cellstats ca ON ca.cell = a.cell
  WHERE ca.n > {cap} AND a.vec_id <> ca.hub)"""
    sql = sql[:start] + guarded + sql[j + 1:]
    print(f"{name}: replaying the hot-cell guard at cap={cap} "
          f"(star edges above, all-pairs below)")

# cut the oracle at its closure: the survivor oracles all follow
# `verified` with a `sym AS` (undirected edge doubling) CTE; cut at the
# comma that introduces it (whitespace/newline may separate the two)
if edges_dir is not None:
    edges_sql = f"SELECT id_a, id_b FROM '{edges_dir}/*.parquet'"
else:
    m = re.search(r',\s*sym\s+AS\b', sql)
    if m is None:
        sys.exit(f"{name}: oracle has no closure CTE (`sym AS`) to replace")
    head = sql[:m.start()]
    # WITH RECURSIVE with no recursive CTE left is still valid SQL in DuckDB
    edges_sql = head + ' SELECT id_a, id_b FROM verified'

duck_env.preflight(sf)
con = duck_env.connect()  # spill capped + swept on exit (r14 postmortem)
for t in TABLES:
    p = f'{sf}/{t}.parquet'
    if not os.path.exists(p):
        continue  # heavy-family probe dirs carry only documents/embeddings
    src = p + '/*.parquet' if os.path.isdir(p) else p
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

# the survivor oracles end `SELECT <id> FROM <table> ... LEFT JOIN comp
# ... WHERE comp.id IS NULL UNION ALL SELECT <id> FROM keep`: the
# universe is every id of the dumped id column's source table
id_col = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet' LIMIT 0").columns[0]
table = {'vec_id': 'embeddings', 'doc_id': 'documents'}[id_col]
universe = [r[0] for r in con.sql(f'SELECT {id_col} FROM {table}').fetchall()]

# union-find over the verified edges, fed in 1M-row chunks: the tool's
# memory is bounded by the component map, never the full edge list
parent = {}


def find(x):
    r = x
    while parent.get(r, r) != r:
        r = parent[r]
    while parent.get(x, x) != x:  # path compression
        parent[x], x = r, parent[x]
    return r


n_edges = 0
in_graph = set()
con.execute(edges_sql)
while True:
    chunk = con.fetchmany(1_000_000)
    if not chunk:
        break
    n_edges += len(chunk)
    for a, b in chunk:
        in_graph.add(a)
        in_graph.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id keeps the root the component minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
policy = APPLICABLE[name]
if policy == 'min_id':
    # union by min id keeps the root the component minimum
    survivors = sorted(x for x in universe
                       if x not in in_graph or find(x) == x)
else:  # 'quality' (p76): per component, max n_chars, ties min id;
    # an all-null-score component keeps its min id (MAX ignores nulls
    # and the oracle's IS NOT DISTINCT FROM matches null to null —
    # a null member never beats a scored one)
    score = dict(con.sql('SELECT doc_id, n_chars FROM documents').fetchall())
    best = {}
    for x in in_graph:
        r = find(x)
        s = score.get(x)
        key = (s is not None, s if s is not None else 0, -x)
        if r not in best or key > best[r][0]:
            best[r] = (key, x)
    kept = {v[1] for v in best.values()}
    survivors = sorted(x for x in universe
                       if x not in in_graph or x in kept)

got = sorted(r[0] for r in
             con.sql(f"SELECT {id_col} FROM '{out}/{name}/*.parquet'").fetchall())
ok = got == survivors
extra, missing = [], []
if not ok:
    ss, gs = set(survivors), set(got)
    extra = [x for x in got if x not in ss][:5]
    missing = [x for x in survivors if x not in gs][:5]
print(f"{name}: {'OK' if ok else 'MISMATCH'} "
      f"edges={n_edges} components={len({find(x) for x in in_graph})} "
      f"survivors={len(survivors)} spark={len(got)}"
      + ('' if ok else f" extra={extra} missing={missing}"))
sys.exit(0 if ok else 1)
