"""Expected result digests from the DuckDB oracle, cached per input set.

Query ops use the oracle SQL the engine ships (SparkEntry.oracleSql, handed
over by the harness). neardup_incr's ingest has no SparkEntry query,
so its oracle is built here from the same CTE chain as the p11/p27 oracles:
for batch i, the Jaccard-verified pairs between the batch and everything
indexed before it (corpus plus batches < i, plus the batch itself).
"""
import glob
import hashlib
import json
import os

import duckdb

import digest

# Dedup.incrementalCandidates' default hot-bucket cap
# (spark.graft.maxBucketSize); the ingest oracle replays the uncapped
# candidate join, so it refuses inputs with a bucket above the cap.
BUCKET_CAP = 4096
INGEST_THRESHOLD = 0.6


def connect(data, work, threads):
    os.makedirs(os.path.join(work, 'duckdb_tmp'), exist_ok=True)
    con = duckdb.connect(config={
        'threads': threads, 'memory_limit': '4GB',
        'temp_directory': os.path.join(work, 'duckdb_tmp')})
    for path in sorted(glob.glob(os.path.join(data, '*.parquet'))):
        name = os.path.basename(path)[:-len('.parquet')]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}/*.parquet'")
    return con


def _banded_ctes(data, n):
    """The CTE chain up to `banded`: the corpus and the first `n` batches
    (batch number -1 for the corpus), minhashed and banded like
    Dedup.bandedSignatures (k=64, 16 bands, 3-word shingles)."""
    batches = ', '.join(f"'{data}/batches/b{b:03d}.parquet/*.parquet'" for b in range(n))
    return f"""
WITH alldocs AS MATERIALIZED (
  SELECT doc_id, text, -1 AS bno FROM corpus
  UNION ALL
  SELECT doc_id, text, CAST(regexp_extract(filename, 'b([0-9]+)\\.parquet', 1) AS INTEGER)
  FROM read_parquet([{batches}], filename = true)),
tk AS MATERIALIZED (
  SELECT doc_id, bno, list_filter(regexp_split_to_array(lower(trim(text)), '\\W+'),
    x -> x != '') AS toks FROM alldocs),
sh AS MATERIALIZED (
  SELECT doc_id, (md5_number_lower(s) & 2147483647) AS base
  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(toks) - 2),
    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s FROM tk) u),
perm AS MATERIALIZED (
  SELECT s.s AS s, ((md5_number_lower('ga' || s.s) & 2147483647) | 1) AS a,
         (md5_number_lower('gb' || s.s) & 2147483647) AS b
  FROM generate_series(0, 63) s(s)),
mins AS MATERIALIZED (
  SELECT doc_id, s, CAST(MIN((a * base + b) % 2305843009213693951) AS BIGINT) AS v
  FROM sh, perm GROUP BY doc_id, s),
sig AS MATERIALIZED (SELECT doc_id, list(v ORDER BY s) AS sig FROM mins GROUP BY doc_id),
banded AS MATERIALIZED (
  SELECT sig.doc_id, tk.bno, b.b AS band,
    array_to_string(list_slice(sig, 4*b.b + 1, 4*b.b + 4), ',') AS band_key
  FROM sig JOIN tk USING (doc_id), generate_series(0, 15) b(b))"""


def _ingest_sql(data, n):
    return _banded_ctes(data, n) + f""",
cand AS MATERIALIZED (
  SELECT d.bno, least(d.doc_id, o.doc_id) AS id_a, greatest(d.doc_id, o.doc_id) AS id_b
  FROM banded d JOIN banded o ON d.band = o.band AND d.band_key = o.band_key
  WHERE d.bno >= 0 AND o.bno <= d.bno AND o.doc_id <> d.doc_id
  GROUP BY 1, 2, 3),
shs AS MATERIALIZED (
  SELECT doc_id, CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
    ELSE list_distinct(list_transform(generate_series(1, len(toks) - 2),
      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sset FROM tk),
scored AS (
  SELECT bno, id_a, id_b,
    CASE WHEN len(list_distinct(sa.sset || sb.sset)) = 0 THEN 1.0
      ELSE CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE)
        / len(list_distinct(sa.sset || sb.sset)) END AS jaccard
  FROM cand JOIN shs sa ON sa.doc_id = cand.id_a JOIN shs sb ON sb.doc_id = cand.id_b)
SELECT bno, id_a, id_b, jaccard FROM scored WHERE jaccard >= {INGEST_THRESHOLD}
"""


def _max_bucket(con, data, n):
    """Largest (band, band_key) bucket over the corpus and batches < n."""
    return con.sql(_banded_ctes(data, n) + "\nSELECT max(c) FROM (SELECT count(*) AS c "
                   "FROM banded GROUP BY band, band_key)").fetchone()[0]


def ingest_digests(con, data, n):
    """Expected digest of each of the first `n` ingest batches."""
    if _max_bucket(con, data, n) > BUCKET_CAP:
        raise RuntimeError('an index bucket exceeds the hot-bucket cap; '
                           'the ingest oracle does not replay the capped path')
    rows = con.sql(_ingest_sql(data, n)).fetchall()
    per = {b: [] for b in range(n)}
    for bno, a, b, j in rows:
        per[bno].append((a, b, j))
    return {b: digest.digest(['id_a', 'id_b', 'jaccard'], per[b]) for b in range(n)}


class Cache:
    """Expected digests of one input directory, kept in a JSON file beside
    the inputs and keyed by the oracle SQL's hash."""

    def __init__(self, inputs, work, threads):
        self.inputs = inputs
        self.work = work
        self.threads = threads
        self.path = os.path.join(inputs, 'oracle.json')
        self.entries = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.entries = json.load(f)
        self._con = None

    def _connect(self):
        if self._con is None:
            self._con = connect(os.path.join(self.inputs, 'data'), self.work, self.threads)
        return self._con

    def _save(self):
        with open(self.path + '.tmp', 'w') as f:
            json.dump(self.entries, f, indent=1, sort_keys=True)
        os.replace(self.path + '.tmp', self.path)

    def query(self, name, sql):
        key = f"{name}:{hashlib.sha256(sql.encode()).hexdigest()[:16]}"
        if key not in self.entries:
            self.entries[key] = digest.of_relation(self._connect().sql(sql))
            self._save()
        return self.entries[key]

    def ingest(self, batch, n_needed):
        tag = f"ingest:{hashlib.sha256(_ingest_sql('', 0).encode()).hexdigest()[:16]}"
        if f"{tag}:{batch}" not in self.entries:
            data = os.path.join(self.inputs, 'data')
            for b, d in ingest_digests(self._connect(), data, n_needed).items():
                self.entries[f"{tag}:{b}"] = d
            self._save()
        return self.entries[f"{tag}:{batch}"]

    def close(self):
        if self._con is not None:
            self._con.close()
