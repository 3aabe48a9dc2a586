"""Seeded input generator for the benchmark's workloads.

Every input is derived in this one process from the sf0.1 test tables and
the seed; the program under test only ever reads the parquet written here.
The same (workload, seed) always gives identical tables and layout, and two
seeds give different ones (perfbench/tests/test_perfbench.py).

Layout of an input directory:

    data/<table>.parquet/part-NNNNN.parquet   the workload's tables
    data/batches/bNNN.parquet/...             neardup_incr's ingest batches
    probe/<table>.parquet/...                 small tables for the traced
                                              run's layer probes
    manifest.json                             sizes, layout and parameters
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the generated inputs change, so cached inputs and oracle
# digests from an older generator are not reused.
VERSION = 3

# relational: seeded subset of the star schema
ORDER_SHARE = 0.25
CUSTOMER_SHARE = 0.5
EVENT_SHARE = 0.25
DOC_SHARE = 0.5
# neardup: corpus = a seeded subset of the sf0.1 documents plus seeded
# near-duplicate variants of them
NEARDUP_BASE = 2000
NEARDUP_VARIANTS = 600
# neardup_incr: a persisted corpus built the same way, plus ingest batches
INCR_BASE = 3000
INCR_VARIANTS = 900
INCR_BATCHES = 40
INCR_BATCH_SHARE = 0.03
# variants per source follow a Zipf law (a few hot families), capped so no
# LSH bucket reaches the engine's hot-bucket cap (4096)
ZIPF_S = 1.1
MEAN_FAMILY = 4
HOT_FAMILY_MAX = 40
# share of variants edited heavily enough to fail Jaccard verification
FAR_SHARE = 0.2
# stream: seeded subsets of events (p85, p87) and documents (p89)
STREAM_EVENT_SHARE = 0.3
STREAM_DOC_SHARE = 0.3
# layer-probe inputs of the traced run
PROBE_DOCS = 1500
PROBE_EVENTS = 20000
PROBE_ORDER_SHARE = 0.03

WORKLOADS = ('relational', 'neardup', 'neardup_incr', 'stream')


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _read(sf, name):
    return pq.read_table(os.path.join(sf, f'{name}.parquet'))


def _sample(t, rng, share):
    return t.filter(pa.array(rng.random(t.num_rows) < share))


def _write(t, path, nfiles):
    """Writes `t` as `nfiles` contiguous row ranges under directory `path`."""
    os.makedirs(path)
    nfiles = max(1, min(nfiles, t.num_rows))
    bounds = np.linspace(0, t.num_rows, nfiles + 1).astype(int)
    for i in range(nfiles):
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       os.path.join(path, f'part-{i:05d}.parquet'))
    return nfiles


def _edit(tokens, rate, vocab, rng):
    """Replaces each token with a random word, and drops some, at `rate`."""
    out = []
    for tok, r, w in zip(tokens, rng.random(len(tokens)), rng.integers(0, len(vocab), len(tokens))):
        if r < rate / 3:
            continue
        out.append(vocab[w] if r < rate else tok)
    return ' '.join(out)


def _variants(docs, rng, n, first_id):
    """`n` seeded near-duplicate variants of `docs` rows, with Zipf-sized
    families; returns (table, family sizes)."""
    texts = docs['text'].to_pylist()
    vocab = sorted({w for t in texts for w in t.split()})
    nsrc = max(1, n // MEAN_FAMILY)
    src = rng.choice(len(texts), size=nsrc, replace=False)
    # the size of the r-th family is fixed by its rank, so every seed does
    # the same amount of pairing work; the seed picks sources and edits
    weights = 1.0 / np.arange(1, nsrc + 1) ** ZIPF_S
    sizes = np.minimum(np.maximum(1, np.round(n * weights / weights.sum())),
                       HOT_FAMILY_MAX).astype(int)
    rows = np.repeat(src, sizes)
    far = rng.random(len(rows)) < FAR_SHARE
    rates = np.where(far, rng.uniform(0.35, 0.6, len(rows)), rng.uniform(0.02, 0.12, len(rows)))
    new_text = [_edit(texts[i].split(), rate, vocab, rng) for i, rate in zip(rows, rates)]
    out = docs.take(pa.array(rows)).set_column(
        docs.schema.get_field_index('text'), 'text', pa.array(new_text, pa.string()))
    out = out.set_column(out.schema.get_field_index('doc_id'), 'doc_id',
                         pa.array(np.arange(first_id, first_id + len(rows)), pa.int64()))
    out = out.set_column(out.schema.get_field_index('n_chars'), 'n_chars',
                         pc.cast(pc.utf8_length(out['text']), pa.int64()))
    return out, sizes


def _shuffle(t, rng):
    return t.take(pa.array(rng.permutation(t.num_rows)))


def _relational(sf, data, seed, k, m):
    rng = _rng(seed, 1)
    orders = _sample(_read(sf, 'orders'), rng, ORDER_SHARE)
    li = _read(sf, 'lineitem')
    tables = {
        'orders': orders,
        'lineitem': li.filter(pc.is_in(li['l_orderkey'], value_set=orders['o_orderkey'])),
        'customer': _sample(_read(sf, 'customer'), rng, CUSTOMER_SHARE),
        'events': _sample(_read(sf, 'events'), rng, EVENT_SHARE),
        'documents': _sample(_read(sf, 'documents'), rng, DOC_SHARE),
    }
    for name in ('nation', 'region', 'supplier', 'part'):
        tables[name] = _read(sf, name)
    for name, t in sorted(tables.items()):
        m['files'][name] = _write(t, os.path.join(data, f'{name}.parquet'), k)
        m['rows'][name] = t.num_rows


def _pick(t, rng, n):
    """`n` seeded rows of `t`, in table order."""
    return t.take(pa.array(np.sort(rng.choice(t.num_rows, n, replace=False))))


def _neardup(sf, data, seed, k, m):
    rng = _rng(seed, 2)
    docs = _pick(_read(sf, 'documents'), rng, NEARDUP_BASE)
    var, sizes = _variants(docs, rng, NEARDUP_VARIANTS, 1_000_000)
    corpus = _shuffle(pa.concat_tables([docs, var]), rng)
    m['files']['documents'] = _write(corpus, os.path.join(data, 'documents.parquet'), 4 * k)
    m['rows']['documents'] = corpus.num_rows
    m['dup_share'] = var.num_rows / corpus.num_rows
    m['largest_families'] = sorted(sizes.tolist(), reverse=True)[:5]


def _neardup_incr(sf, data, seed, k, m):
    rng = _rng(seed, 3)
    docs = _pick(_read(sf, 'documents'), rng, INCR_BASE)
    var, sizes = _variants(docs, rng, INCR_VARIANTS, 1_000_000)
    corpus = _shuffle(pa.concat_tables([docs, var]), rng)
    m['files']['corpus'] = _write(corpus, os.path.join(data, 'corpus.parquet'), 4 * k)
    m['rows']['corpus'] = corpus.num_rows
    m['dup_share'] = var.num_rows / corpus.num_rows
    m['largest_families'] = sorted(sizes.tolist(), reverse=True)[:5]
    per = max(1, int(corpus.num_rows * INCR_BATCH_SHARE))
    batches = os.path.join(data, 'batches')
    os.makedirs(batches)
    for b in range(INCR_BATCHES):
        # variants of corpus documents: near-dups of live families, plus
        # far edits that mostly fail verification
        bt, _ = _variants(corpus, rng, per, 2_000_000 + b * 100_000)
        bt = _shuffle(bt, rng).slice(0, per)
        _write(bt, os.path.join(batches, f'b{b:03d}.parquet'), 1)
        m['rows'][f'batch{b:03d}'] = bt.num_rows
    m['files']['batches'] = INCR_BATCHES
    m['batch_rows'] = per


def _stream(sf, data, seed, k, m):
    rng = _rng(seed, 4)
    tables = {'events': _sample(_read(sf, 'events'), rng, STREAM_EVENT_SHARE),
              'documents': _sample(_read(sf, 'documents'), rng, STREAM_DOC_SHARE)}
    for name, t in sorted(tables.items()):
        m['files'][name] = _write(t, os.path.join(data, f'{name}.parquet'), k)
        m['rows'][name] = t.num_rows


def _probe(sf, probe, seed):
    rng = _rng(seed, 5)
    docs = _pick(_read(sf, 'documents'), rng, PROBE_DOCS)
    events = _pick(_read(sf, 'events'), rng, PROBE_EVENTS)
    orders = _sample(_read(sf, 'orders'), rng, PROBE_ORDER_SHARE)
    li = _read(sf, 'lineitem')
    tables = {
        'documents': docs,
        'events': events,
        'orders': orders,
        'lineitem': li.filter(pc.is_in(li['l_orderkey'], value_set=orders['o_orderkey'])),
        'customer': _read(sf, 'customer'),
        'nation': _read(sf, 'nation'),
        'region': _read(sf, 'region'),
    }
    for name, t in tables.items():
        _write(t, os.path.join(probe, f'{name}.parquet'), 2)


GENERATORS = {'relational': _relational, 'neardup': _neardup,
              'neardup_incr': _neardup_incr, 'stream': _stream}


def generate(workload, seed, sf, out, k):
    """Writes the inputs of (workload, seed) to `out` unless already there;
    returns the manifest."""
    manifest = os.path.join(out, 'manifest.json')
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    tmp = out + '.tmp'
    shutil.rmtree(tmp, ignore_errors=True)
    m = {'workload': workload, 'seed': seed, 'generator_version': VERSION,
         'k': k, 'files': {}, 'rows': {}}
    GENERATORS[workload](sf, os.path.join(tmp, 'data'), seed, k, m)
    _probe(sf, os.path.join(tmp, 'probe'), seed)
    m['file_count'] = sum(len(fs) for _, _, fs in os.walk(os.path.join(tmp, 'data')))
    with open(os.path.join(tmp, 'manifest.json'), 'w') as f:
        json.dump(m, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return m
