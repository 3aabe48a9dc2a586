#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one closed-loop client.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the harness against the repository's sources (first run only),
generates the workload's inputs from the seed, runs the harness JVM on
Spark local[k], checks every op's result digest against the DuckDB oracle
and prints the metrics. The last line of standard output is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics of the traced run with
--trace 1. The command exits non-zero when any op failed or mismatched.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, '.work')
JVM_DIR = os.path.join(HERE, 'jvm')
BUILD_TIMEOUT_S = 900
RUN_TIMEOUT_S = 150
XMX = '2g'
# cores of Spark local[k]: at most 4, never more than the host has
CORES = min(4, os.cpu_count() or 1)
SBT_FLAGS = ['--batch', '-Dsbt.server.autostart=false', '-Dsbt.log.noformat=true']


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def run_process(cmd, cwd, timeout, out_path, env=None):
    """Runs `cmd` in its own process group with output to `out_path`; kills
    the whole group on timeout. Returns the exit code."""
    with open(out_path, 'w') as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f'{cmd[0]} exceeded {timeout} s; see {out_path}')
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=25):
    with open(path, errors='replace') as f:
        return ''.join(f.readlines()[-n:])


def sf_dir():
    """The sf0.1 test tables: $GRAFT_BENCH_SF, else the sf0.1 directory
    TESTDATA.md documents."""
    if os.environ.get('GRAFT_BENCH_SF'):
        return os.environ['GRAFT_BENCH_SF']
    doc = os.path.join(ROOT, 'TESTDATA.md')
    if os.path.exists(doc):
        with open(doc) as f:
            m = re.search(r'\|\s*0\.1\s*\|\s*`([^`]+)`', f.read())
        if m:
            return m.group(1).rstrip('/')
    raise BenchError('no sf0.1 test data: set GRAFT_BENCH_SF or document it in TESTDATA.md')


def source_stamp():
    """Hash of every file the harness build reads."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, 'build.sbt'), os.path.join(ROOT, 'project'),
            os.path.join(ROOT, 'src', 'main'), os.path.join(JVM_DIR, 'build.sbt'),
            os.path.join(JVM_DIR, 'project'), os.path.join(JVM_DIR, 'src')]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(top)
            for f in fs if 'target' not in os.path.relpath(d, top).split(os.sep)
            and (f.endswith(('.scala', '.sbt', '.properties', '.java'))))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, 'rb') as f:
                h.update(f.read())
    return h.hexdigest()


def class_stamp(classpath):
    """Hash of the names, sizes and times of the compiled classes in the
    classpath's directories. Another build of the engine in this checkout
    (say `sbt test` at another commit) rewrites them, so a stamp that
    matches the sources alone does not prove the classes are theirs."""
    h = hashlib.sha256()
    for entry in classpath.split(os.pathsep):
        for d, ds, fs in os.walk(entry):
            ds.sort()
            for f in sorted(fs):
                st = os.stat(os.path.join(d, f))
                h.update(f'{d}/{f} {st.st_size} {st.st_mtime_ns}\n'.encode())
    return h.hexdigest()


def build():
    """Compiles the engine and the harness unless the last build of this
    checkout was of the same sources and its classes are untouched since;
    returns (classpath, jvm options)."""
    for need in ('build.sbt', os.path.join('src', 'main', 'scala'), 'project'):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise BenchError(f'the repository sources are missing ({need}); '
                             'run from the root of a full checkout')
    os.makedirs(WORK, exist_ok=True)
    launch = os.path.join(JVM_DIR, 'target', 'launch.txt')
    stamp_path = os.path.join(WORK, 'build.stamp')

    def stamp():
        with open(launch) as f:
            return source_stamp() + class_stamp(f.readline().strip())
    if not (os.path.exists(launch) and os.path.exists(stamp_path)
            and open(stamp_path).read() == stamp()):
        if shutil.which('sbt') is None:
            raise BenchError('sbt is not on PATH')
        log('building the harness ...')
        t = time.time()
        blog = os.path.join(WORK, 'build.log')
        rc = run_process(['sbt'] + SBT_FLAGS + ['perfbench/launchFile'], JVM_DIR,
                         BUILD_TIMEOUT_S, blog)
        if rc != 0 or not os.path.exists(launch):
            raise BenchError(f'harness build failed (exit {rc}):\n{tail(blog)}')
        with open(stamp_path, 'w') as f:
            f.write(stamp())
        log(f'built in {time.time() - t:.0f} s')
    with open(launch) as f:
        lines = f.read().splitlines()
    return lines[0], lines[1:]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs):
    """The highest percentile with at least ten samples above it, as
    (value, percentile). With 20 or fewer samples that percentile would not
    lie above the median, and the maximum is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n <= 20:
        return s[-1], 100
    return s[n - 11], int(100 * (n - 10) / n)


def input_rows(workload, manifest, op, sql):
    """Input rows one op reads: the rows of the tables its oracle SQL names."""
    rows = manifest['rows']
    if workload == 'neardup':
        return rows['documents']
    if workload == 'neardup_incr':
        return rows[f"batch{op['index']:03d}"]
    return sum(n for t, n in rows.items() if re.search(rf'\b{t}\b', sql or ''))


def summary_rows(manifest):
    rows = {t: n for t, n in manifest['rows'].items() if not t.startswith('batch')}
    if 'batch_rows' in manifest:
        rows[f"batches ({manifest['files']['batches']})"] = manifest['batch_rows']
    return rows


def check(workload, res, cache):
    """Marks each op ok or failed against the oracle; returns the ops."""
    ops = res['ops']
    n_batches = 1 + max((o['index'] for o in ops), default=0)
    for o in ops:
        if o['error']:
            o['ok'] = False
            continue
        if workload == 'neardup_incr':
            expected = cache.ingest(o['index'], n_batches)
        else:
            expected = cache.query(o['name'], res['oracle_sql'][o['name']])
        o['expected'] = expected
        o['ok'] = o['digest'] == expected
    return ops


def end_to_end(workload, res, manifest, timed):
    lat = [o['latency_s'] for o in timed]
    tail_v, tail_p = tail_percentile(lat)
    rows = sum(input_rows(workload, manifest, o, res['oracle_sql'].get(o['name']))
               for o in timed)
    return {
        'setup_s': (res['setup']['setup_s'], 's', 1, ''),
        'op_p50_s': (median(lat), 's', len(lat), ''),
        'op_tail_s': (tail_v, 's', len(lat), f'p{tail_p}'),
        'throughput_rows_per_s': (rows / res['timed_s'], 'rows/s', len(lat), ''),
        'cpu_s_per_op': (median([o['cpu_s'] for o in timed]), 's', len(timed), ''),
        'heap_live_mb': (res['heap_live_mb'], 'MB', 1, ''),
        'peak_rss_mb': (res['peak_rss_mb'], 'MB', 1, ''),
    }


class Trace:
    """Span tree of a traced run, with per-span Spark counts."""

    def __init__(self, tr):
        self.spans = tr['spans']
        self.kids = {}
        for s in self.spans:
            self.kids.setdefault(s['parent'], []).append(s)
        roots = self.kids.get(-1, [])
        self.ops = [s for s in roots if s['name'].startswith('op:')]
        self.probes = [s for s in roots if s['name'].startswith('probe:')]
        self.starts = tr['stream_starts_ns']
        self.batches = tr['stream_batches']

    def sub(self, s):
        yield s
        for k in self.kids.get(s['id'], []):
            yield from self.sub(k)

    def named(self, roots, name):
        return [x for r in roots for x in self.sub(r) if x['name'] == name]

    def pick(self, name):
        """Spans called `name` inside the timed ops, else inside the probes."""
        return self.named(self.ops, name) or self.named(self.probes, name)

    @staticmethod
    def dur(s):
        return (s['end_ns'] - s['start_ns']) / 1e9

    def total(self, s, key):
        return sum(x[key] for x in self.sub(s))

    def notes(self, spans, key):
        return [s['notes'][key] for s in spans if key in s['notes']]

    def straggler(self, s):
        worst = 1.0
        for x in self.sub(s):
            for ds in x['stage_task_ms'].values():
                if len(ds) >= 2 and statistics.median(ds) > 0:
                    worst = max(worst, max(ds) / statistics.median(ds))
        return worst

    def stream(self):
        """Per stream span: staging time, batch reports inside it."""
        out = []
        for s in self.pick('stream'):
            lo, hi = s['start_ns'] - 1_000_000, s['end_ns']
            starts = [t for t in self.starts if lo <= t <= hi]
            bs = [b for b in self.batches if lo <= b['at_ns'] <= hi]
            out.append(((min(starts) - s['start_ns']) / 1e9 if starts else None, bs))
        return out


def per_layer(res, gen_s):
    t = Trace(res['trace'])
    ops = t.ops
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    planner = t.pick('planner')
    put('planner.compile_s', median([t.dur(s) for s in planner]), 's')
    put('planner.eager_jobs', median([t.total(s, 'jobs') for s in planner]), 'count')
    put('catalyst.plan_s', median([t.dur(s) for s in t.pick('catalyst')]), 's')
    put('exec.run_s', median([t.dur(s) for s in t.pick('exec')]), 's')
    put('exec.jobs', median([t.total(s, 'jobs') for s in ops]), 'count')
    put('exec.tasks', median([t.total(s, 'tasks') for s in ops]), 'count')
    put('exec.task_cpu_s', median([t.total(s, 'task_cpu_ns') / 1e9 for s in ops]), 's')
    put('exec.cores_busy', median([t.total(s, 'task_run_ms') / 1e3 / t.dur(s) for s in ops]),
        'cores')
    put('exec.shuffle_write_mb',
        median([t.total(s, 'shuffle_write_bytes') / 1e6 for s in ops]), 'MB')
    put('exec.spill_mb', median([t.total(s, 'spill_bytes') / 1e6 for s in ops]), 'MB')
    put('exec.input_rows', median([t.total(s, 'input_rows') for s in ops]), 'rows')
    put('exec.straggler', median([t.straggler(s) for s in ops]), 'ratio')

    probe_dedup = t.named(t.probes, 'probe:dedup')
    cands = t.notes(probe_dedup, 'candidate_pairs')
    verified = t.notes(probe_dedup, 'verified_pairs')
    put('dedup.signatures_s', median([t.dur(s) for s in t.pick('dedup.signatures')]), 's')
    put('dedup.candidates_s', median([t.dur(s) for s in t.pick('dedup.candidates')]), 's')
    put('dedup.candidate_pairs', median(cands), 'count')
    put('dedup.verify_s', median([t.dur(s) for s in t.pick('dedup.verify')]), 's')
    put('dedup.verified_ratio', sum(verified) / max(1.0, sum(cands)), 'ratio')
    comps = t.pick('dedup.components')
    put('dedup.components_s', median([t.dur(s) for s in comps]), 's')
    put('dedup.components_jobs', median([t.total(s, 'jobs') for s in comps]), 'count')
    rank = t.pick('graph.rank')
    put('graph.rank_s', median([t.dur(s) for s in rank]), 's')
    put('graph.rank_jobs', median([t.total(s, 'jobs') for s in rank]), 'count')

    writes = t.pick('index.write')
    put('index.write_s', median([t.dur(s) for s in writes]), 's')
    put('index.write_mb', median([b / 1e6 for b in t.notes(writes, 'write_bytes')]), 'MB')
    put('index.files', median(t.notes(writes, 'write_files')), 'count')
    put('index.probe_s', median([t.dur(s) for s in t.pick('index.probe')]), 's')
    probe_index = t.named(t.probes, 'probe:index')
    put('index.candidates_per_doc', sum(t.notes(probe_index, 'probe_candidates'))
        / max(1.0, sum(t.notes(probe_index, 'probe_docs'))), 'ratio')

    streams = t.stream()
    batches = [b for _, bs in streams for b in bs]

    def dmean(key):
        xs = [b['durations_ms'].get(key, 0) for b in batches]
        return statistics.fmean(xs) if xs else 0.0
    put('stream.staging_s', median([s for s, _ in streams if s is not None]), 's')
    put('stream.batches', median([len(bs) for _, bs in streams]), 'count')
    put('stream.batch_p50_ms',
        median([b['durations_ms'].get('triggerExecution', 0) for b in batches]), 'ms')
    put('stream.planning_ms', dmean('queryPlanning'), 'ms')
    put('stream.add_batch_ms', dmean('addBatch'), 'ms')
    put('stream.wal_commit_ms', dmean('walCommit'), 'ms')
    put('stream.state_commit_ms',
        statistics.fmean([b['state_commit_ms'] for b in batches]) if batches else 0.0, 'ms')
    put('stream.state_rows',
        median([max((b['state_rows'] for b in bs), default=0) for _, bs in streams]), 'rows')
    put('stream.state_mb',
        median([max((b['state_bytes'] for b in bs), default=0) / 1e6 for _, bs in streams]), 'MB')

    put('jvm.gc_s', res['gc_s'], 's')
    put('jvm.peak_rss_mb', res['peak_rss_mb'], 'MB')
    put('jvm.jit_s', res['jit_s'], 's')
    setup = res['setup']
    put('setup.session_s', setup['session_s'], 's')
    put('setup.generate_s', gen_s, 's')
    put('setup.stage_s', setup['stage_s'], 's')
    put('setup.warmup_s', setup['warmup_s'], 's')
    timed = [o for o in res['ops'] if not o['warmup']]
    put('trace.op_p50_s', median([o['latency_s'] for o in timed]), 's')
    wall = sum(t.dur(s) for s in ops)
    put('trace.uncovered_share', sum(s['self_s'] for s in ops) / wall if wall else 0.0, 'ratio')
    return m, t


def describe_trace(t, res, key_counts):
    """Human-readable self-time split of the timed ops and count stability."""
    selfs = {}
    for op in t.ops:
        for s in t.sub(op):
            name = 'op (uncovered)' if s is op else s['name']
            selfs[name] = selfs.get(name, 0.0) + s['self_s']
    wall = sum(t.dur(s) for s in t.ops) or 1.0
    log('self time of the timed ops by span (share of op wall time):')
    for name, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        log(f'  {name:<18} {v:9.3f} s  {100 * v / wall:5.1f}%')
    log(f"unattributed Spark jobs: {res['trace']['unattributed_jobs']}")
    for name, exact in key_counts.items():
        log(f'  {name}: repeats exactly across repeats of an op = {str(exact).lower()}')


def count_stability(t):
    """Whether each per-op count is identical across repeats of the same op."""
    out = {}
    for key, label in (('jobs', 'exec.jobs'), ('tasks', 'exec.tasks'),
                       ('input_rows', 'exec.input_rows'),
                       ('shuffle_write_bytes', 'exec.shuffle_write_mb')):
        groups = {}
        for s in t.ops:
            groups.setdefault(s['name'], set()).add(t.total(s, key))
        out[label] = all(len(v) == 1 for v in groups.values()) if groups else False
    return out


def run(args):
    """Runs one workload; prints its metrics; returns the result object."""
    sf = sf_dir()
    if not os.path.isdir(sf):
        raise BenchError(f'sf0.1 test data not found at {sf}')
    classpath, jvm_opts = build()

    t = time.time()
    inputs = os.path.join(WORK, 'inputs', f'{args.workload}-s{args.seed}-v{gen.VERSION}')
    manifest = gen.generate(args.workload, args.seed, sf, inputs, CORES)
    gen_s = time.time() - t

    run_dir = os.path.join(WORK, 'run', args.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, 'tmp'))
    out = os.path.join(run_dir, 'result.json')
    cmd = ['java', f'-Xms{XMX}', f'-Xmx{XMX}'] + jvm_opts + [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", '-cp', classpath,
        'perfbench.Harness', '--workload', args.workload, '--inputs', inputs,
        '--work', run_dir, '--seconds', str(args.seconds), '--trace', str(args.trace),
        '--seed', str(args.seed), '--cores', str(CORES), '--out', out]
    jlog = os.path.join(WORK, f'harness-{args.workload}.log')
    rc = run_process(cmd, ROOT, RUN_TIMEOUT_S, jlog)
    if rc != 0 or not os.path.exists(out):
        raise BenchError(f'harness exited {rc}:\n{tail(jlog)}')
    with open(out) as f:
        res = json.load(f)
    os.replace(out, os.path.join(WORK, f'result-{args.workload}.json'))
    shutil.rmtree(run_dir, ignore_errors=True)

    cache = oracle.Cache(inputs, WORK, CORES)
    try:
        ops = check(args.workload, res, cache)
    finally:
        cache.close()
    timed = [o for o in ops if not o['warmup']]
    if not timed:
        raise BenchError('no timed op completed')
    failed = sum(not o['ok'] for o in ops)
    for o in ops:
        if not o['ok']:
            log(f"FAILED {o['name']}[{o['index']}]: "
                + (o['error'] or f"digest {o['digest']} != oracle {o.get('expected')}"))

    log(f"workload {args.workload}: seed {args.seed}, local[{CORES}] of {os.cpu_count()} cpus, "
        f"-Xmx{XMX}, JDK {res['jdk']}, Spark {res['spark']}; inputs "
        f"{manifest['file_count']} files, rows {summary_rows(manifest)}"
        + (f", duplicate share {manifest['dup_share']:.3f}" if 'dup_share' in manifest else ''))
    log(f"ops: {len(timed)} timed in {res['rounds']} rounds over {res['timed_s']:.1f} s, "
        f"{len(ops) - len(timed)} warm-up; failed {failed}/{len(ops)} "
        f"(fail_ratio {failed / len(ops):.4f})")
    # the untraced op_p50_s of this (workload, seed), to report the
    # tracing overhead when a traced run follows
    p50_path = os.path.join(WORK, f'p50-{args.workload}-s{args.seed}.json')
    if args.trace:
        layer, t = per_layer(res, gen_s)
        describe_trace(t, res, count_stability(t))
        metrics = {k: (v, u, 0, '') for k, (v, u) in layer.items()}
        if os.path.exists(p50_path):
            with open(p50_path) as f:
                base = json.load(f)
            traced = layer['trace.op_p50_s'][0]
            log(f'tracing overhead: op_p50_s {traced:.4f} s traced vs {base:.4f} s '
                f'untraced ({100 * (traced / base - 1):+.1f}%)')
    else:
        metrics = end_to_end(args.workload, res, manifest, timed)
        with open(p50_path, 'w') as f:
            json.dump(metrics['op_p50_s'][0], f)
    for name, (v, unit, n, note) in metrics.items():
        extra = (f'  n={n}' if n else '') + (f'  {note}' if note else '')
        print(f'{name:<28} {v:14.6f} {unit}{extra}')
    if not args.trace:
        print(f"{'fail_ratio':<28} {failed / len(ops):14.6f} ratio  n={len(ops)}")
    names = reported(args.trace)
    missing = sorted(names - metrics.keys())
    if missing:
        raise BenchError(f'BENCHMARK.json names metrics not measured: {missing}')
    return {'correct': failed == 0, 'attempted': len(ops), 'failed': failed,
            'metrics': {k: {'value': v, 'unit': u} for k, (v, u, _, _) in metrics.items()
                        if k in names}}


def reported(trace):
    """Metric names of the final JSON line: BENCHMARK.json's lists."""
    with open(os.path.join(ROOT, 'BENCHMARK.json')) as f:
        spec = json.load(f)
    return {m['name'] for m in spec['per_layer' if trace else 'end_to_end']}


def main():
    p = argparse.ArgumentParser(description=__doc__.split('\n\n')[0])
    p.add_argument('--workload', required=True, choices=gen.WORKLOADS + ('all',),
                   help="'all' runs every workload in turn and reports each")
    p.add_argument('--seed', type=int, required=True)
    p.add_argument('--seconds', type=float, required=True)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a SIGTERM unwinds like an error, so run_process kills the JVM's group
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if args.workload != 'all':
            out = run(args)
        else:
            outs = {}
            for w in gen.WORKLOADS:
                print(f'== {w}')
                outs[w] = run(argparse.Namespace(**{**vars(args), 'workload': w}))
            out = {'correct': all(o['correct'] for o in outs.values()),
                   'attempted': sum(o['attempted'] for o in outs.values()),
                   'failed': sum(o['failed'] for o in outs.values()),
                   'metrics': {f'{w}.{k}': v for w, o in outs.items()
                               for k, v in o['metrics'].items()}}
        print(json.dumps(out))
        sys.exit(0 if out['correct'] else 1)
    except BenchError as e:
        log(f'perfbench: {e}')
        sys.exit(2)


if __name__ == '__main__':
    main()
