"""Disk-safe DuckDB connection setup shared by the oracle tools.

Round-14 postmortem: compare_oracle.py / cc_oracle.py pointed DuckDB at
/tmp/duckdb_spill with NO size cap and NO cleanup. A crashed sf10 oracle
run stranded 74 GB of duckdb_temp_storage-*.tmp, filled the sandbox disk
to 100%, and every subsequent driver gate run died on ENOSPC — the round's
CORRECTNESS/BENCH artifacts were lost to the gate's own spill. This module
makes that failure mode impossible:

  * ``max_temp_directory_size`` caps the spill (default 40 GB; override
    with GRAFT_SPILL_CAP for standalone heavy-oracle reruns),
  * the spill dir is swept of stale tmp files at connect time (a crashed
    previous run's debris does not survive into this one),
  * an ``atexit`` hook removes the spill dir when the process exits —
    including sys.exit() paths, which raise SystemExit past any finally
    blocks the callers forgot,
  * ``preflight`` fails fast with the usual suspects listed when free
    space is already too low for a gate run to succeed.
"""
import atexit, os, shutil, sys

import duckdb

import janitor

SPILL_DIR = '/tmp/duckdb_spill'
_cleanup_registered = False


def _my_spill():
    """Per-PROCESS spill subdir: concurrent oracle tools must not sweep
    each other's live spill files."""
    return os.path.join(SPILL_DIR, f'pid{os.getpid()}')


def _sweep_spill():
    shutil.rmtree(_my_spill(), ignore_errors=True)
    _reap_dead()
    try:  # tidy the empty parent; harmless if another process holds it
        os.rmdir(SPILL_DIR)
    except OSError:
        pass


def _reap_dead():
    """Remove siblings whose owning process is gone — the 74 GB r14
    strand was exactly this debris class (a killed oracle run)."""
    if not os.path.isdir(SPILL_DIR):
        return
    for d in os.listdir(SPILL_DIR):
        if not d.startswith('pid'):
            # pre-r15 layout: loose duckdb_temp_storage-*.tmp files
            try:
                os.remove(os.path.join(SPILL_DIR, d))
            except OSError:
                pass
            continue
        pid = d[3:]
        if pid.isdigit() and not os.path.exists(f'/proc/{pid}'):
            shutil.rmtree(os.path.join(SPILL_DIR, d), ignore_errors=True)


def connect(mem_env='GRAFT_ORACLE_MEM', mem_default='48GB'):
    """Fresh DuckDB connection with capped, self-cleaning disk spill."""
    global _cleanup_registered
    _sweep_spill()  # own debris + dead siblings from crashed runs
    # retry: a concurrent tool's exit-sweep can rmdir the shared parent
    # between makedirs' two mkdir steps (observed once in a 4-way run)
    for attempt in range(5):
        try:
            os.makedirs(_my_spill(), exist_ok=True)
            break
        except FileNotFoundError:
            if attempt == 4:
                raise
    if not _cleanup_registered:
        atexit.register(_sweep_spill)
        _cleanup_registered = True
    con = duckdb.connect()
    con.sql(f"SET memory_limit='{os.environ.get(mem_env, mem_default)}'")
    con.sql(f"SET temp_directory='{_my_spill()}'")
    cap = os.environ.get('GRAFT_SPILL_CAP', '40GB')
    con.sql(f"SET max_temp_directory_size='{cap}'")
    return con


# Free /tmp (GB) a gate run needs grows with its input. The sf0.01 gate
# (1.9 MB of parquet, 152 queries in 20 s on 4 vCPU) grew /tmp by under
# 0.1 MB at its peak, sampled every 50 ms: it spills nothing, so its
# 2.6 GB need is far over 2x its use. The factor keeps sf0.1 (17.5 MB,
# 24 GB by the factor) and every larger input at the 20 GB cap, the
# need those runs have always had; the floor covers tiny inputs.
MAX_FREE_GB = 20
FLOOR_GB = 1
GB_PER_INPUT_GB = 1500


def parquet_bytes(sf_dir):
    """Bytes of the sf dir's tables (`<table>.parquet` files or dirs)."""
    try:
        names = os.listdir(sf_dir)
    except OSError:
        return 0
    return sum(janitor.du(p) if os.path.isdir(p) else os.path.getsize(p)
               for p in (os.path.join(sf_dir, n) for n in names
                         if n.endswith('.parquet')))


def required_free_gb(sf_dir):
    """Free /tmp (GB) a gate run over ``sf_dir`` must start with."""
    return min(MAX_FREE_GB, max(FLOOR_GB, GB_PER_INPUT_GB
                                * parquet_bytes(sf_dir) / (1 << 30)))


def preflight(sf_dir):
    """Fail fast (exit 3, stderr diagnosis) if the disk can't host a gate
    run over ``sf_dir``; lists EVERY multi-GB resident (named suspects +
    the probe-debris globs janitor.py manages) and prints the cleanup
    command."""
    min_free_gb = required_free_gb(sf_dir)
    st = shutil.disk_usage('/tmp')
    free_gb = st.free / (1 << 30)
    if free_gb >= min_free_gb:
        return
    print(f"PRE-FLIGHT FAIL: only {free_gb:.1f} GB free on /tmp "
          f"(need {min_free_gb:.1f} for {sf_dir}). Likely culprits:",
          file=sys.stderr)
    # fixed suspects + every probe-corpus / verify-dump family under /tmp
    # that janitor.py sweeps, so a low-disk run names every multi-GB
    # resident instead of a hand-maintained subset
    suspects = [SPILL_DIR, '/root/repo/target']
    try:
        for d in sorted(os.listdir('/tmp')):
            p = os.path.join('/tmp', d)
            if os.path.isdir(p) and p not in suspects and \
                    any(d.startswith(pre) for pre in janitor.PATTERNS):
                suspects.append(p)
    except OSError:
        pass
    for d in suspects:
        if os.path.isdir(d):
            total = janitor.du(d)
            if total >= (1 << 28) or d == SPILL_DIR:
                print(f"  {d}: {total / (1 << 30):.1f} GB", file=sys.stderr)
    print("  cleanup: python3 tools/janitor.py "
          "[--delete --keep <corpora-this-round-reads>]", file=sys.stderr)
    sys.exit(3)
