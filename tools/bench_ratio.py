"""Host-normalized bench comparison: one command instead of a judge re-run.

    python3 tools/bench_ratio.py BENCH_r09.json [ref.json] [--no-recheck]
    python3 tools/bench_ratio.py BENCH_r16.json --recheck-top=3

Reads a driver bench artifact (the `parsed` object, or the last headline
JSON line found in `tail`), normalizes per-query times by the run's
embedded canary, and prints per-query ratios vs the reference record
(default tools/bench_ref.json).

Leg-aware normalization (VERDICT r8 #1): the canary runs at the START
and END of the timed passes (`host_cal = [start, end, constant]`), and
the two legs routinely disagree — the host drifts WITHIN a run (r8:
0.32 vs 0.47, a 1.47x swing). A single mean factor therefore over-reads
late-suite queries as regressions. This tool instead interpolates the
factor per query by its position in the suite (the artifact's `queries`
map preserves execution order; the reference record is assumed to share
the suite order, so shared queries use the artifact's positions on both
sides). Interpolation is linear in cumulative steady time — a coarse
model of drift, which is why flags are then RE-MEASURED, not trusted.

Auto-recheck: any query still >2x after interpolation is re-run in a
fresh JVM via `SPARK_GRAFT_ONLY` (plus the canary, which Bench times
unconditionally), and the verdict comes from the fresh canary-normalized
measurement — no human in the loop. Disable with --no-recheck (e.g. when
the testdata or sbt toolchain is absent).

--recheck-top=K (round 16): also recheck the K worst movers even when
none crossed 2x — sub-2x "movers" at sf0.1 are usually session drift
(three same-tree r16 runs: totals reproduce within ±5% normalized but
per-query tails swing up to 2x; the artifact's per-leg records show
which), and this flag turns "is that 1.5x real?" into one command.
"""
import json, os, re, statistics, subprocess, sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
FLAG_RATIO = 2.0


def load_headline(path):
    with open(path) as f:
        d = json.load(f)
    if isinstance(d, dict) and d.get("parsed"):
        return d["parsed"]
    if isinstance(d, dict) and "queries" in d:
        return d
    for line in reversed(d.get("tail", "").splitlines()):
        if line.strip().startswith('{"metric"'):
            return json.loads(line)
    raise SystemExit(f"{path}: no parseable headline")


def host_legs(h):
    """(start_factor, end_factor, calibrated?) from host_cal [s, e, const]."""
    cal = h.get("host_cal")
    if not cal or len(cal) < 3 or not cal[-1]:
        return 1.0, 1.0, False
    return cal[0] / cal[-1], cal[1] / cal[-1], True


def positions(queries):
    """Suite-time fraction per query: cumulative steady seconds up to the
    query's midpoint, over the total — the interpolation coordinate."""
    total = sum(queries.values()) or 1.0
    pos, cum = {}, 0.0
    for q, t in queries.items():  # dict preserves the artifact's order
        pos[q] = (cum + t / 2.0) / total
        cum += t
    return pos


def full_names():
    """Map short headline keys (q01, p32) -> full query names, parsed from
    the `QuerySpec("name", ...)` and `replayed("name", ...)` entries of
    SparkEntry's registry (which fails at init on a repeated '_'-prefix,
    so each short key is unique)."""
    src = (REPO / "src/main/scala/graft/SparkEntry.scala").read_text()
    names = re.findall(r'(?:QuerySpec|replayed)\("((?:q|p)\d+[a-z0-9_]*)"', src)
    return {n.split("_")[0]: n for n in names}


def recheck(flagged, sf_name, ref_norm):
    names = full_names()
    targets = [names.get(q, q) for q in flagged]
    # SPARK_GRAFT_CPUS must match the artifact's frame: the driver bench
    # runs local[32], and streaming fixed costs scale with the shuffle/
    # state-partition count (p86 measured 5.2 s at local[4] vs 12.9 s at
    # local[32], BOTH honest for their frame — the r12/r13 "fresh JVM
    # refutations" at 4.9 s were local[4] runs misread against local[32]
    # records, root-caused round 14)
    env = dict(os.environ,
               SPARK_GRAFT_ONLY=",".join(targets),
               SPARK_GRAFT_CPUS=os.environ.get("SPARK_GRAFT_CPUS", "32"),
               SPARK_GRAFT_SF_DIR=f"/root/testdata/{sf_name}")
    print(f"\nrecheck: fresh JVM run of {', '.join(targets)} "
          f"(+canary) at {sf_name} ...", flush=True)
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "runMain graft.Bench"], cwd=REPO, env=env,
            capture_output=True, text=True, timeout=1800)
    except (subprocess.TimeoutExpired, OSError) as e:
        # a wedged sbt (lock, missing testdata) must yield a verdict
        # line, not a traceback — the table above already printed
        print(f"recheck FAILED to run: {type(e).__name__}: {e}")
        return
    headline = None
    for line in reversed(proc.stdout.splitlines()):
        if line.strip().startswith('{"metric"'):
            headline = json.loads(line.strip())
            break
    if headline is None:
        print("recheck FAILED to produce a headline; last stdout:")
        print("\n".join(proc.stdout.splitlines()[-10:]))
        print("\n".join(proc.stderr.splitlines()[-5:]))
        return
    s, e, cal = host_legs(headline)
    # conservative: the SMALLER leg (fastest host) yields the LARGEST
    # normalized time, so a noisy canary leg can't falsely exonerate a
    # real regression
    hf = min(s, e)
    print(f"recheck host factor {hf:.2f} (cal={cal}, legs {s:.2f}/{e:.2f})")
    drift_free = 0
    for q in flagged:
        t = headline["queries"].get(q)
        if t is None:
            print(f"  {q}: MISSING from recheck run (errors: "
                  f"{headline.get('errors')})")
            continue
        ratio = (t / hf) / ref_norm[q] if ref_norm.get(q) else float("inf")
        if ratio <= 1.3:
            verdict = "drift artifact — fresh measurement is at/under reference"
            drift_free += 1
        elif ratio <= FLAG_RATIO:
            verdict = "below flag threshold — original >2x was drift-inflated"
            drift_free += 1
        else:
            verdict = "CONFIRMED >2x in a fresh JVM — investigate the plan"
        print(f"  {q}: fresh {t:.2f}s -> {ratio:.2f}x ref  [{verdict}]")
    print(f"recheck verdict: {drift_free}/{len(flagged)} flags were "
          f"measurement artifacts")


def sf1_compare(art_path, ref_path):
    """--sf1: per-query ratios of an sf1 heavy-tier record (SF1_latest.json,
    or a bench log carrying the {"sf1":...} aux line) vs
    tools/bench_ref_sf1.json — every tier query is multi-second, so a
    single-run ratio here is engine signal (the point of the tier)."""
    def load_sf1(path):
        for line in open(path):
            line = line.strip()
            if line.startswith('{"sf1"'):
                d = json.loads(line)
                return d["sf1"], d.get("sf1_cal", [])
        raise SystemExit(f"{path}: no sf1 record found")
    res, cal = load_sf1(art_path)
    with open(ref_path) as f:
        ref = json.load(f)
    rq, rcal = ref["queries"], ref.get("sf1_cal", [0.53, 0.53])
    fs = (cal[0] / 0.53, cal[1] / 0.53) if len(cal) >= 2 else (1.0, 1.0)
    fr = (rcal[0] / 0.53, rcal[1] / 0.53)
    total = sum(res.values()) or 1.0
    rows, cum = [], 0.0
    for q, t in res.items():
        pos = (cum + t / 2.0) / total
        cum += t
        na = t / (fs[0] + pos * (fs[1] - fs[0]))
        nr = rq.get(q)
        if nr is None:
            continue
        nr = nr / (fr[0] + pos * (fr[1] - fr[0]))
        rows.append((q, t, na, nr, na / nr if nr else float("inf")))
    if not rows:
        print(f"sf1 tier: no shared queries between {art_path} and {ref_path}")
        return
    rows.sort(key=lambda r: -r[4])
    print(f"sf1 tier ({len(rows)} shared queries; cal legs "
          f"[{fs[0]:.2f},{fs[1]:.2f}]):")
    print(f"{'query':<26} {'raw':>7} {'norm':>7} {'ref':>7} {'ratio':>6}")
    for q, raw, na, nr, ratio in rows:
        flag = "  <-- >1.3x" if ratio > 1.3 else ""
        print(f"{q:<26} {raw:>7.2f} {na:>7.2f} {nr:>7.2f} {ratio:>6.2f}{flag}")
    ta, tr = sum(r[2] for r in rows), sum(r[3] for r in rows)
    print(f"normalized sf1 totals: {ta:.1f}s vs ref {tr:.1f}s = "
          f"{ta / tr:.2f}x; {sum(1 for r in rows if r[4] > 1.3)} queries >1.3x")


def main():
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--sf1" in sys.argv:
        sf1_compare(argv[0] if argv else "SF1_latest.json",
                    argv[1] if len(argv) > 1 else str(REPO / "tools/bench_ref_sf1.json"))
        return
    no_recheck = "--no-recheck" in sys.argv
    top_k = 0
    for a in sys.argv[1:]:
        if a.startswith("--recheck-top="):
            top_k = int(a.split("=", 1)[1])
    art = load_headline(argv[0])
    ref = load_headline(argv[1] if len(argv) > 1 else str(REPO / "tools/bench_ref.json"))

    def timing_sig(h):
        """(passes, floor) from either tag form: long 'min_warm2_floor2.0'
        or short headline 'w2f2' / legacy 'w2' (floor then unknown)."""
        for tag in (h.get("timing"), h.get("t")):
            if not tag:
                continue
            m = (re.fullmatch(r"min_warm(\d+)_floor([\d.]+)", tag)
                 or re.fullmatch(r"w(\d+)f([\d.]+)", tag))
            if m:
                return int(m.group(1)), float(m.group(2))
            m = re.fullmatch(r"w(\d+)", tag)
            if m:
                return int(m.group(1)), None
        return None
    ta, tr = timing_sig(art), timing_sig(ref)
    if ta != tr:
        # different estimators bias minima differently (the adaptive
        # floor takes min over up to 9 repeats/leg vs 1 before) — flag
        # it so a total/ratio delta isn't read as an engine change
        print(f"WARNING: timing semantics differ — artifact {ta} vs "
              f"reference {tr} (passes, floor); ratios vs this reference "
              f"are partly an estimator artifact. Re-record the reference "
              f"under the artifact's semantics before trusting deltas.")
    sa, ea, cal_a = host_legs(art)
    sr, er, cal_r = host_legs(ref)
    print(f"artifact host legs [{sa:.2f}, {ea:.2f}] (cal={cal_a}), "
          f"reference host legs [{sr:.2f}, {er:.2f}] (cal={cal_r})")
    qa, qr = art["queries"], ref["queries"]
    # positions come from the artifact's (execution-ordered) map; the
    # reference record shares the suite order by construction
    pos = positions(qa)
    shared = [q for q in qa if q in qr]
    rows, ref_norm = [], {}
    for q in shared:
        fa = sa + pos[q] * (ea - sa)
        fr = sr + pos[q] * (er - sr)
        na, nr = qa[q] / fa, qr[q] / fr
        ref_norm[q] = nr
        rows.append((q, qa[q], na, nr, na / nr if nr else float("inf")))
    rows.sort(key=lambda r: -r[4])
    print(f"{'query':<8} {'raw':>6} {'norm':>7} {'ref':>7} {'ratio':>6}")
    for q, raw, na, nr, ratio in rows:
        flag = "  <-- >2x" if ratio > FLAG_RATIO else ""
        print(f"{q:<8} {raw:>6.2f} {na:>7.2f} {nr:>7.2f} {ratio:>6.2f}{flag}")
    tot_a = sum(r[2] for r in rows)
    tot_r = sum(r[3] for r in rows)
    print(f"\nnormalized totals over {len(shared)} shared queries: "
          f"{tot_a:.1f}s vs ref {tot_r:.1f}s = {tot_a / tot_r:.2f}x; "
          f"{sum(1 for r in rows if r[4] > FLAG_RATIO)} queries >2x")
    only_a = sorted(set(qa) - set(qr))
    only_r = sorted(set(qr) - set(qa))
    if only_a:
        print("new (no reference):", ", ".join(only_a))
    if only_r:
        print("MISSING from artifact:", ", ".join(only_r))
    if art.get("errors"):
        print("artifact errors:", json.dumps(art["errors"])[:400])
    flagged = [r[0] for r in rows if r[4] > FLAG_RATIO]
    if top_k:
        # worst movers by ratio, deduped with the >2x flags
        flagged += [r[0] for r in rows[:top_k] if r[0] not in flagged]
    if flagged and not no_recheck:
        recheck(flagged, art.get("sf", "sf0.1"), ref_norm)
    elif flagged:
        print("(recheck skipped: --no-recheck)")


if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:  # piped into head
        pass
