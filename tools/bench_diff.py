#!/usr/bin/env python3
"""Compare a graft.Bench JSON record against the committed per-query
FLOOR and flag regressions.

Usage: python3 tools/bench_diff.py [--gate] <old.json> <new.json>
       python3 tools/bench_diff.py HEAD <new.json>   # old = min-merged floor
       python3 tools/bench_diff.py --selftest        # prove the floor properties

`HEAD` does NOT mean "the single bench_out.json at HEAD" (the r11
lesson: one noisy session committed a uniformly ~1.3x-slower record,
permanently inflating the floor by ~28% and hiding that much of every
future real regression). Instead it means the per-query MINIMUM across
the last FLOOR_DEPTH committed bench_out.json revisions — the same
min-merge trick graft.Bench itself uses across its two in-process runs,
extended across sessions. Because the floor is now a cross-session
MINIMUM while any single session can run uniformly 1.2-1.6x hot (the
PERF.md load-neighbor measurements: same-cell spreads up to 2.8x on
sub-second queries), the per-query test normalizes by the SUITE-MEDIAN
drift m = median(new/floor), clamped to [1.0, MAX_DRIFT]: a query fails
only when it is >1.5x slower than m * floor AND >0.5s above m * floor —
i.e. it regressed relative to how the whole suite moved this session.
The clamp keeps the gate honest against a REAL uniform slowdown (a
global config regression): drift past MAX_DRIFT is not normalized away.
Properties (proven by --selftest):
  * monotone: committing a noisy record never raises the floor;
  * noise-immune: a uniformly 1.3x-noisy rerun passes the gate;
  * sensitive: a single-query >1.5x & >0.5s regression still fails,
    even inside a noisy session;
  * bounded: a uniform 2.5x slowdown (past MAX_DRIFT) still fails.

Exits 2 with usage on bad invocation; exits 1 when --gate is passed
and any query regressed past the threshold or the new record lists a
query under "failed" (it threw in a timed pass, so its time is only the
time until it threw; the round exit gate), else 0 (informational). A
query a committed record lists as failed never enters the floor. Prints queries whose steady time changed by >1.5x
AND >0.5s absolute (filters JIT/VM noise on the sub-second majority),
plus added/removed queries and the total delta.
The per-round discipline: run after any operator rework, BEFORE
committing bench_out.json — a correct-but-slower plan shows up here
first, not in the judge's table.
"""
import json
import os
import subprocess
import sys

FLOOR_DEPTH = 5  # committed bench_out.json revisions to min-merge
MAX_DRIFT = 1.6  # session drift normalized away at most this far

# Deliberate plan changes (r13): a query whose plan was INTENTIONALLY
# restructured for scale correctness (oracle-verified identical output,
# adjudicated in PERF.md) must not be gated against floors measured on
# the retired plan — those floors would flag the documented change
# forever. tools/floor_rebaseline.tsv lists
# <query>\t<cutoff-sha>\t<justification>; for those queries, committed
# bench records at revisions that are ancestors of (or equal to) the
# cutoff are EXCLUDED from the floor min-merge. The floor then rebuilds
# from post-change records only (until one is committed, the query
# gates like an ADDED query). This deliberately breaks per-query floor
# monotonicity AT the cutoff — that is the point — and nowhere else.
REBASELINE_PATH = os.path.join(os.path.dirname(__file__), "floor_rebaseline.tsv")


def _load_rebaselines():
    out = {}
    if os.path.exists(REBASELINE_PATH):
        with open(REBASELINE_PATH) as f:
            for line in f:
                line = line.rstrip("\n")
                if not line or line.startswith("#"):
                    continue
                parts = line.split("\t")
                if len(parts) < 3 or not parts[2].strip():
                    raise SystemExit("bench_diff: malformed rebaseline line "
                                     f"(need query\\tsha\\tjustification): {line}")
                out[parts[0]] = parts[1]
    return out


_ANCESTRY_CACHE = {}


def _is_ancestor(rev, cutoff):
    key = (rev, cutoff)
    if key not in _ANCESTRY_CACHE:
        rc = subprocess.run(["git", "merge-base", "--is-ancestor", rev, cutoff],
                            capture_output=True).returncode
        _ANCESTRY_CACHE[key] = (rc == 0)
    return _ANCESTRY_CACHE[key]


def _committed_records(depth: int):
    """Parse up to `depth` most recent committed revisions of
    bench_out.json (revisions that fail to parse are skipped), plus the
    committed bench_floor.json if present — per-query SOLO minima
    (ScaleBench3 --solo, one child JVM per query) for the heavy tail,
    where suite records carry load-neighbor noise (r11 VERDICT item 6).
    The solo record participates only in the per-query min, never in
    query-set membership or the total."""
    shas = subprocess.run(
        ["git", "rev-list", "-n", str(depth * 2), "HEAD", "--", "bench_out.json"],
        capture_output=True, text=True, check=True).stdout.split()
    records = []
    for sha in shas:
        if len(records) >= depth:
            break
        show = subprocess.run(["git", "show", f"{sha}:bench_out.json"],
                              capture_output=True, text=True)
        if show.returncode != 0:
            continue
        try:
            rec = json.loads(show.stdout)
            rec["__sha__"] = sha
            records.append(rec)
        except json.JSONDecodeError:
            continue
    solo = subprocess.run(["git", "show", "HEAD:bench_floor.json"],
                          capture_output=True, text=True)
    if solo.returncode == 0:
        try:
            records.append({"__solo__": True, **json.loads(solo.stdout)})
        except json.JSONDecodeError:
            pass
    return records


def min_merge(records, rebaselines=None, is_ancestor=_is_ancestor):
    """Per-query minimum across records; total = min of totals over
    records carrying the LATEST query set (so retired queries don't
    deflate it). Floor membership = the newest record's query set —
    queries absent there are retired and dropped from the floor.
    Rebaselined queries (see REBASELINE_PATH) exclude records at or
    before their cutoff sha; with no surviving record the query is
    omitted from the floor (gates like an ADDED query until a
    post-change record is committed). A query a record lists under
    "failed" contributes nothing from that record: its time is only the
    time until it threw."""
    suite = [r for r in records if not r.get("__solo__")]
    if not suite:
        raise SystemExit("bench_diff: no committed bench_out.json to diff against")
    newest = suite[0]

    def valid(r, name):
        if name in r.get("failed", ()):
            return False
        cut = (rebaselines or {}).get(name)
        if cut is None or r.get("__solo__") or "__sha__" not in r:
            return True
        return not is_ancestor(r["__sha__"], cut)

    floor_q = {}
    for name in newest["queries"]:
        vals = [r["queries"][name] for r in records
                if name in r.get("queries", {}) and valid(r, name)]
        if vals:
            floor_q[name] = min(vals)
    same_set = [r for r in suite
                if set(r.get("queries", {})) == set(newest["queries"]) and "value" in r]
    total = min(r["value"] for r in same_set) if same_set else newest["value"]
    return {"value": total, "queries": floor_q}


def load(ref: str) -> dict:
    if ref == "HEAD":
        return min_merge(_committed_records(FLOOR_DEPTH), _load_rebaselines())
    with open(ref) as f:
        return json.load(f)


def _median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def diff(old: dict, new: dict, quiet: bool = False):
    """Return flagged regressions [(delta, name, floor_s, new_s)] after
    normalizing by the clamped suite-median drift."""
    oq, nq = old["queries"], new["queries"]
    shared = sorted(set(oq) & set(nq))
    ratios = [nq[n] / oq[n] for n in shared if oq[n] > 0]
    m = min(max(_median(ratios), 1.0), MAX_DRIFT) if ratios else 1.0
    if not quiet:
        print(f"total: {old['value']:.1f}s ({len(oq)} queries floor) -> "
              f"{new['value']:.1f}s ({len(nq)} queries); "
              f"suite-median drift {_median(ratios):.2f}x, normalizing by {m:.2f}x")
        for name in sorted(set(nq) - set(oq)):
            print(f"  ADDED   {name:34s} {nq[name]:6.2f}s")
        for name in sorted(set(oq) - set(nq)):
            print(f"  REMOVED {name:34s} (was {oq[name]:.2f}s)")
    flagged = []
    # drift compounding cap (r12 ADVICE): m*1.5 could reach 2.4x of the
    # raw floor in a maximally drifty session, letting a real ~2x
    # regression ride the drift forever; the per-query allowance is
    # capped at an absolute 2.0x of floor regardless of m (quiet
    # sessions, m=1, are unchanged — 1.5 < 2.0)
    lim = min(m * 1.5, 2.0)
    for name in shared:
        a, b = oq[name] * m, nq[name]
        if b > oq[name] * lim and b - a > 0.5:
            flagged.append((b - a, name, oq[name], b))
        elif a > b * 1.5 and a - b > 0.5 and not quiet:
            print(f"  faster  {name:34s} {oq[name]:6.2f}s -> {b:6.2f}s")
    if not quiet:
        for delta, name, a, b in sorted(flagged, reverse=True):
            print(f"  SLOWER  {name:34s} floor {a:6.2f}s -> {b:6.2f}s  "
                  f"(+{delta:.2f}s past the {m:.2f}x-drift allowance)")
        if flagged:
            # machine-readable line for round_gate's solo-recheck escalation
            print("FLAGGED " + ",".join(name for _, name, _, _ in flagged))
        else:
            print(f"no regressions past the 1.5x/0.5s gate (drift-normalized {m:.2f}x)")
    return flagged


def main(old_ref: str, new_ref: str, gate: bool = False) -> int:
    new = load(new_ref)
    flagged = diff(load(old_ref), new)
    failed = new.get("failed", [])
    for name in failed:
        print(f"  FAILED  {name:34s} threw in a timed pass")
    return 1 if (gate and (flagged or failed)) else 0


def selftest() -> int:
    """Prove the three floor properties on synthetic records."""
    base = {"value": 10.0, "queries": {"q_a": 1.0, "q_b": 0.2, "q_c": 4.0}}
    noisy = {"value": 13.0, "queries": {k: v * 1.3 for k, v in base["queries"].items()}}
    # 1. monotone: min-merge(noisy committed after base) == base per-query
    floor = min_merge([noisy, base])  # newest first
    assert floor["queries"] == base["queries"], floor
    # 2. noise-immune: uniformly-1.3x rerun passes the gate vs that floor
    assert diff(floor, noisy, quiet=True) == [], "noisy rerun must pass"
    # 3. sensitive: single-query regression (q_c 4.0 -> 8.0) fails even
    #    inside a session that is otherwise 1.3x noisy (median drift 1.3
    #    is normalized away; q_c's 2.0x ratio stands out past it)
    regressed = {"value": 14.0,
                 "queries": {"q_a": 1.3, "q_b": 0.26, "q_c": 8.0}}
    flags = diff(floor, regressed, quiet=True)
    assert [f[1] for f in flags] == ["q_c"], flags
    # 4. bounded: a uniform 2.5x slowdown exceeds MAX_DRIFT and fails
    uniform = {"value": 25.0, "queries": {k: v * 2.5 for k, v in base["queries"].items()}}
    flags = diff(floor, uniform, quiet=True)
    assert any(f[1] == "q_c" for f in flags), flags  # 4.0 -> 10.0 vs 1.6x allowance
    # 5. retired queries drop from the floor; new queries don't block
    newer = {"value": 9.0, "queries": {"q_a": 1.1, "q_d": 2.0}}
    floor2 = min_merge([newer, noisy, base])
    assert set(floor2["queries"]) == {"q_a", "q_d"}, floor2
    assert floor2["queries"]["q_a"] == 1.0  # min across records survives
    # 6. a solo-floor record lowers per-query floors but never defines
    #    membership or the total
    solo = {"__solo__": True, "queries": {"q_a": 0.8, "q_zz": 9.9}}
    floor3 = min_merge([newer, solo, base])
    assert set(floor3["queries"]) == {"q_a", "q_d"}, floor3
    assert floor3["queries"]["q_a"] == 0.8, floor3
    assert floor3["value"] == 9.0, floor3
    # 7. rebaseline: a deliberately-replanned query excludes records at
    #    or before its cutoff; with none surviving it leaves the floor
    #    (gates as ADDED) and the OTHER queries' floors are untouched
    old1 = {"value": 10.0, "__sha__": "A",
            "queries": {"q_a": 1.0, "q_c": 0.3}}
    new1 = {"value": 11.0, "__sha__": "B",
            "queries": {"q_a": 1.1, "q_c": 2.0}}
    anc = lambda rev, cut: rev == cut or (rev, cut) == ("A", "A")
    floor4 = min_merge([new1, old1], {"q_c": "A"}, is_ancestor=anc)
    assert floor4["queries"]["q_a"] == 1.0, floor4       # untouched query keeps min
    assert floor4["queries"]["q_c"] == 2.0, floor4       # pre-cutoff 0.3 excluded
    floor5 = min_merge([old1], {"q_c": "A"}, is_ancestor=anc)
    assert "q_c" not in floor5["queries"], floor5        # no valid record -> omitted
    assert diff(floor5, new1, quiet=True) == [], "rebaselined query must gate as ADDED"
    # 8. a query that threw (fast) in a committed record does not lower
    #    its floor; the other records still set it
    threw = {"value": 9.0, "queries": {"q_a": 0.01, "q_d": 2.0}, "failed": ["q_a"]}
    floor6 = min_merge([threw, newer])
    assert floor6["queries"]["q_a"] == 1.1, floor6
    assert floor6["queries"]["q_d"] == 2.0, floor6
    print("bench_diff selftest: floor is monotone, noise-immune, sensitive, bounded, "
          "rebaseline-scoped, failure-blind — OK")
    return 0


if __name__ == "__main__":
    if "--selftest" in sys.argv:
        sys.exit(selftest())
    argv = [a for a in sys.argv[1:] if a != "--gate"]
    if len(argv) != 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(argv[0], argv[1], gate="--gate" in sys.argv))
