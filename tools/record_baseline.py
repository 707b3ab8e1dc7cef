#!/usr/bin/env python3
"""Round-close baseline recording: per-entry MEDIANS of three full
`graft.Bench` sweeps -> tools/bench_expect.json + the BASELINE.md
3-column table body (printed to stdout for manual splice), plus a
continuity report vs the previous bench_expect.json using the bench's
own retry rules: max(1.8x, +0.75 s) OR a pure 2.0x ratio (the
sub-second class the absolute floor misses — q25/q28, round 15).

The continuity check GATES the write: if any entry crosses the
threshold vs the previous baseline, nothing is written and the script
exits nonzero — a regressed sweep cannot silently replace the recorded
baseline. Re-run after fixing (or pass --force to record anyway, e.g.
for a deliberate re-plan whose new cost is the intended one).

Usage: python3 tools/record_baseline.py [--force] sweep1.json sweep2.json sweep3.json
"""
import json, statistics, sys

args = [a for a in sys.argv[1:] if a != "--force"]
force = "--force" in sys.argv[1:]
assert len(args) == 3, "exactly three sweep files required"
sweeps = [json.load(open(p)) for p in args]
prev = json.load(open("tools/bench_expect.json"))
# a -1 anywhere is a failed query; guard RAW values, not medians — a
# single-sweep failure must fail the recording, not bias a median low
bad = [(i + 1, k) for i, s in enumerate(sweeps)
       for k, v in s["queries"].items() if v < 0]
assert not bad, f"failed queries in sweeps: {bad}"

# Sweep files written via SPARK_GRAFT_BENCH_OUT carry FULL entry names
# in "queries" (short names only appear on the stdout line).
names = set(sweeps[0]["queries"])
for s in sweeps[1:]:
    assert set(s["queries"]) == names, "sweeps cover different entry sets"

# Contention hygiene gate (r20 review): a recording taken from flagged
# sweeps would bake contention into the medians. Any re-run failure,
# slow entry or sweep-level flag (median first-pass / expect ratio over
# graft.Bench.SweepInflated) on any sweep refuses the recording unless
# --force (the round-18 procedure then applies: record a second batch and
# show the two agree).
flagged = [(i + 1, k, s.get(k)) for i, s in enumerate(sweeps)
           for k in ("refailed", "slow") if s.get(k)] + \
          [(i + 1, "sweep_suspect_env", True) for i, s in enumerate(sweeps)
           if s.get("sweep_suspect_env")]
if flagged:
    print("contention flags present in sweeps:")
    for i, k, v in flagged:
        print(f"  sweep {i}: {k} = {v}")
    if not force:
        print("\nREFUSING to record from flagged sweeps (pass --force only "
              "after a second batch agrees — see BASELINE.md discipline).")
        sys.exit(1)

sfs = {s.get("sf", "").rstrip("/").split("/")[-1] for s in sweeps}
assert len(sfs) == 1, f"sweeps ran at different scale factors: {sfs}"

med = {k: round(statistics.median(s["queries"][k] for s in sweeps), 2)
       for k in sorted(names)}

# continuity vs previous medians — computed BEFORE the write so a
# regressed recording can't overwrite the baseline unnoticed. Only a
# REGRESSION (new slower than prev past the threshold) blocks recording;
# a same-magnitude improvement is reported but records freely — refusing
# it would force --force for exactly the change the gate exists to
# encourage (r16 advice).
slower, faster = [], []
for k in sorted(names & set(prev)):
    a, b = prev[k], med[k]
    hi, lo = max(a, b), min(a, b)
    if hi > max(1.8 * lo, lo + 0.75) or hi > 2.0 * lo:
        (slower if b > a else faster).append((k, a, b))

print(f"entries: {len(med)}  (new: {sorted(names - set(prev))})")
print(f"sweep totals: {[s['value'] for s in sweeps]}  median-sum: {round(sum(med.values()), 1)}")
print("continuity threshold crossers (prev -> new):")
for k, a, b in slower + faster:
    print(f"  {k}: {a} -> {b}" + ("  (improvement)" if b < a else ""))
if slower and not force:
    print(f"\nREFUSING to record: {len(slower)} entries REGRESSED past "
          "max(1.8x, +0.75s) or 2x vs the previous baseline. Fix and "
          "re-sweep, or pass --force for a deliberate re-plan/re-record.")
    sys.exit(1)

with open("tools/bench_expect.json", "w") as f:
    json.dump(med, f, indent=1, sort_keys=True)

print()
ks = sorted(med)
for i in range(0, len(ks), 3):
    row = ks[i:i + 3]
    cells = " | ".join(f"{k} | {med[k]:.2f}" for k in row)
    print(f"| {cells} |")
