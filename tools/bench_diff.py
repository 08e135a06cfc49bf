#!/usr/bin/env python3
"""Bench sidecar diff, run by hand: graft.Bench does not call it.

Compares two BENCH_FULL.json sidecars (typically the committed copy vs
a regenerated one) before the new one is committed:

    python3 tools/bench_diff.py <(git show HEAD:BENCH_FULL.json) BENCH_FULL.json

Flags like-for-like moves past the threshold (default 2x either way),
new/removed/crashed queries, and refuses to call anything a regression
when the two artifacts were produced with different runs settings
(min-of-2 hides the 2-4x cold first run of superstep queries) or at
different sf dirs.
Exit 1 when like-for-like timing moves are flagged, OR — regardless
of like-for-like, because a crash is a correctness signal, not a
timing ratio — when a previously-passing query newly crashes.
"""
import json, sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d.get("sf"), d.get("runs"), d["queries"]


def main():
    if len(sys.argv) < 3:
        print(__doc__)
        sys.exit(2)
    threshold = float(sys.argv[3]) if len(sys.argv) > 3 else 2.0
    old_sf, old_runs, old = load(sys.argv[1])
    new_sf, new_runs, new = load(sys.argv[2])
    like_for_like = True
    # runs was only recorded from round 11 on; None means "unknown,
    # probably the era default" — still warn, don't guess
    if old_runs != new_runs:
        like_for_like = False
        print(f"[warn] runs settings differ (old={old_runs}, new={new_runs}):"
              " min-of-N hides the 2-4x cold first run of superstep queries"
              " — per-query moves below are NOT like-for-like evidence")
    if old_sf != new_sf:
        like_for_like = False
        print(f"[warn] sf dirs differ (old={old_sf}, new={new_sf}):"
              " cross-scale, not cross-round")
    flagged = []
    # r11 advice: a NEW crash (old ok, new -1) is a correctness
    # signal independent of runs/sf settings — the like-for-like
    # suppression applies only to TIMING ratios, never to crashes
    crashes = []
    for q in sorted(set(old) & set(new)):
        o, n = old[q], new[q]
        if o < 0 or n < 0:
            if o < 0 and n < 0:
                # a known persistent crasher is not NEW information —
                # flagging it every round buries real moves
                print(f"[still-crashed] {q}")
            elif n < 0:
                crashes.append(q)
                print(f"[CRASH ] {q}: old={o:.3f} new=CRASHED")
            else:
                print(f"[fixed ] {q}: was crashed, now {n:.3f}s")
            continue
        if o < 0.05 and n < 0.05:
            continue  # both under timer noise
        ratio = n / max(o, 1e-9)
        if ratio > threshold:
            flagged.append(q)
            print(f"[SLOWER] {q}: {o:.3f}s -> {n:.3f}s ({ratio:.1f}x)")
        elif ratio < 1.0 / threshold:
            print(f"[faster] {q}: {o:.3f}s -> {n:.3f}s ({ratio:.2f}x)")
    for q in sorted(set(new) - set(old)):
        print(f"[new   ] {q}: {new[q]:.3f}s")
    for q in sorted(set(old) - set(new)):
        print(f"[gone  ] {q}: was {old[q]:.3f}s")
    ot = sum(v for v in old.values() if v >= 0)
    nt = sum(v for v in new.values() if v >= 0)
    print(f"\ntotals: old {ot:.1f}s ({len(old)} queries)"
          f" -> new {nt:.1f}s ({len(new)} queries);"
          f" {len(flagged)} timing flagged, {len(crashes)} new crashes"
          + ("" if like_for_like else " [NOT like-for-like — see warnings]"))
    # exit 1 on new crashes UNCONDITIONALLY; timing flags only count
    # when the artifacts are like-for-like
    sys.exit(1 if crashes or (flagged and like_for_like) else 0)


if __name__ == "__main__":
    main()
