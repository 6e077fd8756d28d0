#!/usr/bin/env python3
"""Compare two bench_history.jsonl entries per query, and gate regressions.

Usage: python3 tools/bench_compare.py [idx_a idx_b] [--gate]
Defaults to the last two recorded runs. Negative indices allowed.
Prints queries sorted by absolute delta, worst regressions first,
so a round's perf work can be judged against the previous record
instead of a single noisy sample.

--gate: additionally check run B's queries against the per-query MEDIAN
of all history runs with B's sf and timed action (excluding B itself)
and exit non-zero when any query exceeds GATE_FACTOR x its median —
catches both genuine plan regressions and contention-corrupted
recordings at record time. A noop write computes every projected
kernel that a count() prunes, so runs of the two actions never gate
each other.
"""
import json
import os
import statistics
import sys

HISTORY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_history.jsonl")
GATE_FACTOR = 2.0

def action(run):
    """The action a run timed; rows written before the field existed all
    timed count()."""
    return run.get("action", "count")

def gate(runs, ib):
    b = runs[ib]
    ib_abs = ib if ib >= 0 else len(runs) + ib
    # default the sf field SYMMETRICALLY: rows written before the "sf"
    # field existed were all sf0.1 runs, on both sides of the comparison
    default_sf = "/root/testdata/sf0.1"
    def setting(r):
        return r.get("sf", default_sf), action(r)
    peers = [r for i, r in enumerate(runs)
             if i != ib_abs and setting(r) == setting(b)]
    if not peers:
        print("[gate] no same-sf, same-action history to gate against — pass")
        return 0
    offenders = []
    for k, vb in b["queries"].items():
        hist = [r["queries"][k] for r in peers if r["queries"].get(k, -1) >= 0]
        if vb < 0:
            offenders.append((k, vb, None))  # failed query is always a gate failure
        elif hist:
            med = statistics.median(hist)
            if vb > GATE_FACTOR * med:
                offenders.append((k, vb, med))
    if offenders:
        print(f"[gate] FAIL — {len(offenders)} queries over {GATE_FACTOR}x their history median:")
        for k, vb, med in sorted(offenders, key=lambda o: -(o[1] / o[2] if o[2] else float('inf'))):
            print(f"  {k:34} {vb:8.2f}s vs median {med:.2f}s" if med is not None
                  else f"  {k:34} FAILED (-1)")
        return 1
    print(f"[gate] pass — no query over {GATE_FACTOR}x its history median "
          f"({len(peers)} same-sf, same-action runs)")
    return 0

def main():
    with open(HISTORY) as f:
        runs = [json.loads(l) for l in f if l.strip()]
    if len(runs) < 2:
        sys.exit("need at least two recorded runs")
    args = [a for a in sys.argv[1:] if a != "--gate"]
    do_gate = "--gate" in sys.argv[1:]
    if len(args) not in (0, 2):
        sys.exit("usage: bench_compare.py [idx_a idx_b] [--gate]")
    ia, ib = (int(args[0]), int(args[1])) if len(args) == 2 else (-2, -1)
    a, b = runs[ia], runs[ib]
    qa, qb = a["queries"], b["queries"]
    for tag, r, q in (("A", a, qa), ("B", b, qb)):
        print(f"{tag}: ts={r.get('ts','?')} action={action(r)} "
              f"total={r['value']:.1f}s ({len(q)} queries)")
    rows = []
    for k in sorted(set(qa) | set(qb)):
        va, vb = qa.get(k), qb.get(k)
        if va is None or vb is None:
            rows.append((float("inf"), k, va, vb, None))
        else:
            rows.append((abs(vb - va), k, va, vb, vb - va))
    rows.sort(reverse=True)
    print(f"{'query':34} {'A(s)':>8} {'B(s)':>8} {'delta':>8}")
    shown = rows[:25]
    for _, k, va, vb, delta in shown:
        fa = f"{va:.2f}" if va is not None else "-"
        fb = f"{vb:.2f}" if vb is not None else "-"
        fd = f"{delta:+.2f}" if delta is not None else "new/gone"
        print(f"{k:34} {fa:>8} {fb:>8} {fd:>8}")
    if len(rows) > len(shown):
        rest = rows[len(shown):]
        print(f"... and {len(rest)} more with |delta| <= {rest[0][0]:.2f}s")
    if do_gate:
        sys.exit(gate(runs, ib))

if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:  # piping into head is fine
        pass
