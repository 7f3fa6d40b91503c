#!/usr/bin/env python3
"""Combine two back-to-back `graft.BenchOne all <reps> <out.json>` min-of-N
runs into the per-key anchor file by taking the per-key MIN (the r13
methodology, kept for r15: single-run min-of-3 on this shared box carries
one multi-minute burst that inflates a contiguous alphabetical stretch
>1.5x; two runs' bursts land on disjoint stretches, so the per-key min
removes the burst while staying a genuine measured wall time).

usage: python3 tools/combine_perkey.py runA.json runB.json out.json "<note>"
Prints a per-key comparison vs the previous out.json (if present) so the
anchor refresh doubles as a regression diff.
"""
import json
import sys


def main():
    a_path, b_path, out_path, note = sys.argv[1:5]
    a = json.load(open(a_path))
    b = json.load(open(b_path))
    assert a["n_errors"] == 0 and b["n_errors"] == 0, (a["errors"], b["errors"])
    assert set(a["keys"]) == set(b["keys"]), "key sets differ"
    prev = None
    try:
        prev = json.load(open(out_path))
    except Exception:
        pass
    keys = {k: min(a["keys"][k], b["keys"][k]) for k in a["keys"]}
    out = {
        "sf": a["sf"],
        "cpus": a["cpus"],
        "reps": a["reps"] + b["reps"],
        "date": b["date"],
        "load_avg_start": a["load_avg_start"],
        "load_avg_end": b["load_avg_end"],
        "total_min_sec": round(sum(keys.values()), 3),
        "n_keys": len(keys),
        "n_errors": 0,
        "errors": [],
        "note": note,
        "keys": {k: keys[k] for k in sorted(keys)},
    }
    json.dump(out, open(out_path, "w"), indent=None, separators=(",", ":"))
    print(f"WROTE {out_path}: n_keys={len(keys)} "
          f"total_min_sec={out['total_min_sec']} "
          f"(runA sum {sum(a['keys'].values()):.1f}, "
          f"runB sum {sum(b['keys'].values()):.1f})")
    # burst diagnostics: which keys did each single run inflate >1.5x?
    for name, run in (("A", a), ("B", b)):
        flag = [k for k in keys
                if keys[k] > 0.05 and run["keys"][k] > 1.5 * keys[k]]
        print(f"run {name} burst-flagged {len(flag)} keys "
              f"(>1.5x their combined min): {sorted(flag)[:12]}")
    if prev and "keys" in prev:
        import statistics
        ratios = {k: keys[k] / prev["keys"][k] for k in keys
                  if k in prev["keys"] and prev["keys"][k] > 0}
        med = statistics.median(ratios.values())
        print(f"vs previous anchor ({prev.get('date')}): median ratio "
              f"{med:.3f} over {len(ratios)} shared keys")
        up = sorted(((v, k) for k, v in ratios.items()
                     if v > 1.5 and keys[k] > 0.1), reverse=True)
        down = sorted((v, k) for k, v in ratios.items()
                      if v < 0.67 and prev["keys"][k] > 0.1)
        print(f"  >1.5x slower (and >0.1s now): "
              f"{[(k, round(v, 2)) for v, k in up[:15]]}")
        print(f"  >1.5x faster (and was >0.1s): "
              f"{[(k, round(v, 2)) for v, k in down[:15]]}")


if __name__ == "__main__":
    main()
