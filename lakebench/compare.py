"""Summarises one lakebench result set, or compares two.

    python3 lakebench/compare.py BASE_DIR [NEW_DIR]

A result set is a directory of the records run.py leaves in .bench_out/
(one `<workload>-s<seed>-t<trace>.json` per run); copy or move that
directory aside to keep a set. For every workload and end-to-end metric
it prints the median and quartiles of the untraced runs and their spread
(interquartile range over median). Given two sets it also prints the
change of the median, worse-positive, and flags:

  WORSE       the new median is worse than the base by more than the bound
  unresolved  either set's spread exceeds the bound, unless every new run
              is better than every base run

Traced runs are listed separately: per-layer counts (jobs, tasks, files,
bytes) apart from per-layer times, and the tracing overhead (traced over
untraced end-to-end values). The box-speed probe is printed for reading
drift between sets; it never adjusts a metric.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIME_UNITS = ("s", "ms")


def load(d):
    runs = {}
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            rec = json.load(f)
        key = (rec["detail"]["workload"], bool(rec["detail"]["trace"]))
        runs.setdefault(key, []).append(rec)
    if not runs:
        sys.exit(f"no result records in {d}")
    return runs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else 0.0


def values(recs, name):
    return [r["result"]["metrics"][name]["value"] for r in recs]


def worse_by(base, new, better):
    """Relative change of the median, positive when `new` is worse."""
    if base == 0:
        return 0.0
    d = (new - base) / abs(base)
    return d if better == "lower" else -d


def fmt(x):
    return f"{x:.6g}"


def e2e_table(spec, base, new):
    bad = 0
    workloads = sorted({w for w, t in list(base) + list(new or {}) if not t})
    for w in workloads:
        b = base.get((w, False), [])
        n = (new or {}).get((w, False), [])
        print(f"\n== {w}: end to end ({len(b)} base runs" + (f", {len(n)} new runs)" if new else ")"))
        for m in spec["end_to_end"]:
            name, bound, better = m["name"], m["bound"], m["better"]
            if not b:
                continue
            bv = values(b, name)
            q1, med, q3 = quartiles(bv)
            line = (f"  {name:<28} {fmt(med):>12} {m['unit']:<6} q1 {fmt(q1)} q3 {fmt(q3)}"
                    f" spread {spread(bv):.3f} (bound {bound})")
            if n:
                nv = values(n, name)
                nmed = quartiles(nv)[1]
                change = worse_by(med, nmed, better)
                all_better = all(worse_by(x, y, better) < 0 for x in bv for y in nv)
                if change > bound:
                    flag = "WORSE"
                elif max(spread(bv), spread(nv)) > bound and not all_better:
                    flag = "unresolved"
                else:
                    flag = "ok"
                bad += flag != "ok"
                line += f" | new {fmt(nmed)} spread {spread(nv):.3f} worse-by {change:+.3f} {flag}"
            print(line)
        if b:
            probe = lambda recs: fmt(statistics.median(min(r["detail"]["box_probe_s"]) for r in recs))
            print(f"  box probe median {probe(b)} s (base)" + (f", {probe(n)} s (new)" if n else ""))
    return bad


def layer_table(spec, base, new):
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in sorted({w for w, t in list(base) + list(new or {}) if t}):
        b = base.get((w, True), [])
        n = (new or {}).get((w, True), [])
        if not b:
            continue
        print(f"\n== {w}: per layer ({len(b)} base traced runs" + (f", {len(n)} new)" if new else ")"))
        for kind, pick in (("counts", lambda u: u not in TIME_UNITS and u != "1/s"),
                           ("times", lambda u: u in TIME_UNITS or u == "1/s")):
            rows = []
            for name in sorted(units):
                if not pick(units[name]):
                    continue
                bm = statistics.median(values(b, name))
                if not n:
                    if bm:
                        rows.append(f"  {name:<40} {fmt(bm):>14} {units[name]}")
                    continue
                nm = statistics.median(values(n, name))
                if bm != nm:
                    rel = f" ({(nm - bm) / abs(bm):+.3f})" if bm else ""
                    rows.append(f"  {name:<40} {fmt(bm):>14} -> {fmt(nm)} {units[name]}{rel}")
            print(f" {kind}" + (" that changed:" if n else ":") + ("" if rows else " none"))
            for row in rows:
                print(row)
        untraced = base.get((w, False), [])
        if untraced:
            for m in ("op_p50_ms", "items_per_s"):
                t = statistics.median(values(b, f"trace.{m}"))
                u = statistics.median(values(untraced, m))
                print(f"  tracing overhead on {m}: traced {fmt(t)} vs untraced {fmt(u)}"
                      f" ({(t - u) / u:+.3f})")


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    base = load(sys.argv[1])
    new = load(sys.argv[2]) if len(sys.argv) == 3 else None
    bad = e2e_table(spec, base, new)
    layer_table(spec, base, new)
    if new:
        print(f"\n{bad} metric(s) worse or unresolved")


if __name__ == "__main__":
    main()
