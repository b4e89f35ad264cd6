"""Compares two sets of perfbench results (a parent and a change).

  python3 perfbench/compare.py pairs <parent_checkout> <change_checkout> \
      --workload triage --seeds 1-10 [--trace 0] --out <dir>
      Runs one pair per seed, alternating which side runs first, and
      saves each run's result line as <dir>/{parent,change}/<workload>_<seed>_t<trace>.json.

  python3 perfbench/compare.py report <parent_dir> <change_dir>
      For each workload and end-to-end metric: each side's median and
      quartiles, the change's share of pair wins (ties count for
      neither), and the median gap against the parent's interquartile
      range. Verdict, per the choosing-metrics rule: "gain" needs >= 9/10
      wins and a gap wider than the parent's IQR; "regression" is a
      median worse than the parent's by more than the metric's bound;
      "unresolved" is a parent spread wider than the bound; otherwise
      "no regression". Traced runs (--trace 1) get per-layer deltas.
"""
import argparse
import glob
import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
NAME = re.compile(r"(?P<w>[a-z_]+)_(?P<seed>\d+)_t(?P<trace>[01])\.json$")


def load(d):
    """{(workload, trace): {seed: metrics}}"""
    out = {}
    for f in glob.glob(os.path.join(d, "*.json")):
        m = NAME.search(os.path.basename(f))
        if not m:
            continue
        with open(f) as fp:
            r = json.load(fp)
        if not r.get("correct"):
            print(f"warning: {f} is not correct; excluded", file=sys.stderr)
            continue
        out.setdefault((m["w"], int(m["trace"])), {})[int(m["seed"])] = {
            k: v["value"] for k, v in r["metrics"].items()}
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def report(parent_dir, change_dir):
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fp:
        spec = json.load(fp)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layers = {m["name"]: m for m in spec["per_layer"]}
    par, chg = load(parent_dir), load(change_dir)
    for key in sorted(set(par) & set(chg)):
        w, trace = key
        seeds = sorted(set(par[key]) & set(chg[key]))
        print(f"\n== {w} ({'traced' if trace else 'untraced'}), {len(seeds)} pairs")
        if trace:
            print(f"{'per-layer metric':44s} {'parent':>12s} {'change':>12s} {'delta':>10s}")
            for name in layers:
                p = statistics.median(par[key][s][name] for s in seeds)
                c = statistics.median(chg[key][s][name] for s in seeds)
                if p or c:
                    rel = f"{(c - p) / p:+.1%}" if p else "new"
                    print(f"{name:44s} {p:12.4g} {c:12.4g} {rel:>10s}")
            continue
        print(f"{'metric':14s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} "
              f"{'wins':>6s} {'gap/IQR':>8s}  verdict")
        for name, m in e2e.items():
            p = [par[key][s][name] for s in seeds]
            c = [chg[key][s][name] for s in seeds]
            lower = m["better"] == "lower"
            wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
            pq, cq = quartiles(p), quartiles(c)
            iqr = pq[2] - pq[0]
            gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])  # > 0: change better
            worse = -gap / pq[1] if pq[1] else 0.0
            if wins >= 0.9 * len(seeds) and gap > iqr:
                verdict = "gain"
            elif worse > m["bound"]:
                verdict = "regression"
            elif pq[1] and iqr / pq[1] > m["bound"] and not all(
                    (cv < min(p)) if lower else (cv > max(p)) for cv in c):
                verdict = "unresolved"
            else:
                verdict = "no regression"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            ratio = f"{gap / iqr:+.2f}" if iqr else "inf"
            print(f"{name:14s} {fmt(pq):>30s} {fmt(cq):>30s} {wins:>3d}/{len(seeds):<2d} "
                  f"{ratio:>8s}  {verdict}")


def run_one(checkout, workload, seed, trace, seconds, out):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds),
                        "--trace", str(trace)], cwd=checkout,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    last = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if not last:
        sys.exit(f"{checkout}: {workload} seed {seed} printed no result:\n{r.stdout[-2000:]}")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fp:
        fp.write(last[-1] + "\n")


def pairs(a):
    with open(os.path.join(a.parent, "BENCHMARK.json")) as fp:
        seconds = json.load(fp)["run_seconds"]
    lo, hi = (int(x) for x in a.seeds.split("-"))
    for seed in range(lo, hi + 1):
        sides = [("parent", a.parent), ("change", a.change)]
        for side, checkout in (sides if seed % 2 else sides[::-1]):
            run_one(checkout, a.workload, seed, a.trace, seconds,
                    os.path.join(a.out, side, f"{a.workload}_{seed}_t{a.trace}.json"))
            print(f"{a.workload} seed {seed} {side} done", flush=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("pairs")
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", required=True)
    r = sub.add_parser("report")
    r.add_argument("parent_dir")
    r.add_argument("change_dir")
    a = ap.parse_args()
    if a.cmd == "pairs":
        pairs(a)
    else:
        report(a.parent_dir, a.change_dir)


if __name__ == "__main__":
    main()
