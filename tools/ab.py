#!/usr/bin/env python3
"""Same-period A/B of two revisions on one benchmark workload.

Usage, from anywhere inside a graft checkout:

    python3 tools/ab.py PARENT CHANGE --workload crawl-prep --seed 5 --pairs 10 \
        --work /path/to/scratch [--seconds 8] [--trace 0] [--out runs.jsonl]
    python3 tools/ab.py --report runs.jsonl

PARENT and CHANGE are anything `git rev-parse` accepts. To measure
uncommitted work, stage it and pass `$(git stash create)` as CHANGE.

Each side is extracted with `git archive` into its own directory under
--work (`a-<sha>` and `b-<sha>`, so `HEAD HEAD` still gives two
checkouts) and builds its own `.bench_build` on its first run; a
directory left by an earlier call is reused. Pairs alternate which side
runs first. Every run's result line goes to --out, if given.

Per metric the report prints each side's median and quartiles, the
change/parent ratio of the medians, the pairs the change won (a metric
is better higher when BENCHMARK.json says so, lower otherwise), and
whether the gap between the medians exceeds the parent's interquartile
range (the bar a claimed gain must clear).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

WORKLOADS = ("query-mix", "crawl-prep")


def git(*args, cwd=None):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          stdout=subprocess.PIPE, text=True).stdout.strip()


def checkout(repo, rev, side, work):
    """Extract `rev` into its own directory; return the directory."""
    sha = git("rev-parse", "--verify", rev + "^{commit}", cwd=repo)
    d = os.path.join(work, f"{side}-{sha[:12]}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        subprocess.run(["rm", "-rf", tmp], check=True)
        os.makedirs(tmp)
        archive = subprocess.Popen(["git", "archive", sha], cwd=repo,
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", tmp], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            raise SystemExit(f"git archive {rev} failed")
        os.rename(tmp, d)
    return d, sha


def run_once(d, a):
    """One run.py call in checkout `d`; return its result dict."""
    env = {k: v for k, v in os.environ.items() if k != "CARGO_TARGET_DIR"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", a.workload,
         "--seed", str(a.seed), "--seconds", str(a.seconds),
         "--trace", str(a.trace)],
        cwd=d, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed in {d} (exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def higher_better():
    """The metrics BENCHMARK.json marks as better when higher."""
    repo = git("rev-parse", "--show-toplevel")
    with open(os.path.join(repo, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"] for k in ("end_to_end", "per_layer")
            for m in bench.get(k, []) if m.get("better") == "higher"}


def report(runs):
    """Print the per-metric table of a list of (pair, side, result)."""
    up_names = higher_better()
    by = {"parent": [], "change": []}
    for _, side, res in sorted(runs, key=lambda r: r[0]):
        by[side].append(res)
    # only complete pairs count
    n = min(len(by["parent"]), len(by["change"]))
    par, chg = by["parent"][:n], by["change"][:n]
    names = sorted(set(par[0]["metrics"]) & set(chg[0]["metrics"]))
    print(f"pairs={n}  correct: parent {sum(r['correct'] for r in par)}/{n}"
          f" change {sum(r['correct'] for r in chg)}/{n}  failed ops:"
          f" parent {sum(r['failed'] for r in par)} change {sum(r['failed'] for r in chg)}")
    print(f"{'metric':34s} {'parent median (q1-q3)':>30s} {'change median (q1-q3)':>30s}"
          f" {'ratio':>7s} {'wins':>6s} gap>IQR")
    for m in names:
        pa = [r["metrics"][m]["value"] for r in par]
        ch = [r["metrics"][m]["value"] for r in chg]
        up = m in up_names
        wins = sum((c > p) if up else (c < p) for p, c in zip(pa, ch))
        p1, p2, p3 = quartiles(pa)
        c1, c2, c3 = quartiles(ch)
        ratio = c2 / p2 if p2 else float("nan")
        gap = abs(c2 - p2) > (p3 - p1)
        pq, cq = f"{p2:.4g} ({p1:.4g}-{p3:.4g})", f"{c2:.4g} ({c1:.4g}-{c3:.4g})"
        print(f"{m:34s} {pq:>30s} {cq:>30s} {ratio:7.3f} {wins:3d}/{n:<2d} "
              f"{'yes' if gap else 'no'}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--pairs", type=int)
    ap.add_argument("--work", help="scratch directory for the two checkouts")
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append every run's result here (JSON lines)")
    ap.add_argument("--report", help="only print the report of an --out file")
    a = ap.parse_args()
    if a.report:
        with open(a.report) as fh:
            rows = [json.loads(l) for l in fh if l.strip()]
        report([(r["pair"], r["side"], r["result"]) for r in rows])
        return
    missing = [n for n in ("parent", "change", "workload", "seed", "pairs", "work")
               if getattr(a, n) is None]
    if missing:
        ap.error("missing: " + ", ".join(missing))
    repo = git("rev-parse", "--show-toplevel")
    os.makedirs(a.work, exist_ok=True)
    sides = {"parent": checkout(repo, a.parent, "a", a.work),
             "change": checkout(repo, a.change, "b", a.work)}
    print(f"parent {sides['parent'][1][:12]}  change {sides['change'][1][:12]}  "
          f"workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}",
          flush=True)
    runs = []
    for i in range(a.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(sides[side][0], a)
            runs.append((i, side, res))
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"pair": i, "side": side,
                                         "rev": sides[side][1], "result": res}) + "\n")
            head = "op_gmean_s" if "op_gmean_s" in res["metrics"] else \
                next(iter(sorted(res["metrics"])))
            print(f"pair {i} {side:6s} {head}={res['metrics'][head]['value']:.4g} "
                  f"correct={res['correct']} failed={res['failed']}", flush=True)
    report(runs)


if __name__ == "__main__":
    main()
