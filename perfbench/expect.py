#!/usr/bin/env python3
"""Regenerate perfbench/expected/query_mix.tsv, the row counts and
digests query-mix compares each query against.

Usage, from the root of a graft checkout:

    python3 perfbench/expect.py <work dir>

It generates query-mix's tables, runs every eligible query twice (in
two JVMs), checks each result against DuckDB with tools/check.py, and
keeps a query's digest only when it passed the oracle (or is rows-only
by design) and both runs agree on it. A query whose digest differs
between the runs keeps its row count only ("-").
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def dump(cp, out):
    cmd = (["java", "-Xmx4g"]
           + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--mode", "expect", "--root", out])
    os.makedirs(out)
    subprocess.run(cmd, check=True, cwd=out, stderr=subprocess.DEVNULL)
    rows = {}
    with open(os.path.join(out, "digests.tsv")) as fh:
        header = fh.readline().rstrip("\n")
        for line in fh:
            q, n, d = line.rstrip("\n").split("\t")
            rows[q] = (n, d)
    return header, rows


def main():
    work = os.path.abspath(sys.argv[1])
    cp = run.ensure_build()
    a, b = os.path.join(work, "a"), os.path.join(work, "b")
    header, first = dump(cp, a)
    _, second = dump(cp, b)
    chk = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
         os.path.join(a, "data"), os.path.join(a, "results")],
        stdout=subprocess.PIPE, text=True)
    passed = set()
    for line in chk.stdout.splitlines():
        print(line)
        if line.startswith("OK"):
            passed.add(line.split()[1].rstrip(":"))
    out = [header]
    for q in sorted(first):
        if q not in passed:
            print(f"dropped {q}: failed the oracle")
            continue
        n, d = first[q]
        if second.get(q) != (n, d):
            print(f"{q}: digest differs between runs, keeping rows only")
            d = "-"
        out.append(f"{q}\t{n}\t{d}")
    path = os.path.join(run.HERE, "expected", "query_mix.tsv")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write("\n".join(out) + "\n")
    print(f"wrote {len(out) - 1} queries to {path}")


if __name__ == "__main__":
    main()
