#!/usr/bin/env python3
"""Run alternating parent/change benchmark pairs and compare them.

    python3 tools/ab_pairs.py --workload serve_mixed --seeds 5-14 \
        [--base HEAD] [--seconds 12] [--trace 0|1] [--work DIR]

Run from the repository root. Exports two clean copies with `git
archive` into --work: `<base>` (default HEAD) as `base/`, and the
working tree (tracked and untracked, .gitignore honoured) as
`change/`. For every seed it runs `syncbench/run.py` once in each copy
with identical arguments; even seeds run the base first, odd seeds
the change, so drift of the host over the run falls on both
sides. Each copy builds itself on its first run; a later call over
the same trees and --work reuses the copies and their builds.

A pair is reported only when both runs exited 0 and read correct with
0 failed operations; any other pair is refused with its reason and
makes the exit status 1. Nothing under syncbench/ is changed.

Prints each pair's values, then per metric: each side's median and
quartiles, the base's quartile spread, the change's wins (ties count
for neither side) and whether the gain rule holds (wins in at least
nine tenths of the pairs, medians apart by more than the base's
quartile spread). Metrics and their better direction come from
BENCHMARK.json: the end-to-end set for --trace 0, the per-layer set
for --trace 1. Each run also reports the host's CPU steal over it
(the share of all CPU time `/proc/stat` counts as stolen), since a
noisy neighbour moves wall-time metrics on both sides.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args, env=None):
    return subprocess.run(["git", *args], cwd=ROOT, env=env, check=True,
                          stdout=subprocess.PIPE, text=True).stdout


def export(tree, dest):
    """`git archive` of a tree into a fresh directory. A copy of the
    same tree is kept, with its benchmark build."""
    stamp = os.path.join(dest, ".ab_tree")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == tree:
                return
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.Popen(["git", "archive", tree], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout,
                   check=True)
    if archive.wait() != 0:
        sys.exit(f"ab_pairs: git archive {tree} failed")
    with open(stamp, "w") as fh:
        fh.write(tree + "\n")


def working_tree():
    """A tree object of the working tree, written through a throwaway
    index so the repository's own index is left alone."""
    with tempfile.TemporaryDirectory() as d:
        env = dict(os.environ, GIT_INDEX_FILE=os.path.join(d, "index"))
        git("read-tree", "HEAD", env=env)
        git("add", "-A", env=env)
        return git("write-tree", env=env).strip()


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def cpu_times():
    """(steal, total) CPU jiffies of the host from /proc/stat, or None
    where it cannot be read."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None
    return (f[7] if len(f) > 7 else 0), sum(f)


def steal_share(t0, t1):
    if t0 is None or t1 is None or t1[1] <= t0[1]:
        return float("nan")
    return (t1[0] - t0[0]) / (t1[1] - t0[1])


def run(copy, a, seed):
    """One benchmark run; returns (metrics, None) or (None, reason). The
    metrics carry the host's steal share over the run as `_steal`."""
    cmd = [sys.executable, "syncbench/run.py", "--workload", a.workload,
           "--seed", str(seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace)]
    t0 = cpu_times()
    p = subprocess.run(cmd, cwd=copy, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    steal = steal_share(t0, cpu_times())
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        tail = p.stderr.strip().splitlines()[-3:]
        return None, f"exit {p.returncode}: {' | '.join(tail)}"
    try:
        r = json.loads(lines[-1])
    except json.JSONDecodeError:
        return None, f"no result line: {lines[-1][:200]}"
    if r.get("correct") is not True or r.get("failed", 1) != 0:
        return None, (f"incorrect: correct={r.get('correct')} "
                      f"failed={r.get('failed')}/{r.get('attempted')}")
    m = {k: v["value"] for k, v in r["metrics"].items()}
    m["_steal"] = steal
    return m, None


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 5-14 or 1,3,7")
    ap.add_argument("--base", default="HEAD")
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--work", default=os.path.join(ROOT, ".ab_pairs"))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    gated = bench["per_layer" if a.trace else "end_to_end"]
    lower = {m["name"]: m["better"] == "lower" for m in gated}

    sides = {"base": os.path.join(a.work, "base"),
             "change": os.path.join(a.work, "change")}
    export(git("rev-parse", a.base + "^{tree}").strip(), sides["base"])
    export(working_tree(), sides["change"])

    pairs, refused = [], []
    for seed in seeds_of(a.seeds):
        order = ["base", "change"] if seed % 2 == 0 else ["change", "base"]
        got, why = {}, []
        for side in order:
            m, err = run(sides[side], a, seed)
            if err:
                why.append(f"{side} {err}")
            got[side] = m
        if why:
            refused.append((seed, "; ".join(why)))
            print(f"seed {seed}: REFUSED ({'; '.join(why)})", flush=True)
            continue
        pairs.append((seed, got["base"], got["change"]))
        print(f"seed {seed} ({order[0]} first): " + ", ".join(
            f"{k} {got['base'][k]:.4g}->{got['change'][k]:.4g}"
            for k in lower if k in got["base"]) +
            f"; steal {100 * got['base']['_steal']:.1f}%->"
            f"{100 * got['change']['_steal']:.1f}%", flush=True)

    if not pairs:
        sys.exit("ab_pairs: no valid pair")
    n = len(pairs)
    print(f"\n{a.workload}, {n} pairs, seeds "
          f"{','.join(str(s) for s, _, _ in pairs)}")
    print(f"{'metric':32} {'base median [q1-q3]':>28} "
          f"{'change median [q1-q3]':>28} {'spread':>7} {'wins':>6} gain")
    for k, lo in lower.items():
        if k not in pairs[0][1]:
            continue
        b = [p[1][k] for p in pairs]
        c = [p[2][k] for p in pairs]
        bm, cm = statistics.median(b), statistics.median(c)
        b1, b3 = quartiles(b)
        c1, c3 = quartiles(c)
        wins = sum((y < x) if lo else (y > x) for x, y in zip(b, c))
        gain = (wins * 10 >= 9 * n and
                ((bm - cm) if lo else (cm - bm)) > b3 - b1)
        rel = (b3 - b1) / bm if bm else float("nan")
        print(f"{k:32} {bm:>10.4g} [{b1:.4g}-{b3:.4g}]".ljust(62) +
              f"{cm:>10.4g} [{c1:.4g}-{c3:.4g}]".ljust(29) +
              f"{rel:>7.3f} {wins:>3}/{n:<2} {'yes' if gain else 'no'}")
    for i, side in ((1, "base"), (2, "change")):
        st = [100 * p[i]["_steal"] for p in pairs]
        print(f"host steal over {side} runs: median {statistics.median(st):.1f}%,"
              f" max {max(st):.1f}%")
    for seed, why in refused:
        print(f"refused seed {seed}: {why}")
    sys.exit(1 if refused else 0)


if __name__ == "__main__":
    main()
