#!/usr/bin/env python3
"""Interleaved A/B of one lakebench workload between two checkouts.

    python3 tools/lakebench_ab.py --parent <dir> --change <dir> \
        --workload <elt_incremental|corpus_curation> --seeds <a-b> [--out f]
    python3 tools/lakebench_ab.py --self-test

Each seed runs `lakebench/run.py --trace 0` once in each checkout, for the
`run_seconds` of the change's BENCHMARK.json; which side goes first alternates
from seed to seed. Each checkout builds its own
`lakebench/.build/`, so make the copies with `git archive`, never by copying a
built checkout (sbt keeps absolute paths under `target/`).

For every end-to-end metric of the change's BENCHMARK.json it prints both
sides' medians and quartiles, how many pairs the change won (ties count for
neither side) and a verdict:

  improved    the change won at least 9/10 of the pairs, its median is
              better by more than the parent's interquartile range, and its
              share of failed operations is no higher than the parent's
  worse       the change's median is worse by more than the metric's bound
  unresolved  the parent's interquartile range exceeds the bound and the
              change's runs do not all beat the parent's, or the change
              would count as improved but fails a larger share of operations
  flat        otherwise

It also prints each side's share of failed operations.
"""

import argparse
import json
import os
import subprocess
import sys


def quantile(xs, q):
    """Linearly interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def summary(xs):
    return quantile(xs, 0.25), quantile(xs, 0.5), quantile(xs, 0.75)


def verdict(parent, change, better, bound, failed=(0.0, 0.0)):
    """(verdict, wins) for paired runs of one metric; `better` is 'lower' or
    'higher', `bound` the relative bound of BENCHMARK.json and `failed` the
    (parent, change) shares of failed operations."""
    sign = 1.0 if better == "lower" else -1.0

    def gain(p, c):  # > 0 when c is better than p
        return sign * (p - c)

    wins = sum(1 for p, c in zip(parent, change) if gain(p, c) > 0)
    p_q1, p_med, p_q3 = summary(parent)
    c_med = quantile(change, 0.5)
    iqr = p_q3 - p_q1
    scale = abs(p_med) if p_med else 1.0
    if wins >= 0.9 * len(parent) and gain(p_med, c_med) > iqr:
        # a gain does not count when the change fails more operations
        return ("improved" if failed[1] <= failed[0] else "unresolved"), wins
    if -gain(p_med, c_med) / scale > bound:
        return "worse", wins
    all_beat = all(gain(p, c) > 0 for p in parent for c in change)
    if iqr / scale > bound and not all_beat:
        return "unresolved", wins
    return "flat", wins


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "lakebench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def parse_seeds(text):
    a, _, b = text.partition("-")
    return list(range(int(a), int(b or a) + 1))


def failed_share(docs):
    attempted = sum(r["attempted"] for r in docs)
    failed = sum(r["failed"] for r in docs)
    return failed, attempted, (failed / attempted if attempted else 0.0)


def report(metrics, runs):
    """Print the comparison of `runs` ({'parent': [...], 'change': [...]},
    result documents in seed order) over the BENCHMARK.json metric list."""
    n = len(runs["parent"])
    shares = tuple(failed_share(runs[side])[2] for side in ("parent", "change"))
    print(f"{'metric':28} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34}"
          f" {'wins':>6}  verdict")
    for m in metrics:
        name = m["name"]
        p = [r["metrics"][name]["value"] for r in runs["parent"]]
        c = [r["metrics"][name]["value"] for r in runs["change"]]
        v, wins = verdict(p, c, m["better"], m["bound"], shares)
        pq, cq = summary(p), summary(c)
        print(f"{name:28} {pq[1]:12.4f} [{pq[0]:9.4f}, {pq[2]:9.4f}]"
              f" {cq[1]:12.4f} [{cq[0]:9.4f}, {cq[2]:9.4f}] {wins:3d}/{n:<2d}  {v}")
    for side in ("parent", "change"):
        failed, attempted, share = failed_share(runs[side])
        wrong = sum(1 for r in runs[side] if not r["correct"])
        print(f"{side}: failed operations {failed}/{attempted} ({share:.3f}), "
              f"incorrect runs {wrong}/{len(runs[side])}")
    if n < 10:
        print(f"note: {n} pairs; a gain needs at least 10")


def self_test():
    cases = [
        # lower is better: the change wins 10/10, gap 1.0 > parent IQR
        (([6.1, 6.2, 6.15, 6.12, 6.18, 6.11, 6.16, 6.14, 6.13, 6.17],
          [5.2, 5.21, 5.19, 5.2, 5.22, 5.18, 5.2, 5.21, 5.2, 5.19], "lower", 0.1),
         ("improved", 10)),
        # higher is better, 9/10 wins, gap beyond the IQR
        (([100, 101, 99, 100, 102, 98, 100, 101, 99, 100],
          [110, 111, 109, 112, 95, 110, 111, 109, 110, 112], "higher", 0.25),
         ("improved", 9)),
        # 7/10 wins is not a gain; the gap is small and the spread tight
        (([10.0, 10.1, 9.9, 10.0, 10.2, 9.8, 10.0, 10.1, 9.9, 10.0],
          [9.9, 10.0, 9.8, 9.9, 10.1, 9.9, 9.9, 10.2, 10.0, 9.9], "lower", 0.25),
         ("flat", 7)),
        # the change's median is 40% worse, beyond a 25% bound
        (([1.0, 1.1, 0.9, 1.0, 1.05], [1.4, 1.5, 1.3, 1.4, 1.45], "lower", 0.25),
         ("worse", 0)),
        # higher is better, the change's median 30% lower
        (([100, 100, 100], [70, 70, 70], "higher", 0.25), ("worse", 0)),
        # the parent's own IQR (0.4 around 1.0) exceeds the 0.25 bound
        (([0.6, 1.0, 1.4, 0.8, 1.2], [0.9, 1.1, 0.7, 1.3, 1.0], "lower", 0.25),
         ("unresolved", 2)),
        # same spread, but every change run beats every parent run
        (([1.6, 2.0, 2.4, 1.8, 2.2], [1.0, 1.1, 1.2, 1.3, 1.4], "lower", 0.25),
         ("improved", 5)),
        # the parent spreads wider than the bound and than the gap, but every
        # change run beats every parent run: flat, not unresolved
        (([1.0, 1.05, 2.0, 2.95, 3.0], [0.9, 0.9, 0.9, 0.9, 0.9], "lower", 0.25),
         ("flat", 5)),
        # identical runs: ties count for neither side
        (([3.0, 3.0, 3.0], [3.0, 3.0, 3.0], "lower", 0.1), ("flat", 0)),
        # a 10/10 gain, but the change fails a larger share of operations
        (([6.1, 6.2, 6.15, 6.12, 6.18, 6.11, 6.16, 6.14, 6.13, 6.17],
          [5.2, 5.21, 5.19, 5.2, 5.22, 5.18, 5.2, 5.21, 5.2, 5.19], "lower", 0.1,
          (0.0, 0.01)), ("unresolved", 10)),
        # the same gain with fewer failures than the parent still counts
        (([6.1, 6.2, 6.15, 6.12, 6.18, 6.11, 6.16, 6.14, 6.13, 6.17],
          [5.2, 5.21, 5.19, 5.2, 5.22, 5.18, 5.2, 5.21, 5.2, 5.19], "lower", 0.1,
          (0.02, 0.01)), ("improved", 10)),
    ]
    for args, want in cases:
        got = verdict(*args)
        assert got == want, f"verdict{args} = {got}, want {want}"
    assert summary([1, 2, 3, 4, 5]) == (2, 3, 4)
    assert parse_seeds("301-303") == [301, 302, 303] and parse_seeds("7") == [7]
    runs = {side: [{"correct": True, "attempted": 2, "failed": 0,
                    "metrics": {"x": {"value": v}}} for v in vals]
            for side, vals in (("parent", [2.0, 2.1]), ("change", [1.0, 1.1]))}
    report([{"name": "x", "better": "lower", "bound": 0.1}], runs)
    print(f"self-test: {len(cases)} verdict cases pass")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="inclusive range, e.g. 301-310")
    ap.add_argument("--out", help="also write every run's result document here")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args()
    if args.self_test:
        self_test()
        return
    if not (args.parent and args.change and args.workload and args.seeds):
        ap.error("--parent, --change, --workload and --seeds are required")
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]
    runs = {"parent": [], "change": []}
    for i, seed in enumerate(parse_seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            doc = run_once(getattr(args, side), args.workload, seed, seconds)
            runs[side].append(doc)
            values = " ".join(f"{m['name']}={doc['metrics'][m['name']]['value']:.4g}"
                              for m in metrics)
            print(f"[ab] seed {seed} {side}: {values}", flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "seeds": args.seeds, "runs": runs}, fh)
    report(metrics, runs)


if __name__ == "__main__":
    main()
