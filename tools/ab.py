#!/usr/bin/env python3
"""Paired A/B of the pipeline benchmark: a base commit against the working tree.

    python3 tools/ab.py --base REV [--pairs 10] [--seed 11] [--workdir DIR]
        [--out FILE]
    python3 tools/ab.py --base REV --probe SFDIR Q1,Q2,... [--pairs 10]
        [--workdir DIR] [--out FILE]

The base is exported with `git archive` into --workdir/base (a fresh
temporary directory by default; an existing base directory there is
replaced), so it builds from its own committed sources; the change is the
working tree of this checkout. For every workload of BENCHMARK.json, each
pair runs `perfbench/run.py` once per side with the same seed and the
benchmark's `run_seconds`, alternating which side runs first. Per workload
and end-to-end metric it prints both sides' median and quartiles (over the
pairs where both runs succeeded), the median of the per-pair ratios
change/base with a 95% bootstrap interval (pairs resampled with
replacement, fixed seed), the share of all pairs run that the change won
(a pair with a failed or incorrect run is not won; ties win for neither)
and a verdict:

- gain:       the change wins at least 9/10 of all pairs run, the medians
              differ in its favour by more than the base's interquartile
              range, and the change had no more failed operations than the
              base;
- worse:      the change's median is worse than the base's by more than
              the metric's bound in BENCHMARK.json;
- unresolved: otherwise, when either side's interquartile range is wider
              than the bound (relative to the base median), unless every
              run of the change reads better than every run of the base;
- no worse:   otherwise.

Failed operations (a run's failed iterations, or a whole run that failed
or checked incorrect) are counted per side and printed. --out writes every
run's metrics as JSON.

With --probe, a pair runs `graft.tools.Probe query SFDIR Q --times 3` for
each query, one JVM each, once per side instead, each side built from its
own sources by its own perfbench/build.py and launched with perfbench's JVM
flags (SPARK_GRAFT_CPUS defaults to the host's cpu count). A query's time
in a run is the median of its runs 2 and 3 (run 1 pays codegen and JIT
warm-up), in seconds, lower better; the same table and verdicts follow,
per query, with the 0.25 bound of the benchmark's `job_s` as every
query's bound. A side whose run of any query fails counts as one failed
operation for every query of that pair.
"""

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Writes the committed files of `rev` to `dest`, replacing it."""
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", "--format=tar", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(checkout, workload, seed, seconds):
    """One perfbench run; returns its result line, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def good(res):
    return res is not None and res["correct"] and res["failed"] == 0


def failed_ops(res):
    """A run's failed operations: its failed iterations, or 1 for a run
    that failed or checked incorrect as a whole."""
    if res is None:
        return 1
    return res["failed"] if res["correct"] else max(1, res["failed"])


def quantile(xs, q):
    """Linear-interpolated quantile of a non-empty list."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def ratio_interval(base, change, resamples=2000, seed=0):
    """The median of the per-pair ratios change/base and a 95% bootstrap
    interval of that median; None when no pair has a non-zero base."""
    ratios = [c / b for b, c in zip(base, change) if b]
    if not ratios:
        return None
    rng = random.Random(seed)
    medians = [quantile([rng.choice(ratios) for _ in ratios], 0.5)
               for _ in range(resamples)]
    return (quantile(ratios, 0.5), quantile(medians, 0.025),
            quantile(medians, 0.975))


def verdict(base, change, pairs_run, bound, lower_better, more_failed):
    """The verdict of one metric over the good pairs (base[i], change[i])
    out of `pairs_run` pairs."""
    sign = 1.0 if lower_better else -1.0
    wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
    mb, mc = quantile(base, 0.5), quantile(change, 0.5)
    iqr_b = quantile(base, 0.75) - quantile(base, 0.25)
    iqr_c = quantile(change, 0.75) - quantile(change, 0.25)
    scale = abs(mb) or 1.0
    if (wins * 10 >= 9 * pairs_run and sign * (mb - mc) > iqr_b
            and not more_failed):
        return "gain", wins
    if sign * (mc - mb) > bound * scale:
        return "worse", wins
    all_better = sign * (min(base) if lower_better else max(base)) > \
        sign * (max(change) if lower_better else min(change))
    if max(iqr_b, iqr_c) > bound * scale and not all_better:
        return "unresolved", wins
    return "no worse", wins


def at_least_ten(s):
    n = int(s)
    if n < 10:
        raise argparse.ArgumentTypeError("a verdict needs at least 10 pairs")
    return n


PROBE_TIMES = 3
PROBE_BOUND = 0.25


def probe_once(checkout, sf_dir, queries, tmp):
    """One `Probe query` JVM per query; returns a result in run_once's
    shape (one metric per query), or None if any failed."""
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import build
    import run
    b = subprocess.run([sys.executable, "perfbench/build.py"], cwd=checkout,
                       stdout=subprocess.PIPE, text=True)
    if b.returncode != 0:
        return None
    classes = b.stdout.strip().splitlines()[-1]
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    metrics = {}
    for q in queries:
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = (["java", f"-Xms{run.HEAP}", f"-Xmx{run.HEAP}",
                "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
                f"-Dspark.sql.codegen.cache.maxEntries={run.CODEGEN_CACHE}"]
               + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
                  "graft.tools.Probe", "query", sf_dir, q,
                  "--times", str(PROBE_TIMES)])
        p = subprocess.run(cmd, cwd=tmp, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True)
        shutil.rmtree(tmp, ignore_errors=True)
        # [probe] <query> run <i>: <seconds> s
        prefix = f"[probe] {q} run "
        runs = [(int(i), float(t.split()[0])) for i, _, t in
                (line[len(prefix):].partition(": ") for line in p.stdout.splitlines()
                 if line.startswith(prefix))]
        if p.returncode != 0 or len(runs) != PROBE_TIMES:
            sys.stderr.write(p.stderr[-2000:])
            return None
        metrics[q] = {"value": quantile([t for i, t in runs if i > 1], 0.5),
                      "unit": "s"}
    return {"correct": True, "failed": 0, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="base commit")
    ap.add_argument("--pairs", type=at_least_ten, default=10)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--probe", nargs=2, metavar=("SFDIR", "QUERIES"),
                    help="pair `Probe query` runs of these queries instead")
    ap.add_argument("--workdir", help="where the exported base goes")
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    a = ap.parse_args()

    work = a.workdir or tempfile.mkdtemp(prefix="ab-")
    os.makedirs(work, exist_ok=True)
    sides = {"base": export(a.base, os.path.join(work, "base")), "change": ROOT}
    if a.probe:
        sf_dir = os.path.abspath(a.probe[0])
        queries = [q for q in a.probe[1].split(",") if q]
        workloads = ["probe"]
        metrics = [{"name": q, "bound": PROBE_BOUND, "better": "lower"}
                   for q in queries]
        def once(side, _):
            return probe_once(sides[side], sf_dir, queries,
                              os.path.join(work, "tmp"))
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        workloads = [w["name"] for w in spec["workloads"]]
        metrics = spec["end_to_end"]
        def once(side, w):
            return run_once(sides[side], w, a.seed, spec["run_seconds"])

    runs = []
    for w in workloads:
        for i in range(a.pairs):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            pair = {}
            for side in order:
                res = once(side, w)
                pair[side] = res
                shown = ("FAILED" if res is None else
                         " ".join(f"{k}={v['value']:.3f}"
                                  for k, v in res["metrics"].items()))
                print(f"[ab] {w} pair {i + 1} {side}: {shown}", flush=True)
            runs.append({"workload": w, "pair": i + 1, "first": order[0], **pair})

    if a.out:
        with open(a.out, "w") as f:
            json.dump(runs, f, indent=1)

    width = max([17] + [len(m["name"]) for m in metrics])
    print(f"\n{'workload':8} {'metric':{width}} {'base median [q1, q3]':>28} "
          f"{'change median [q1, q3]':>28} {'ratio [95% CI]':>23} "
          f"{'won':>6}  verdict")
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w]
        ok = [r for r in mine if good(r["base"]) and good(r["change"])]
        failed = {s: sum(failed_ops(r[s]) for r in mine) for s in ("base", "change")}
        print(f"{w:8} failed operations: base {failed['base']}, "
              f"change {failed['change']}")
        if not ok:
            print(f"{w:8} no pair with two good runs")
            continue
        for m in metrics:
            b = [r["base"]["metrics"][m["name"]]["value"] for r in ok]
            c = [r["change"]["metrics"][m["name"]]["value"] for r in ok]
            v, wins = verdict(b, c, len(mine), m["bound"], m["better"] == "lower",
                              failed["change"] > failed["base"])

            def cell(xs):
                return (f"{quantile(xs, 0.5):.3f} [{quantile(xs, 0.25):.3f}, "
                        f"{quantile(xs, 0.75):.3f}]")
            r = ratio_interval(b, c)
            ratio = "n/a" if r is None else f"{r[0]:.3f} [{r[1]:.3f}, {r[2]:.3f}]"
            print(f"{w:8} {m['name']:{width}} {cell(b):>28} {cell(c):>28} "
                  f"{ratio:>23} {wins:>2}/{len(mine):<3}  {v}")
    if not a.workdir:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
