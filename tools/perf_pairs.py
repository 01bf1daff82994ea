#!/usr/bin/env python3
"""Same-window A/B of the repository benchmark: parent revision vs this checkout.

    python3 tools/perf_pairs.py --parent HEAD~1 --workload warehouse_reads --pairs 5

Exports the parent revision with `git archive` into a fresh temporary
directory, removed at the end, so its build starts from a clean tree: no
`target/`, `.bench_build/` or `.bench_work/` is shared with, or copied
from, this checkout (a copied `target/` can have its classes deleted by
the copy's own incremental build). Each run lasts BENCHMARK.json's
`run_seconds`. Then it runs untraced `perfbench/run.py` on the parent and on this
checkout's working tree, alternately, one seed per pair (`--seed0`,
`--seed0 + 1`, ...), and swaps which side goes first every pair so host
drift lands on both. Each side builds itself on its first run.

Prints one line per pair with every end-to-end metric of BENCHMARK.json
(parent, change, change/parent), then per metric the parent's and the
change's median and quartiles and the number of pairs in which the change
was better, and finally the same summary as one JSON line. With `--save`,
each run's `.bench_work/<workload>/ops.tsv` (per-operation latencies, where
the workload writes one) is kept as `<side>_seed<seed>_ops.tsv`, and each
side's per-kind median latency is printed from its saved op logs, pooled
over its runs, without each run's first cycle of ten (the warm-up).
"""
import argparse
import json
import shutil
import statistics
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def export(rev, dest):
    """Writes the tree of `rev` into the empty directory `dest`."""
    archive = subprocess.Popen(["git", "-C", str(ROOT), "archive", "--format=tar", rev],
                               stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", str(dest)], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        sys.exit(f"perf_pairs: git archive {rev} failed")


def run(checkout, workload, seed, seconds, save=None):
    """One untraced benchmark run; returns its result dict, or None.
    Copies the run's op log to `save` when both exist."""
    if save is not None:
        save.unlink(missing_ok=True)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        print(f"  run failed in {checkout} (seed {seed}, exit {p.returncode}): "
              f"{p.stderr.strip().splitlines()[-1:]}", file=sys.stderr)
        return None
    ops = checkout / ".bench_work" / workload / "ops.tsv"
    if save is not None and ops.is_file():
        shutil.copy(ops, save)
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"),) * 2
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


WARMUP_OPS = 10


def kind_medians(paths):
    """Median latency (ms) and op count per operation kind over the op logs
    in `paths` (`kind<TAB>key<TAB>ms` lines), skipping each log's first
    WARMUP_OPS lines."""
    by_kind = {}
    for path in paths:
        for line in path.read_text().splitlines()[WARMUP_OPS:]:
            kind, _, ms = line.split("\t")
            by_kind.setdefault(kind, []).append(float(ms))
    return {k: (statistics.median(v), len(v)) for k, v in by_kind.items()}


def print_kind_medians(saved):
    """One line per operation kind: each side's median latency and the ratio."""
    meds = {side: kind_medians(paths) for side, paths in saved.items()}
    order = ["lookup", "history", "tree", "rollup"]
    kinds = order + sorted(set().union(*meds.values()) - set(order))
    for k in kinds:
        if k not in meds["parent"] or k not in meds["change"]:
            continue
        (p, pn), (c, cn) = meds["parent"][k], meds["change"][k]
        print(f"{k} ms p50 after warm-up: parent {p:.4g} (n={pn}), change {c:.4g} (n={cn}), "
              f"{c / p:.3f}x")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--save", type=Path, default=None, help="directory to keep each run's ops.tsv in")
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    metrics = spec["end_to_end"]
    seconds = spec["run_seconds"]
    dest = Path(tempfile.mkdtemp(prefix="perf_pairs_"))
    export(a.parent, dest)
    sides = {"parent": dest, "change": ROOT}
    vals = {side: {m["name"]: [] for m in metrics} for side in sides}
    wrong = {side: 0 for side in sides}
    saved = {side: [] for side in sides}
    if a.save:
        a.save.mkdir(parents=True, exist_ok=True)
    try:
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            res = {side: run(sides[side], a.workload, seed, seconds,
                             a.save / f"{side}_seed{seed}_ops.tsv" if a.save else None)
                   for side in order}
            if a.save:
                for side in order:
                    log = a.save / f"{side}_seed{seed}_ops.tsv"
                    if res[side] is not None and log.is_file():
                        saved[side].append(log)
            if any(r is None for r in res.values()):
                print(f"pair {i + 1} seed {seed}: dropped, a run failed")
                continue
            cells = []
            for m in metrics:
                n = m["name"]
                p, c = (res[s]["metrics"][n]["value"] for s in ("parent", "change"))
                vals["parent"][n].append(p)
                vals["change"][n].append(c)
                cells.append(f"{n} {p:.4g} -> {c:.4g} ({c / p:.3f}x)" if p else f"{n} {p:.4g} -> {c:.4g}")
            for s in sides:
                wrong[s] += not res[s]["correct"]
            print(f"pair {i + 1} seed {seed} ({order[0]} first): " + "; ".join(cells), flush=True)
    finally:
        shutil.rmtree(dest, ignore_errors=True)

    summary = {"workload": a.workload, "parent": a.parent, "pairs": len(vals["parent"][metrics[0]["name"]]),
               "incorrect_runs": wrong, "metrics": {}}
    for m in metrics:
        n, p, c = m["name"], vals["parent"][m["name"]], vals["change"][m["name"]]
        if not p:
            continue
        higher = m["better"] == "higher"
        better = sum((y > x) if higher else (y < x) for x, y in zip(p, c))
        pm, cm = statistics.median(p), statistics.median(c)
        summary["metrics"][n] = {"parent_median": pm, "parent_quartiles": quartiles(p),
                                 "change_median": cm, "change_quartiles": quartiles(c),
                                 "ratio": cm / pm if pm else None, "change_better_pairs": better}
        pq, cq = quartiles(p), quartiles(c)
        print(f"{n} [{m['unit']}, {m['better']} is better]: parent median {pm:.4g} "
              f"(q1-q3 {pq[0]:.4g}-{pq[1]:.4g}), change median {cm:.4g} "
              f"(q1-q3 {cq[0]:.4g}-{cq[1]:.4g}), change better in {better}/{len(p)} pairs")
    if a.save:
        print_kind_medians(saved)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
