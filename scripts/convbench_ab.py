#!/usr/bin/env python3
"""Interleaved parent/change A/B of one or more convbench workloads.

    python3 scripts/convbench_ab.py --parent REV --workload export,read \
        --seeds 201-210 [--seconds 10] [--trace 0|1] [--parent-dir DIR] \
        [--workdir DIR] [--json OUT]

Run from the repository root. Both arms run from fresh copies made in a
temporary directory (under --workdir when given) and removed afterwards:
the change arm is a copy of this checkout's working tree (tracked and
untracked files, uncommitted edits included, nothing git ignores — so
no `target/` and no `convbench/.runs/`); the parent arm is REV exported
with `git archive`, or a copy of the checkout named with --parent-dir,
made the same way as the change arm's. Naming this checkout as
--parent-dir runs one tree on both arms: an A/A run. For every seed and
every listed workload the two arms run `convbench/run.py` back to back,
the arm order alternating by seed (even seeds run the parent first), so
a drift in machine load lands on both arms alike. Each copy builds its
own engine on its first run.

For each workload, and each end-to-end metric of BENCHMARK.json, the
script prints both
arms' medians, the change in the median, the parent's IQR / median, the
pairs the change won, and whether the median moved by more than the
parent's IQR; with --trace 1 the runs are traced and the same columns
are given for each per-layer metric instead (a traced run reports no
end-to-end metric); then the same for the numeric latencies and rates of
run.py's `detail` line that the workload reports (erase, get and range
latencies have no end-to-end metric); then each arm's failed operations
and failed runs.
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

# numeric fields of the `detail` line tabulated next to the metrics
DETAIL = [{"name": n, "better": "higher" if n.endswith("_per_s") else "lower"}
          for n in ("append_p50_ms", "erase_p50_ms", "get_p50_ms",
                    "range_p50_ms", "scan_rows_per_s")]


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out.extend(range(int(lo), int(hi) + 1))
        else:
            out.append(int(part))
    return out


def copy_checkout(src, dst):
    """Copy the files of checkout `src` that git does not ignore."""
    listed = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=src, check=True, stdout=subprocess.PIPE).stdout.decode()
    for rel in filter(None, listed.split("\0")):
        path = os.path.join(src, rel)
        if os.path.isfile(path):  # a tracked file may be deleted in the tree
            os.makedirs(os.path.dirname(os.path.join(dst, rel)), exist_ok=True)
            shutil.copy2(path, os.path.join(dst, rel))


def export_rev(rev, dst):
    """Write the tree of revision `rev` into `dst`."""
    archive = subprocess.run(["git", "archive", rev], cwd=ROOT, check=True,
                             stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dst], input=archive, check=True)


def run_arm(root, workload, seed, seconds, trace):
    """One convbench run in checkout `root`: its result object, with the
    `detail` line's fields under "detail", or None."""
    cmd = [sys.executable, os.path.join("convbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None
    try:
        result = json.loads(lines[-1])
    except ValueError:
        return None
    result["detail"] = {}
    for ln in lines[:-1]:
        try:
            obj = json.loads(ln)
        except ValueError:
            continue
        if isinstance(obj, dict) and isinstance(obj.get("detail"), dict):
            result["detail"] = obj["detail"]
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def metric_value(run, name):
    m = run["metrics"].get(name)
    return m["value"] if m else None


def detail_value(run, name):
    v = run["detail"].get(name)
    return v if isinstance(v, (int, float)) and not isinstance(v, bool) else None


def table(metrics, results, value=metric_value):
    """Rows of the summary for the metrics both arms reported."""
    rows = []
    for m in metrics:
        pairs = [(value(p, m["name"]), value(c, m["name"]))
                 for p, c in results if p and c]
        pairs = [(a, b) for a, b in pairs if a is not None and b is not None]
        if not pairs:
            continue
        par = [p for p, _ in pairs]
        chg = [c for _, c in pairs]
        pm, cm = statistics.median(par), statistics.median(chg)
        q1, q3 = quartiles(par)
        lower = m["better"] == "lower"
        won = sum(1 for p, c in pairs if (c < p if lower else c > p))
        rows.append({
            "metric": m["name"], "parent": pm, "change": cm,
            "delta": (cm - pm) / pm if pm else 0.0,
            "parent_iqr_over_median": (q3 - q1) / pm if pm else 0.0,
            "won": won, "pairs": len(pairs), "bound": m.get("bound"),
            "beyond_parent_iqr": abs(cm - pm) > (q3 - q1)})
    return rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="parent revision, exported with git archive")
    ap.add_argument("--parent-dir", help="a checkout of the parent, copied")
    ap.add_argument("--workdir", help="where the two arms' copies are made")
    ap.add_argument("--workload", required=True,
                    help="comma-separated, of export, read and ingest")
    ap.add_argument("--seeds", required=True, help="e.g. 201-210 or 1,2,5")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: traced runs, tabulating the per-layer metrics")
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args()
    if bool(args.parent) == bool(args.parent_dir):
        ap.error("name exactly one of --parent and --parent-dir")
    workloads = args.workload.split(",")
    unknown = set(workloads) - {"export", "read", "ingest"}
    if unknown:
        ap.error(f"unknown workload(s): {', '.join(sorted(unknown))}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]

    if args.workdir:
        os.makedirs(args.workdir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="convbench-ab-", dir=args.workdir)
    arms_dir = {"parent": os.path.join(tmp, "parent"),
                "change": os.path.join(tmp, "change")}
    results = {w: [] for w in workloads}
    try:
        for d in arms_dir.values():
            os.mkdir(d)
        if args.parent:
            export_rev(args.parent, arms_dir["parent"])
        else:
            copy_checkout(os.path.abspath(args.parent_dir), arms_dir["parent"])
        copy_checkout(ROOT, arms_dir["change"])
        for seed in seeds_of(args.seeds):
            order = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
            for workload in workloads:
                arms = {}
                for arm in order:
                    arms[arm] = run_arm(arms_dir[arm], workload, seed,
                                        seconds, args.trace)
                    status = "crashed" if arms[arm] is None else \
                        f"correct={arms[arm]['correct']} failed={arms[arm]['failed']}"
                    print(f"seed {seed} {workload} {arm}: {status}",
                          file=sys.stderr, flush=True)
                results[workload].append((arms["parent"], arms["change"]))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    summaries = {}
    for workload, pairs in results.items():
        rows = table(bench["per_layer" if args.trace else "end_to_end"], pairs)
        detail_rows = table(DETAIL, pairs, detail_value)
        summaries[workload] = {
            "pairs": [{"parent": p, "change": c} for p, c in pairs],
            "summary": rows, "detail_summary": detail_rows}
        print(f"{workload}: {len(pairs)} pairs, seeds {args.seeds}, "
              f"{seconds} s per run{', traced' if args.trace else ''}")
        print(f"{'metric':38} {'parent':>12} {'change':>12} {'delta':>8} "
              f"{'p.IQR/med':>9} {'won':>6} {'bound':>6}  >IQR")
        for r in rows + detail_rows:
            bound = f"{r['bound']:6.2f}" if r["bound"] is not None else f"{'-':>6}"
            print(f"{r['metric']:38} {r['parent']:12.4g} {r['change']:12.4g} "
                  f"{r['delta']:+8.1%} {r['parent_iqr_over_median']:9.1%} "
                  f"{r['won']:>3}/{r['pairs']:<2} {bound}  "
                  f"{'yes' if r['beyond_parent_iqr'] else 'no'}")
        for i, arm in enumerate(("parent", "change")):
            runs = [pair[i] for pair in pairs]
            crashed = sum(1 for r in runs if r is None)
            wrong = sum(1 for r in runs if r is not None and not r["correct"])
            failed = sum(r["failed"] for r in runs if r is not None)
            attempted = sum(r["attempted"] for r in runs if r is not None)
            print(f"{arm}: failed {failed} of {attempted} operations, "
                  f"{wrong} incorrect runs, {crashed} crashed runs")
        print()
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"seeds": seeds_of(args.seeds), "trace": args.trace,
                       "workloads": summaries}, fh, indent=1)


if __name__ == "__main__":
    main()
