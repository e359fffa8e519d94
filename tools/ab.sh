#!/usr/bin/env bash
# A/B of the working tree against a git revision on one perfbench
# workload, in alternated pairs of runs.
#
#   tools/ab.sh <rev> perfbench:<workload> [pairs]
#
# <rev> and the working tree (HEAD plus every uncommitted change, the
# untracked files git does not ignore included) are checked out side
# by side under $AB_DIR (default ${TMPDIR:-/tmp}/graft-ab), each a plain
# `git clone`; no worktree is added to this repository. Build outputs
# there are kept between calls, so a side rebuilds only when its
# sources changed.
#
# Pair i (i = 1 .. pairs, default 6 pairs; the same seeds for every
# comparison) runs `perfbench/run.py --workload <workload> --seed <i>
# --seconds <run_seconds> --trace 0` once on each side, the revision
# first when i is odd, the working tree first when i is even.
# /proc/stat's steal time is read around each run and reported as a
# share of all CPU time in that interval.
#
# Stdout: one JSON object (every run; per end-to-end metric each side's
# median and quartiles, the ratio work / base of the medians, the pairs
# the working tree won, and a verdict), then a markdown table of the
# same for CHANGES.md. The JSON is also written to
# $AB_DIR/ab-<workload>.json, and each run's log to $AB_DIR/logs/.
#
# Verdict of a metric, with the revision as the parent: "worse" only
# if the working tree's median is worse than the parent's by more than
# the parent's interquartile range, "better" if it is better by more
# than that range, "flat" otherwise. "gain" is "better" with the
# working tree also winning at least nine tenths of the pairs.
# Exits 1 if any run failed or reported incorrect output.
set -euo pipefail

usage() {
  echo "usage: tools/ab.sh <rev> perfbench:<workload> [pairs (default 6)]" >&2
  exit 2
}
[ $# -ge 2 ] && [ $# -le 3 ] || usage
rev=$1
pairs=${3:-6}
case $2 in
  perfbench:?*) workload=${2#perfbench:} ;;
  *) usage ;;
esac
[[ $pairs =~ ^[1-9][0-9]*$ ]] || usage

repo=$(git -C "$(dirname "$0")/.." rev-parse --show-toplevel)
sha=$(git -C "$repo" rev-parse --verify --quiet "$rev^{commit}") || {
  echo "ab: unknown revision $rev" >&2; exit 2; }
head=$(git -C "$repo" rev-parse HEAD)
ab=${AB_DIR:-${TMPDIR:-/tmp}/graft-ab}
mkdir -p "$ab/logs"

# checkout <dir> <commit>: a clone of this repository at <commit>,
# tracked files reset, untracked ones removed, ignored ones kept
checkout() {
  local dir=$1 commit=$2
  if ! git -C "$dir" cat-file -e "$commit^{commit}" 2>/dev/null; then
    rm -rf "$dir"
    git clone --quiet --no-checkout "$repo" "$dir"
  fi
  git -C "$dir" checkout --quiet --force --detach "$commit"
  git -C "$dir" clean -fdq
}

echo "[ab] base: $rev ($sha) in $ab/base" >&2
checkout "$ab/base" "$sha"
echo "[ab] work: the working tree (HEAD $head and its changes) in $ab/work" >&2
checkout "$ab/work" "$head"
(cd "$repo" && git ls-files -z --cached --others --exclude-standard |
  tar --null --ignore-failed-read -T - -cf - 2>/dev/null) | tar -xf - -C "$ab/work"
# staged or not, every file deleted since HEAD
(cd "$repo" && git diff -z --name-only --diff-filter=D HEAD) |
  (cd "$ab/work" && xargs -0 -r rm -f --)

python3 -B - "$ab" "$workload" "$pairs" "$rev" "$sha" <<'PY'
import json, os, statistics, subprocess, sys

ab, workload, pairs, rev, sha = sys.argv[1:6]
pairs = int(pairs)
seeds = range(1, pairs + 1)
SIDES = ("base", "work")
with open(os.path.join(ab, "base", "BENCHMARK.json")) as f:
    bench = json.load(f)
seconds = str(bench.get("run_seconds", 5))
better = {m["name"]: m["better"] for m in bench["end_to_end"]}


def log(msg):
    print(f"[ab] {msg}", file=sys.stderr, flush=True)


def cpu():
    """(steal, total) jiffies of all CPUs so far."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v)


def build(side):
    """Builds a side before its first timed run."""
    log(f"building {side}")
    subprocess.run([sys.executable, "-B", "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); import run; run.build()"],
                   cwd=os.path.join(ab, side), stdin=subprocess.DEVNULL, check=True)


def run(side, seed):
    s0, t0 = cpu()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                       cwd=os.path.join(ab, side), stdin=subprocess.DEVNULL,
                       capture_output=True, text=True)
    s1, t1 = cpu()
    with open(os.path.join(ab, "logs", f"{workload}-{seed}-{side}.log"), "w") as f:
        f.write(p.stdout + p.stderr)
    res = None
    lines = p.stdout.strip().splitlines()
    if p.returncode == 0 and lines:
        try:
            res = json.loads(lines[-1])
        except ValueError:
            pass
    r = {"side": side, "seed": seed, "steal": round((s1 - s0) / max(t1 - t0, 1), 4),
         "correct": bool(res and res["correct"]), "failed": res["failed"] if res else None,
         "metrics": {k: v["value"] for k, v in res["metrics"].items()} if res else {}}
    log(f"seed {seed} {side}: correct {r['correct']} failed {r['failed']} steal {r['steal']} "
        + " ".join(f"{k} {v:.4g}" for k, v in r["metrics"].items()))
    return r


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return {"median": q2, "q1": q1, "q3": q3}


for side in SIDES:
    build(side)
runs = []
for i, seed in enumerate(seeds):
    order = SIDES if i % 2 == 0 else SIDES[::-1]
    runs += [run(side, seed) for side in order]

by = {(r["side"], r["seed"]): r for r in runs}
good = [s for s in seeds
        if all(by[(side, s)]["correct"] for side in SIDES)]
metrics = {}
for name, way in better.items():
    vals = {side: [by[(side, s)]["metrics"][name] for s in good] for side in SIDES}
    if not good or any(v is None for side in SIDES for v in vals[side]):
        continue
    base, work = quartiles(vals["base"]), quartiles(vals["work"])
    sign = 1 if way == "lower" else -1
    wins = sum(sign * (b - w) > 0 for b, w in zip(vals["base"], vals["work"]))
    gap = sign * (base["median"] - work["median"])  # > 0: the working tree is better
    iqr = base["q3"] - base["q1"]
    verdict = "better" if gap > iqr else "worse" if -gap > iqr else "flat"
    metrics[name] = {
        "better": way, "base": {**base, "values": vals["base"]},
        "work": {**work, "values": vals["work"]},
        "ratio": work["median"] / base["median"] if base["median"] else None,
        "wins": wins, "pairs": len(good), "verdict": verdict,
        "gain": verdict == "better" and wins >= 0.9 * len(good)}

out = {"rev": rev, "sha": sha, "workload": workload, "pairs": pairs,
       "correct_pairs": len(good), "seconds": float(seconds), "runs": runs,
       "metrics": metrics}
with open(os.path.join(ab, f"ab-{workload}.json"), "w") as f:
    json.dump(out, f, indent=1)
print(json.dumps(out))


def fmt(v):
    return f"{v:,.0f}" if abs(v) >= 1000 else f"{v:.3f}" if abs(v) >= 1 else f"{v:.4g}"


names = list(metrics)
print()
print(f"| {workload} seed | " + " | ".join(names) + " | steal |")
print("|---" * (len(names) + 2) + "|")
for s in seeds:
    b, w = by[("base", s)], by[("work", s)]
    cells = [f"{fmt(b['metrics'][n])} / {fmt(w['metrics'][n])}"
             if n in b["metrics"] and n in w["metrics"] else "failed" for n in names]
    print(f"| {s} | " + " | ".join(cells) + f" | {b['steal']:.1%} / {w['steal']:.1%} |")
print()
print(f"| {workload} metric | base median (q1–q3) | work median (q1–q3) | ratio | wins | verdict |")
print("|---|---|---|---|---|---|")
for n, m in metrics.items():
    b, w = m["base"], m["work"]
    ratio = f"{m['ratio']:.3f}" if m["ratio"] is not None else "-"
    print(f"| {n} | {fmt(b['median'])} ({fmt(b['q1'])}–{fmt(b['q3'])}) | "
          f"{fmt(w['median'])} ({fmt(w['q1'])}–{fmt(w['q3'])}) | {ratio} | "
          f"{m['wins']} of {m['pairs']} | {m['verdict']}{' (gain)' if m['gain'] else ''} |")
sys.exit(0 if len(good) == pairs else 1)
PY
