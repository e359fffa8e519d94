#!/usr/bin/env python3
"""The repository's benchmark: full-result batch time of the tweet
pipeline and of a list of registry queries, with a traced per-layer run.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run:
  1. builds the engine and the benchmark program from the checkout's
     sources (``sbt`` in ``perfbench/``, which depends on the engine
     build in the parent directory), once per source state;
  2. generates the workload's input from ``--seed`` (``gen.py``);
  3. runs ``perfbench.Main`` in one JVM on
     ``local[<cores>]``: set-up, a cold batch, then warm batches for
     ``--seconds``; with ``--trace 1`` also traced batches and each
     layer timed on its own;
  4. checks every output against its DuckDB oracle
     (``SparkEntry.oracleSql``) with ``tools/check_oracles.py``'s rules:
     schema, column types, row count and a type-sensitive value hash;
  5. prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
     end-to-end metrics (``--trace 0``) or per-layer metrics
     (``--trace 1``) listed in ``BENCHMARK.json``.

Everything it writes goes under ``.bench_build/`` in the checkout.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
# Set-ups per run; the median is reported as setup_s.
SETUPS = 5

sys.path.insert(0, HERE)
# leave no bytecode caches in the checkout
sys.dont_write_bytecode = True


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Hash of every file the build reads, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    pats = ["build.sbt", "project/*.properties", "project/*.sbt",
            "src/main/**/*", "perfbench/build.sbt", "perfbench/project/*.properties",
            "perfbench/src/**/*"]
    files = sorted({f for p in pats for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                    if os.path.isfile(f)})
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the engine and perfbench.Main with sbt; returns the runtime
    classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and perfbench.Main with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("sbt build failed")
    cp = [ln for ln in p.stdout.splitlines()
          if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if not cp:
        die("sbt printed no classpath")
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


def make_inputs(name, spec, seed):
    """Generates the workload's tables for `seed` (reused if present) and
    returns (data dirs, one per set-up, input rows)."""
    import gen
    with open(gen.__file__, "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()
    key = hashlib.sha256(json.dumps([name, spec, seed, code], sort_keys=True).encode()).hexdigest()[:16]
    base = os.path.join(BUILD, "data", key)
    done = os.path.join(base, "rows")
    if not os.path.exists(done):
        # keep one generated input at a time
        shutil.rmtree(os.path.join(BUILD, "data"), ignore_errors=True)
        d0 = os.path.join(base, "setup0")
        if spec["kind"] == "tweets":
            rows = gen.tweets(seed, spec, d0)
        else:
            rows = gen.registry(seed, d0)
        # each set-up gets its own copy (hard links), so per-directory
        # fixture staging runs on every set-up instead of once per JVM
        for i in range(1, SETUPS):
            di = os.path.join(base, f"setup{i}")
            os.makedirs(di)
            for f in os.listdir(d0):
                try:
                    os.link(os.path.join(d0, f), os.path.join(di, f))
                except OSError:
                    shutil.copy(os.path.join(d0, f), os.path.join(di, f))
        with open(done, "w") as f:
            f.write(str(rows))
    with open(done) as f:
        rows = int(f.read())
    dirs = sorted(glob.glob(os.path.join(base, "setup*")))
    return dirs, rows


def run_jvm(classpath, args, scratch):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd = [java] + opens + [
        "-Xmx3g", "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=100",
        # no hsperfdata file outside the checkout
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={scratch}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH_DIR=scratch, SPARK_LOCAL_DIRS=scratch)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S - 20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("perfbench.Main timed out")


def check_outputs(check_dir, data_dir):
    """Compares each dumped output with its DuckDB oracle; returns
    (checked, mismatched, output rows)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import duckdb
    from check_oracles import TABLES, table_hash

    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.sql("PRAGMA threads=%d" % cores())
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad, rows = 0, 0
    for name in sorted(oracle):
        try:
            files = sorted(glob.glob(os.path.join(check_dir, name, "*.parquet")))
            res = con.sql(f"SELECT * FROM read_parquet({files!r})")
            scols, stypes, srows = list(res.columns), [str(t) for t in res.types], res.fetchall()
            ores = con.sql(oracle[name])
            ocols, otypes, orows = list(ores.columns), [str(t) for t in ores.types], ores.fetchall()
        except Exception as e:  # an unreadable dump or a failing oracle is a mismatch
            log(f"check FAIL {name}: {e}")
            bad += 1
            continue
        ok = (sorted(scols) == sorted(ocols)
              and sorted(zip(scols, stypes)) == sorted(zip(ocols, otypes))
              and len(srows) == len(orows)
              and table_hash(scols, srows) == table_hash(ocols, orows))
        rows += len(srows)
        log(f"check {'ok  ' if ok else 'FAIL'} {name} ({len(srows)} rows)")
        bad += 0 if ok else 1
    return len(oracle), bad, rows


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(bench_file) and os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("not the root of an engine checkout (BENCHMARK.json, build.sbt, src/main/scala)")
    with open(bench_file) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        specs = json.load(f)["workloads"]
    if a.workload not in specs:
        die(f"unknown workload {a.workload}; known: {', '.join(sorted(specs))}")
    spec = specs[a.workload]

    classpath = build()
    t0 = time.time()
    dirs, rows = make_inputs(a.workload, spec, a.seed)
    log(f"input: {rows} rows in {time.time() - t0:.1f} s")

    out = os.path.join(BUILD, "out", a.workload)
    scratch = os.path.join(BUILD, "scratch")
    for d in (out, scratch):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    args = [f"kind={spec['kind']}", f"data={','.join(dirs)}", f"out={out}",
            f"seconds={a.seconds}", f"trace={a.trace}", f"cores={cores()}",
            f"rows={rows}"]
    if spec["kind"] == "registry":
        args.append("queries=" + ",".join(shuffled(spec["queries"], a.seed)))
    code = run_jvm(classpath, args, scratch)
    shutil.rmtree(scratch, ignore_errors=True)
    result_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_file):
        die(f"perfbench.Main exited with {code}")
    with open(result_file) as f:
        res = json.load(f)

    expected = 4 if spec["kind"] == "tweets" else len(spec["queries"])
    checked, bad, out_rows = check_outputs(os.path.join(out, "check"), dirs[-1])
    attempted = res["attempted"] + checked
    failed = res["failed"] + bad + max(expected - checked, 0)
    res["per_layer"]["funnel.output_rows"] = out_rows
    res["end_to_end"]["failed_frac"] = failed / attempted

    # human-readable figures first; the last line is the result
    for section in ("end_to_end", "per_layer", "self_s"):
        for k, v in res.get(section, {}).items():
            print(f"{section:10s} {k:32s} {v}")
    if a.trace:
        log(f"spans: {os.path.join(out, 'trace_spans.json')}")
    metrics_spec = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in metrics_spec:
        v = source.get(m["name"], 0.0 if a.trace else None)
        if v is None:
            die(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0 and checked == expected,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


def shuffled(keys, seed):
    """The registry keys in an order drawn from the seed."""
    ks = list(keys)
    random.Random(seed).shuffle(ks)
    return ks


if __name__ == "__main__":
    main()
