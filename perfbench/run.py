#!/usr/bin/env python3
"""Benchmark of the bearystaspark engine: one command runs one workload.

    python3 perfbench/run.py --workload recipe_dag --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds the engine and this harness from
source with sbt (once per source state), generates the workload's inputs
from the seed (one of a few cached input sets), computes the DuckDB oracle answers, then
measures in fresh JVMs: set-up samples, warm-up iterations, and a closed loop of
iterations for --seconds. Every iteration's outputs are checked against
the oracle. The last stdout line is one JSON object with `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with --trace 0,
per-layer metrics with --trace 1). See README.md for the design.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import inputs
import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = ("recipe_dag", "curation")
# Warm-up iterations after the cold one, before the timed loop.
# Iterations keep getting faster for tens of seconds (recipe_dag falls
# from 4.7 s to 2.3 s over 35 iterations); a count, not a time, makes
# every run measure from the same point of that curve. curation flattens
# sooner.
WARMUP = {"recipe_dag": 3, "curation": 2}
# A fixed heap and young generation keep the collector from resizing
# them by timing, so peak RSS follows what the workload allocates and
# keeps alive rather than the collector's adaptive sizing.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def run_proc(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout the group is killed
    and waited for before the error propagates."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out, err


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless this source state is built;
    returns the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", "")] + opts).strip()
    code, out, err = run_proc(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        timeout=840, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:] + err[-4000:])
        fail("sbt build failed")
    cp = [ln for ln in out.splitlines() if ln.strip() and not ln.startswith("[")][-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, tmp, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, *JVM_MEMORY, f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main", *args]


def jvm(cp, tmp, args, timeout):
    os.makedirs(tmp, exist_ok=True)
    # the JVM reports through files; its stdout joins stderr so the
    # result line stays the last line of this program's stdout
    code, _, _ = run_proc(java_cmd(cp, tmp, args), timeout=timeout, cwd=ROOT,
                          stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        fail(f"JVM exited with {code}: {' '.join(args)}")


def generate_inputs(cp, workload, seed):
    """Writes (or reuses) the seeded inputs; returns (input dir, tables dir).

    The seed picks one of inputs.VARIANTS input sets, each generated
    once per checkout with its oracle answers: recipe_dag's fixture trees
    cost a JVM start plus about ten seconds of cold Spark jobs (so the
    first run writes them all in one JVM, apart from the measured one,
    which starts cold), and curation's DuckDB oracles about 5 s per
    set."""
    k = seed % inputs.VARIANTS
    root = os.path.join(WORK, "inputs", f"{workload}-v{inputs.VERSION}")
    if workload == "curation":
        d = os.path.join(root, f"v{k}")
        tables = os.path.join(d, "tables")
        if not os.path.exists(os.path.join(d, ".complete")):
            shutil.rmtree(d, ignore_errors=True)
            text_bytes = inputs.documents(tables, k)
            with open(os.path.join(d, "input.json"), "w") as f:
                json.dump({"bytes": text_bytes}, f)
            open(os.path.join(d, ".complete"), "w").close()
        return d, tables
    variants = [os.path.join(root, f"v{j}") for j in range(inputs.VARIANTS)]
    if not os.path.exists(os.path.join(root, ".complete")):
        shutil.rmtree(root, ignore_errors=True)
        for j, d in enumerate(variants):
            inputs.recipe_tables(os.path.join(d, f"keys-v{j}"), j)
        jvm(cp, os.path.join(root, "tmp"), ["--mode", "prepare", "--inputs", ",".join(variants)],
            timeout=600)
        open(os.path.join(root, ".complete"), "w").close()
    return variants[k], os.path.join(variants[k], f"keys-v{k}")


def check(result, out, answers):
    """Counts iterations that raised or produced any output differing from
    its oracle answer. Returns (attempted, failed)."""
    bad = {}
    for q, want in answers.items():
        qdir = os.path.join(out, "outputs", q)
        for dg in sorted(os.listdir(qdir)) if os.path.isdir(qdir) else []:
            bad[(q, dg)] = oracle.mismatch(want, os.path.join(qdir, dg))
            if bad[(q, dg)]:
                log(f"output {q}/{dg} does not match its oracle: {bad[(q, dg)]}")
    failed = 0
    for it in result["iterations"]:
        dg = it["digests"]
        if it["error"] is not None or set(dg) != set(answers) or any(
                bad.get((q, d), "missing") for q, d in dg.items()):
            failed += 1
    return len(result["iterations"]), failed


def highest_percentile(values):
    """The highest of p50/p90/p99 with at least ten samples beyond it."""
    n = len(values)
    best = None
    for p in (50, 90, 99):
        if n * (100 - p) / 100 >= 10:
            best = (p, statistics.quantiles(values, n=100)[p - 1])
    return best


def git_commit():
    try:
        code, out, _ = run_proc(["git", "rev-parse", "HEAD"], timeout=10, cwd=ROOT,
                                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        return out.strip() if code == 0 else None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}: run from a full checkout")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))

    cp = build()
    in_dir, tables = generate_inputs(cp, a.workload, a.seed)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out = os.path.join(run_dir, "out")
    jvm(cp, os.path.join(run_dir, "tmp"),
        ["--mode", "run", "--workload", a.workload, "--inputs", in_dir, "--out", out,
         "--seconds", str(a.seconds), "--warmup", str(WARMUP[a.workload]), "--trace", str(a.trace)],
        timeout=a.seconds + 120)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        sql = json.load(f)
    answers = oracle.expected(tables, sql, os.path.join(in_dir, "expected"))
    attempted, failed = check(res, out, answers)
    with open(os.path.join(in_dir, "input.json")) as f:
        in_bytes = json.load(f)["bytes"]

    meta = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": os.cpu_count(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "spark_cores": res["cores"], "jvm_flags": res["jvm_flags"],
        "git_commit": git_commit(), "source_sha256": source_stamp(),
        "input_bytes": in_bytes, "load": "closed loop, 1 client",
    }
    print(json.dumps({"meta": meta}))

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(res["per_layer"].items())}
        print(f"per-layer metrics; spans in {os.path.relpath(os.path.join(out, 'spans.json'), ROOT)}")
    else:
        walls = [it["wall_s"] for it in res["iterations"] if it["phase"] == "timed"]
        wall = statistics.median(walls)
        metrics = {
            "wall_s": {"value": wall, "unit": "s"},
            "input_mb_per_s": {"value": in_bytes / 1e6 / wall, "unit": "MB/s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
        tail = highest_percentile(walls)
        print(f"{a.workload}: wall_s p50={wall:.4f} s over {len(walls)} iterations"
              + (f", p{tail[0]}={tail[1]:.4f} s" if tail else "")
              + f"; input {in_bytes / 1e6:.3f} MB")
    print(f"failed_frac={failed / attempted:.4f} ({failed}/{attempted} iterations; "
          f"every output checked against its DuckDB oracle)")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_yield", "_util", "_frac")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
