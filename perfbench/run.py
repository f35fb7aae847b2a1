#!/usr/bin/env python3
"""End-to-end benchmark of the warehouse engine.

    python3 perfbench/run.py --workload tsdb_serve --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. It builds the engine and the harness
from source (``perfbench/build.sbt``), generates the input tables once
(``perfbench/gen.py``), generates the workload's seeded plan, runs one
JVM (``perfbench.Main``) that measures a fixed number of passes, checks every
output against DuckDB outside the timed region, and prints each metric
with its unit and sample count. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Everything it writes stays under ``.bench_build/``.
See ``perfbench/README.md`` for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORK = os.path.join(ROOT, ".bench_build")
# the program's own scratch roots; what a run adds there is removed after it
SHM_ROOTS = "/dev/shm/graft-*"

# Registry workloads: groups of (query, kind). The seed permutes the
# groups; a group keeps its order, so a session memo's producer runs before
# its consumer. A `write` op's result is written as parquet inside the timed
# region; a `read` op's result goes to the noop sink (README.md).
BATCH = [
    # vec: the LSH top-3 relation (session memo), then its recall against
    # the memoized brute-force truth
    [("ann_lsh_topk", "read"), ("ann_recall_lsh", "write")],
    # rel: the lineitem scan
    [("q1_pricing", "read")],
    # text: exact dedup of the corpus, and mm: per-document binary
    # features; the listed near-dup operators do not fit the time budget
    # of a full evaluation (README.md)
    [("dedup_exact", "write")],
    [("mm_binary_features", "read")],
    # streaming: a drain into the memory sink (start, micro-batches, stop)
    [("streaming_running_counts", "write")],
]
WORKLOADS = {"tsdb_serve": None, "batch_pipeline": BATCH}

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and harness into one jar; skipped when the
    sources are unchanged since the last build in this checkout."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        raise SystemExit("perfbench: no engine sources next to perfbench/ (run from a checkout)")
    digest = sources_digest()[:16]
    app = os.path.join(WORK, f"perfbench-{digest}.jar")
    if os.path.isfile(app):
        return app
    for old in glob.glob(os.path.join(WORK, "perfbench-*")):
        os.remove(old)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            f"-Dsbt.global.base={WORK}/sbt-global", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: build failed (see {WORK}/build.log)")
    classes = os.path.join(HERE, "target/scala-2.13/classes")
    with zipfile.ZipFile(app + ".tmp", "w") as jar:
        for d, _, files in os.walk(classes):
            for f in files:
                jar.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    os.replace(app + ".tmp", app)
    log(f"built in {time.time() - t0:.1f} s")
    return app


def tables():
    """The input tables, generated once per checkout (fixed data seed)."""
    key = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:16]
    d = os.path.join(WORK, f"data-{key}")
    if not os.path.isfile(os.path.join(d, "DONE")):
        for old in glob.glob(os.path.join(WORK, "data-*")):
            shutil.rmtree(old, ignore_errors=True)
        gen.make_tables(d)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def shm_entries():
    out = set()
    for root in glob.glob(SHM_ROOTS):
        out.add(root)
        try:
            out.update(os.path.join(root, c) for c in os.listdir(root))
        except OSError:
            pass
    return out


def remove_new_shm(before):
    for p in sorted(shm_entries() - before, key=len, reverse=True):
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)


def spark_jars():
    """The Spark jars directory that the engine's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read()).group(1)


def run_jvm(app, workload, data, plan, out, trace, cpus):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and young generation: the resident set then follows the
    # data the run keeps, not the collector's sizing decisions
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xmn768m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dio.netty.tryReflectionSetAccessible=true"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{app}:{spark_jars()}/*", "perfbench.Main",
            "--workload", workload, "--data", data, "--plan", plan, "--out", out,
            "--trace", str(trace), "--cpus", str(cpus),
            "--local", os.path.join(out, "spark-local")]
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("perfbench: JVM timed out")
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited with {rc} (see {out}/jvm.log)")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    # part of the benchmark's command line, but a run measures a fixed
    # number of passes (README.md), so both sides of a comparison measure
    # the same work
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(WORK, exist_ok=True)
    app = build()
    data = tables()
    queries = WORKLOADS[a.workload]
    out = os.path.join(WORK, "run")
    shutil.rmtree(out, ignore_errors=True)
    plan = os.path.join(out, "plan")
    gen.write_plan(plan, a.workload, a.seed, queries)
    host0 = metrics.host_sample()
    shm0 = shm_entries()
    t0 = time.time()
    try:
        run_jvm(app, a.workload, data, plan, out, a.trace, cpus)
    finally:
        remove_new_shm(shm0)
    t1 = time.time()
    with open(os.path.join(out, "result.json")) as f:
        raw = json.load(f)
    host1 = metrics.host_sample()
    verdicts = checks.check(a.workload, raw, data, plan, out)
    report = metrics.report(a.workload, raw, verdicts, a.trace, cpus)
    report["host"] = metrics.host_record(host0, host1, cpus)
    report["seed"] = a.seed
    report["phases_s"] = {"jvm": round(t1 - t0, 2), "checks": round(time.time() - t1, 2),
                          "context": round(raw["context_s"], 2)}
    for line in metrics.describe(report):
        print(line)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    side = os.path.join(WORK, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(side, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps(report["line"]))


if __name__ == "__main__":
    main()
