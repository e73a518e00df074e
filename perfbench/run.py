#!/usr/bin/env python3
"""Layered closed-loop benchmark of the Cypher-to-Spark engine.

    python3 perfbench/run.py --workload cypher_interactive --seed 1 --seconds 10 --trace 0

One client (this process's JVM harness thread) sends one op at a time to
Spark `local[N]`, N = the CPUs this process may use. An op is one query,
from the call until `collect()` has fetched its last row. A run:

 1. builds the harness and the program from source (once per checkout;
    sbt, offline) and generates the input tables (once per checkout);
 2. starts the JVM, which sets up the session, runs one untimed warm-up
    pass over the seed's queries and then the timed loop (the workload's
    fixed number of whole passes), with spans and Spark listeners only
    when --trace 1;
 3. checks every warm-up result against the query's DuckDB oracle;
 4. prints one report line per metric, then the result as one JSON line:
    end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Everything a run writes stays under perfbench/.work; its own directory
(java.io.tmpdir, spark.local.dir, results) is deleted when it ends.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402
import pools  # noqa: E402

ROOT = os.path.dirname(HERE)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
WORK = os.path.join(HERE, ".work")
# a run (after its one-time build) must end within 180 s: the JVM gets
# JVM_TIMEOUT_S, the oracle whatever is left of RUN_LIMIT_S
JVM_TIMEOUT_S = 140
RUN_LIMIT_S = 165
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def cores():
    return len(os.sched_getaffinity(0))


def spark_home():
    """The Spark installation the program is built and run against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        raise BenchError("SPARK_HOME must name a Spark installation with a jars/ directory")
    return home


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + harness unless the classes match the sources."""
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        raise BenchError(f"program sources not found under {PROGRAM}")
    os.makedirs(WORK, exist_ok=True)
    sources = (glob.glob(os.path.join(PROGRAM, "**", "*.scala"), recursive=True)
               + glob.glob(os.path.join(HARNESS, "src", "**", "*.scala"), recursive=True)
               + [os.path.join(HARNESS, "build.sbt"),
                  os.path.join(HARNESS, "project", "build.properties")])
    digest = _digest(sources)
    stamp = os.path.join(HARNESS, "target", "sources.sha256")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g"
                   + (f" -Dsbt.repository.config={repos}" if os.path.exists(repos) else ""))
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as f:
        code = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                              cwd=HARNESS, env=env, stdout=f, stderr=subprocess.STDOUT,
                              timeout=840).returncode
    if code != 0:
        raise BenchError(f"build failed (exit {code}); see {log}")
    with open(stamp, "w") as f:
        f.write(digest)


def data_dir(sf):
    """The tables at scale factor `sf`, generated on first use. The
    directory name carries the generator's digest, so a changed generator
    never reads stale tables."""
    tag = _digest([os.path.join(HERE, "datagen.py")])[:12]
    path = os.path.join(WORK, "data", f"sf{sf}-{tag}")
    if not os.path.isdir(path):
        datagen.generate(path, sf)
    return path


def launch(spec, run_dir):
    """Run the harness JVM on `spec`; returns (launch epoch s, output)."""
    spec_path = os.path.join(run_dir, "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
              "perfbench.Harness", spec_path])
    log = os.path.join(run_dir, "jvm.log")
    launched = time.time()
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=f, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise BenchError(f"harness exited with {code}")
    with open(spec["out"]) as f:
        return launched, json.load(f)


def run(workload, seed, trace):
    """One run: returns (end-to-end metrics, facts, verdicts, per-layer
    metrics or None)."""
    build()
    data = data_dir(pools.WORKLOADS[workload]["sf"])
    names = pools.warmup_order(workload, seed)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    try:
        spec = {"mode": "run", "data": data, "run_dir": run_dir,
                "out": os.path.join(run_dir, "out.json"), "cores": cores(),
                "trace": bool(trace), "pool": names,
                "sequence": pools.sequence(workload, seed)}
        launched, out = launch(spec, run_dir)
        verdicts = oracle.check(data, os.path.join(run_dir, "results"), names,
                                out["oracle_sql"], deadline=launched + RUN_LIMIT_S,
                                spill_dir=os.path.join(run_dir, "duckdb"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e, facts = metrics.end_to_end(out, launched, verdicts)
    return e2e, facts, verdicts, (metrics.per_layer(out) if trace else None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(pools.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted, not used: a run is a fixed number of passes over its pool")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        e2e, facts, verdicts, layers = run(a.workload, a.seed, a.trace)
    except (BenchError, subprocess.TimeoutExpired, OSError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    failing = {n: v for n, v in verdicts.items() if v}
    print(f"workload {a.workload} seed {a.seed} trace {a.trace} cores {cores()} "
          f"ops {facts['attempted']} passes {facts['passes']:g}")
    print(f"oracle {len(verdicts) - len(failing)}/{len(verdicts)} pass"
          + "".join(f"\n  FAIL {n}: {v}" for n, v in sorted(failing.items())))
    for name, unit in metrics.END_TO_END:
        extra = (f"  (p{facts['tail_percentile']:g}, {facts['tail_beyond']} of "
                 f"{facts['samples']} samples beyond)" if name == "latency_tail_s" else "")
        print(f"{name} {e2e[name]:.6g} {unit}{extra}")
    if layers is not None:
        for name, unit, _ in metrics.PER_LAYER:
            print(f"{name} {layers[name]:.6g} {unit}")
    reported = ({n: {"value": layers[n], "unit": u} for n, u, _ in metrics.PER_LAYER}
                if layers is not None else
                {n: {"value": e2e[n], "unit": u} for n, u in metrics.END_TO_END
                 if n in metrics.GATED})
    print(json.dumps({"correct": facts["failed"] == 0 and not failing,
                      "attempted": facts["attempted"], "failed": facts["failed"],
                      "metrics": reported}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
