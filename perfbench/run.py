#!/usr/bin/env python3
"""Benchmark of the SurrealQL engines: one closed-loop client per run.

    python3 perfbench/run.py --workload <interp_graph|spark_point|spark_analytic>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness with sbt (build time is not measured) and, for the Spark workloads,
generates the corpus; later runs reuse both while the sources are unchanged.
Each run works in its own scratch directory under perfbench/.run, with a
private persisted-index cache and private Spark local directories, and
removes it at the end. The last stdout line is the result as JSON.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

WORKLOADS = ("interp_graph", "spark_point", "spark_analytic")
END_TO_END = {"setup_s": "s", "throughput_ops": "ops/s", "latency_p50_ms": "ms",
              "latency_p90_ms": "ms", "cpu_ms_per_op": "ms", "peak_rss_mb": "MB"}
HEAP = "2g"
DEADLINE_S = 170  # a run must end within 180 s of its start
# Fewest timed operations of a run, so that at least ten latencies lie above
# p90 on a slow host too; a run measures whole rounds for --seconds or until
# it has these, whichever is later.
MIN_TIMED_OPS = 100
# spark_point runs on the client compiler alone. Its time goes to the
# planner, Catalyst and the scheduler, a large body of code that C2 keeps
# compiling for well over 100 s (193 C2 compilations in the ten seconds
# from 90 s of uptime), so a run under tiered compilation measures a moving
# target whose speed differs from JVM to JVM. With C1 alone operations take
# about 10 % longer and runs agree more closely.
JIT_FLAGS = {"spark_point": ["-XX:TieredStopAtLevel=1"]}
# Reference time (ns) of the host-speed probe (src/main/scala/perfbench/
# Probe.scala) in each workload's JVM; times are reported at the host speed
# at which the probe takes this long. Taken from single runs on the 4-vCPU
# VM the bounds were set on; over ten runs there the probe took 10-20 %
# longer, so reported times read 10-20 % below the times as measured.
# The C1-only JVM of spark_point runs the probe more slowly; spark_analytic
# compiles it as interp_graph does and shares its value.
PROBE_REF_NS = {"interp_graph": 1.75e6, "spark_point": 4.1e6, "spark_analytic": 1.75e6}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def per_layer_units():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json"), encoding="utf-8") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def source_stamp(root):
    """Hash of every input of the build, so a changed tree is rebuilt."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(root, "project"),
                os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile the program and the harness; return the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(BENCH, "target", "perfbench-classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file, encoding="utf-8") as f:
            saved_stamp, cp = f.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness with sbt")
    t0 = time.time()
    proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"],
                          cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file + ".tmp", "w", encoding="utf-8") as f:
        f.write(stamp + "\n" + cp + "\n")
    os.replace(cp_file + ".tmp", cp_file)
    return cp


def java_cmd(cp, run_dir, workload):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # -XX:-UsePerfData keeps the JVM from writing its counters under /tmp.
    # The throughput collector runs no GC threads beside the client between
    # collections; under G1 the same runs spread twice as wide on a 4-vCPU
    # host.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
    cmd += JIT_FLAGS.get(workload, [])
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.driver.host=localhost", "-Dspark.driver.bindAddress=127.0.0.1",
            "-cp", cp, "perfbench.Main"]
    return cmd


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and os.path.isdir(os.path.join(root, "src"))):
        raise SystemExit("perfbench: run from the repository root (build.sbt and src/ not found)")
    cp = build(root)
    start = time.time()

    import datagen
    import workloads
    data_dir = datagen.ensure(os.path.join(BENCH, ".data")) if args.workload != "interp_graph" else "-"
    ops, setup, state = workloads.make(args.workload, args.seed, data_dir)

    run_dir = os.path.join(BENCH, ".run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "cache"):
        os.makedirs(os.path.join(run_dir, sub))
    try:
        ops_file, setup_file = os.path.join(run_dir, "ops.tsv"), os.path.join(run_dir, "setup.surql")
        results = os.path.join(run_dir, "results.tsv")
        with open(ops_file, "w", encoding="utf-8") as f:
            f.writelines(f"{op.template}\t{op.stmt}\n" for op in ops)
        with open(setup_file, "w", encoding="utf-8") as f:
            f.write(setup)
        cpus = min(4, len(os.sched_getaffinity(0)))
        env = dict(os.environ, GRAFT_CACHE_DIR=os.path.join(run_dir, "cache"),
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
        launch_ns = time.time_ns()
        cmd = java_cmd(cp, run_dir, args.workload) + [args.workload, ops_file, setup_file, data_dir, results,
                                       str(args.seconds), str(args.trace), str(launch_ns), str(cpus),
                                       str(workloads.WARMUP_ROUNDS[args.workload]),
                                       str(-(-MIN_TIMED_OPS // len(ops))),
                                       str(PROBE_REF_NS[args.workload])]
        proc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                              stderr=subprocess.PIPE, text=True,
                              timeout=max(10.0, DEADLINE_S - (time.time() - start)))
        out = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not out:
            sys.stderr.write(proc.stderr[-4000:])
            raise SystemExit(f"perfbench: the measured JVM exited with {proc.returncode}")
        measured = json.loads(out[-1])
        attempted, failed, wrong, notes = workloads.check(args.workload, ops, state, results, data_dir)
        for note, n in notes.most_common(10):
            log(f"{n} x {note}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace == 0:
        metrics = {k: {"value": measured[k], "unit": u} for k, u in END_TO_END.items()}
        log(f"{int(measured['samples'])} timed operations; host speed factor "
            f"{measured['probe.factor']:.3f} (set-up {measured['probe.setup_factor']:.3f}); as measured: "
            + ", ".join(f"{k} {measured['raw.' + k]:.5g}" for k in END_TO_END))
    else:
        metrics = {k: {"value": measured.get(k, 0.0), "unit": u} for k, u in per_layer_units().items()}
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
