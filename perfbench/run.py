#!/usr/bin/env python3
"""Stream benchmark: one run of one workload, in a fresh JVM and fresh dirs.

    python3 perfbench/run.py --workload infer --seed 1 --seconds 10 --trace 0

Builds the engine and the harness from source on first use (into
`.bench_build/`), generates the workload's inputs from the seed, runs the
harness, checks outputs, and prints one JSON line as the last line of
stdout: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`). Everything a run writes stays under `.bench_runs/<run>/`,
which is deleted when the run ends; a traced run keeps its spans in
`.bench_traces/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUNS = os.path.join(ROOT, ".bench_runs")
TRACES = os.path.join(ROOT, ".bench_traces")
# The whole run, build excluded: a run must end within 180 s. The slowest
# run, traced `infer`, takes about 100 s on a 4-core box.
RUN_LIMIT_S = 175

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else pyspark's."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
    except ImportError:
        fail("no Spark jars: set SPARK_HOME")
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources():
    eng = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not eng:
        fail("engine sources not found under src/main/scala")
    return eng + own


def build(jars):
    """Compile engine + harness with the Scala compiler shipped in the Spark
    jars; skipped when the sources are unchanged since the last build."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed", 3)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def generate(workload, seed, seconds, out):
    """Write the workload's inputs from the seed."""
    os.makedirs(out)
    if workload == "infer":
        gen.write_corpus(out, gen.CORPUS_SEED)
        gen.write_stream(out, seed, "bulk", max(4, round(seconds * 0.4)), 10000)
        gen.write_stream(out, seed, "envelope", max(8, round(seconds)), 50)
    elif workload == "ingest_state":
        gen.write_changelog(out, seed, 1, 1000, "warmup")
        gen.write_changelog(out, seed, max(3, round(seconds * 0.3)), 1000)
    elif workload == "query_mix":
        gen.write_tables(out, seed)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json not found")
    with open(path) as f:
        spec = json.load(f)
    return spec


def new_run_dir(workload, seed, trace):
    """A directory no other run has used: outputs, checkpoints and stores of
    a run all live under it. Creating it fails if it already exists."""
    run = os.path.join(RUNS, "%s-s%d-t%d-%d-%d" % (workload, seed, trace, os.getpid(),
                                                   time.time_ns()))
    os.makedirs(run)
    return run


def main():
    ap = argparse.ArgumentParser(description="one stream-benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        fail("unknown workload %r (have %s)" % (a.workload, ", ".join(names)))
    jars = spark_jars()
    classes = build(jars)

    t_start = time.monotonic()
    run = new_run_dir(a.workload, a.seed, a.trace)
    try:
        generate(a.workload, a.seed, a.seconds, os.path.join(run, "inputs"))
        out = run_jvm(a, run, classes, jars, RUN_LIMIT_S - (time.monotonic() - t_start))
        if a.trace and os.path.exists(os.path.join(run, "trace-spans.jsonl")):
            os.makedirs(TRACES, exist_ok=True)
            shutil.copy(os.path.join(run, "trace-spans.jsonl"),
                        os.path.join(TRACES, "%s-seed%d.jsonl" % (a.workload, a.seed)))
    finally:
        shutil.rmtree(run, ignore_errors=True)
    print(json.dumps(result(spec, a.trace, out)))


def run_jvm(a, run, classes, jars, budget_s):
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # No JVM perf-data file and no Spark scratch dir outside the run dir.
    cmd += ["-XX:-UsePerfData", "-Xmx3g", "-Xms3g", "-Djava.io.tmpdir=" + tmp,
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "graft.perfbench.Harness",
            "--workload", a.workload, "--dir", run, "--seed", str(a.seed),
            "--trace", str(a.trace)]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             env=env, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=max(1.0, budget_s))
        except subprocess.TimeoutExpired:
            fail("run exceeded its time limit", 4)
        finally:
            # Also reached when this process is interrupted or terminated:
            # the JVM never outlives the run.
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(os.path.join(run, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail("harness exited with %d" % p.returncode, 5)
    return json.loads(lines[-1])


def result(spec, trace, out):
    """The contract line: the declared metrics of this mode, with units."""
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = dict(out["metrics"])
    got["setup_s"] = out["setup_s"]
    got["fail_ratio"] = out["failed"] / max(1, out["attempted"])
    unknown = set(got) - set(e2e) - set(layer)
    if unknown:
        fail("harness emitted undeclared metrics: " + ", ".join(sorted(unknown)), 6)
    if trace:
        # A layer the workload does not exercise reads 0.
        metrics = {n: {"value": got.get(n, 0.0), "unit": u} for n, u in layer.items()}
    else:
        missing = [n for n in e2e if n not in got]
        if missing:
            fail("harness did not measure: " + ", ".join(missing), 6)
        metrics = {n: {"value": got[n], "unit": u} for n, u in e2e.items()}
    return {"correct": out["failed"] == 0, "attempted": out["attempted"],
            "failed": out["failed"], "metrics": metrics}


def terminated(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, terminated)
    main()
