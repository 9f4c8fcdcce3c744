#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness jar (perfbench/build.sbt,
which compiles the library sources with the harness) when the sources
changed, generates the workload's inputs from the seed into a fresh private
directory, runs one JVM over them and prints, as the last line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. The line before it
is a report with sample counts, the tail percentile, failures, host noise
per pass and the workload's own figures. ``--workload all`` runs both
workloads in turn and prints each one's end-to-end metrics.

The private directory (java.io.tmpdir, spark.local.dir, the ETL output
root and the generated inputs) lives under .bench_build/ and is removed at
exit; traces of --trace 1 runs are kept in .bench_build/traces/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["etl_countries", "ops_iterative"]
BUILD_DIR = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
QUERY_SF = 0.001
ETL_ROWS_PER_COUNTRY = 6000
PASS_SECONDS = 9.0
JVM_OPTS = [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=512m", "-Dspark.ui.enabled=false",
] + [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The installed Spark's jars directory: $SPARK_HOME/jars, or found from
    the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def source_stamp():
    """Hash of every file the jar is built from."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        files += [os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources (src/main/scala/graft) not found; run from the repository root")
    stamp = source_stamp()
    stamp_file = JAR + ".stamp"
    if os.path.exists(JAR) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        env.get("SBT_OPTS", "")]).strip()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0 or not os.path.exists(JAR):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    train_class_archive()


def class_archive():
    with open(JAR + ".stamp") as f:
        return os.path.join(BUILD_DIR, f"classes-{f.read()[:16]}.jsa")


def train_class_archive():
    """Dump the classes a warm pass of every workload loads into a
    class-data archive, which later runs map instead of loading Spark's
    classes one by one from the jars: a shorter, steadier JVM start-up. A
    run without the archive is still correct, only slower to set up."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    for f in os.listdir(BUILD_DIR):
        if f.startswith("classes-") and f.endswith(".jsa"):
            os.remove(os.path.join(BUILD_DIR, f))
    train_dir = tempfile.mkdtemp(prefix="train-", dir=BUILD_DIR)
    try:
        args = []
        for w in WORKLOADS:
            run_dir = os.path.join(train_dir, w)
            os.makedirs(os.path.join(run_dir, "tmp"))
            spec = prepare(w, 0, run_dir)
            spec.update({"workload": w, "seed": 0, "passes": 0, "trace": 0,
                         "run_dir": run_dir, "warm_only": True})
            with open(os.path.join(run_dir, "spec.json"), "w") as f:
                json.dump(spec, f)
            args += [os.path.join(run_dir, "spec.json"), os.path.join(run_dir, "result.json")]
        archive = class_archive()
        tmp = os.path.join(train_dir, "tmp")
        os.makedirs(tmp)
        try:
            r = subprocess.run(["java", f"-XX:ArchiveClassesAtExit={archive}"] + JVM_OPTS +
                               [f"-Djava.io.tmpdir={tmp}", "-cp", f"{JAR}:{spark_jars()}/*",
                                "perfbench.Harness"] + args,
                               cwd=train_dir, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                               text=True, timeout=600)
            ok = r.returncode == 0
            if not ok:
                sys.stderr.write(r.stderr[-2000:])
        except subprocess.TimeoutExpired:
            ok = False
        if not ok:
            if os.path.exists(archive):
                os.remove(archive)
            print("perfbench: class-data training failed; running without the archive",
                  file=sys.stderr)
    finally:
        shutil.rmtree(train_dir, ignore_errors=True)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def prepare(workload, seed, run_dir):
    """Generate the workload's inputs; return the harness spec fields."""
    if workload == "etl_countries":
        csv_path = os.path.join(run_dir, "entregas.csv")
        expected = gen.entregas(csv_path, ETL_ROWS_PER_COUNTRY, seed)
        template = os.path.join(run_dir, "config.template.yaml")
        with open(template, "w") as f:
            f.write(gen.config_yaml(csv_path, os.path.join(run_dir, "out")))
        return {"csv": csv_path, "config": os.path.join(run_dir, "config.yaml"),
                "config_template": template, "expected": expected}
    data_dir = os.path.join(run_dir, "tables")
    gen.tables(data_dir, QUERY_SF)
    return {"data_dir": data_dir, "queries": load_json("queries.json")[workload],
            "expected": load_json("expected_fingerprints.json")}


def timed_passes(seconds):
    """Whole timed passes filling about `seconds`: a pass of either workload
    takes PASS_SECONDS here (4 cores), checks included. Fixed by the
    argument, not measured, so that a slow pass never changes how many
    samples a run has."""
    return max(1, math.ceil(seconds / PASS_SECONDS))


def run_one(workload, seed, seconds, trace, tweak=None):
    """One harness run; ``tweak(spec)`` may edit the generated spec first."""
    build()
    os.makedirs(BUILD_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=BUILD_DIR)
    proc = None
    try:
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp)
        t0 = time.time()
        spec = prepare(workload, seed, run_dir)
        gen_s = time.time() - t0
        if tweak is not None:
            tweak(spec)
        spec.update({
            "workload": workload, "seed": seed, "passes": timed_passes(seconds), "trace": trace,
            "run_dir": run_dir,
            "trace_out": os.path.join(BUILD_DIR, "traces", f"{workload}-seed{seed}.json")})
        spec_path = os.path.join(run_dir, "spec.json")
        out_path = os.path.join(run_dir, "result.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        archive = class_archive()
        share = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
        cmd = ["java"] + share + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp",
               f"{JAR}:{spark_jars()}/*", "perfbench.Harness", spec_path, out_path]
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.DEVNULL,
                                stderr=open(os.path.join(run_dir, "jvm.log"), "w"),
                                start_new_session=True)
        rc = proc.wait(timeout=170)
        proc = None
        if rc != 0 or not os.path.exists(out_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"harness exited with {rc}")
        with open(out_path) as f:
            res = json.load(f)
        res["report"]["gen_s"] = gen_s
        return res
    finally:
        if proc is not None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def units():
    spec = load_json(os.path.join("..", "BENCHMARK.json"))
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    # a terminated run still stops its JVM and removes its private directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    e2e_units, layer_units = units()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in names:
        res = run_one(w, args.seed, args.seconds, args.trace)
        chosen = (res["per_layer"], layer_units) if args.trace else (res["end_to_end"], e2e_units)
        missing = set(chosen[1]) - set(chosen[0])
        if missing:
            fail(f"{w}: harness did not report {sorted(missing)}")
        metrics = {k: {"value": chosen[0][k], "unit": u} for k, u in chosen[1].items()}
        report = res["report"]
        report.update({"workload": w, "attempted": res["attempted"], "failed": res["failed"]})
        print(json.dumps({"report": report}))
        if args.workload == "all":
            for k, m in metrics.items():
                print(f"{w:14s} {k:40s} {m['value']:14.6f} {m['unit']:6s} n={report['samples']}")
            print(f"{w:14s} {'failed_op_ratio':40s} {report['failed_op_ratio']:14.6f} ratio")
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
        total["metrics"] = metrics
    total["correct"] = total["failed"] == 0
    print(json.dumps(total))


if __name__ == "__main__":
    main()
