#!/usr/bin/env python3
"""End-to-end benchmark of the X12 medallion pipeline and the curation and
retrieval operator chains.

    python3 pipebench/run.py --workload <x12|operators> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (offline); later runs reuse the build while the
sources are unchanged. Each run starts one JVM, writes its inputs and outputs
under a temporary directory inside `pipebench/.work/`, checks the outputs
against computations made apart from the program (see checks.py), removes the
directory, and prints one JSON line as the last line of standard output.
"""
import argparse
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
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "pipebench.stamp")
CLASSPATH = os.path.join(TARGET, "pipebench.classpath")
WORKLOADS = ("x12", "operators")
JVM_TIMEOUT_S = 170

# end-to-end metrics: (name, unit, key in the JVM's result)
END_TO_END = [
    ("setup_s", "s", "setup_s"),
    ("heap_peak_mb", "MB", "heap_peak_mb"),
    ("run_s", "s", "run_s"),
    ("store_mb", "MB", "store_mb"),
]

X12_LAYERS = ["x12.bronze", "x12.silver", "x12.gold", "x12.ack997", "x12.ledger"]
OP_LAYERS = ["operators.curation", "operators.textdedup", "operators.textanalysis",
             "operators.sampling", "operators.ann", "operators.retrieval"]
LAYER_METRICS = [("wall_s", "s"), ("exec_s", "s"), ("jobs", "count"),
                 ("tasks", "count"), ("executor_s", "s"), ("shuffle_mb", "MB"),
                 ("rows_out", "count")]


def per_layer_metrics():
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    out = []
    for layer in X12_LAYERS + OP_LAYERS:
        out += [(f"{layer}.{m}", u) for m, u in LAYER_METRICS]
        if layer in OP_LAYERS:
            out.append((f"{layer}.build_s", "s"))
        if layer in X12_LAYERS or layer == "operators.sampling":
            out += [(f"{layer}.files_written", "count"), (f"{layer}.mb_written", "MB")]
    out += [("x12.bronze.files_read", "count"), ("x12.bronze.files_new", "count")]
    out += [("spark.plan_s", "s"), ("spark.spill_mb", "MB"), ("spark.gc_s", "s"),
            ("spark.jobs", "count"), ("spark.busy_share", "ratio")]
    return out


def log(msg):
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt unless the sources match the last build's stamp."""
    digest = sources_digest()
    main_class = os.path.join(TARGET, "scala-2.13", "classes", "pipebench", "Main.class")
    if all(os.path.exists(p) for p in (STAMP, CLASSPATH, main_class)):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building with sbt (offline)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-5000:])
        raise SystemExit("pipebench: sbt build failed")
    cp = [l for l in proc.stdout.splitlines() if "scala-2.13" + os.sep + "classes" in l]
    if not cp:
        raise SystemExit("pipebench: sbt printed no classpath")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")


def jvm_command(cp, args, work):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dderby.system.home={work}",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "pipebench.Main"] + args


def run_jvm(args, work):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm_command(cp, args, work)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("pipebench: the JVM run timed out")
    finally:
        # never leave the JVM behind: timeout, interrupt or termination
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"pipebench: the JVM run exited with {code}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main(argv=None):
    # turn termination into an exception so the JVM and the work directory
    # are cleaned up on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", help="copy the run's inputs and outputs here")
    a = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("pipebench: program sources not found; run from a checkout")
    os.makedirs(TARGET, exist_ok=True)
    build()

    import checks  # after the build check: needs duckdb and numpy

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--work", work, "--cores", str(cores)], work)
        t0 = time.time()
        problems = checks.check(a.workload, os.path.join(work, "in2"),
                                os.path.join(work, "out"))
        log(f"checks took {time.time() - t0:.1f} s")
        if a.keep:
            shutil.rmtree(a.keep, ignore_errors=True)
            shutil.copytree(work, a.keep, ignore=shutil.ignore_patterns("spark-local", "tmp"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    log("run: " + json.dumps({k: res[k] for k in res if k != "layers"}))

    if a.trace:
        layers = res["layers"]
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                   for n, u in per_layer_metrics()}
    else:
        metrics = {n: {"value": float(res[k]), "unit": u} for n, u, k in END_TO_END}
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
