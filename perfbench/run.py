#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: the reference changelog stream and
a batch query panel.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: stream_backlog, batch_panel (see README.md).
Run from the root of a checkout. The first run compiles the engine
(src/main/scala) together with the benchmark (perfbench/src) with the
Scala compiler that ships in the Spark distribution, into
perfbench/.build; later runs reuse the classes while the sources are
unchanged. The last line of stdout is the result object; everything else
goes to stderr.

Other modes (for maintaining the benchmark, not for measuring):
    --selftest        generator determinism self-test
    --fingerprints F  write the panel's result fingerprints to F
    --notes F         write the count-versus-complete-result notes to F
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


def spark_home():
    """$SPARK_HOME, else the first Spark installation on the PATH that
    ships its jars (a pip-installed `spark-submit` does not)."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(spark_home(), "jars")
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
DATA = os.path.join(HERE, "data", "sf0.01")
FINGERPRINTS = os.path.join(HERE, "fingerprints.jsonl")
WORKLOADS = ("stream_backlog", "batch_panel")
THREADS = 3
START = time.monotonic()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    out = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles engine + benchmark unless the classes match the sources."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: Spark jars not found at {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return False
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log(f"compiling {len(srcs)} Scala files")
    cp = os.path.join(SPARK_JARS, "*")
    rc = run_bounded(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                      "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
                      "-cp", cp, "@" + argfile],
                     timeout=800, stdout=sys.stderr)
    if rc != 0:
        sys.exit(f"perfbench: compilation failed ({rc})")
    with open(STAMP, "w") as f:
        f.write(digest)
    return True


def java(args, timeout):
    opens = []
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"):
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens +
           ["-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", ":".join([CLASSES, ENGINE_RES, os.path.join(SPARK_JARS, "*")]),
            "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(THREADS))
    return run_bounded(cmd, timeout=timeout, stdout=sys.stderr, env=env, cwd=ROOT)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def shape(res, trace):
    """Keeps exactly the declared metrics of this kind of run; a declared
    per-layer metric the workload does not exercise reports 0."""
    spec = declared()
    kind = spec["per_layer"] if trace else spec["end_to_end"]
    got = res["metrics"]
    extra = sorted(set(got) - {m["name"] for m in kind})
    if extra:
        log(f"undeclared metrics dropped: {extra}")
    metrics = {}
    for m in kind:
        if m["name"] in got:
            metrics[m["name"]] = got[m["name"]]
        elif trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            raise SystemExit(f"perfbench: end-to-end metric {m['name']} missing")
    return {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--fingerprints")
    ap.add_argument("--notes")
    a = ap.parse_args()
    built = build()
    # 175 s leaves room for slow host phases at --seconds up to 10; each
    # further second measured gets 4 s more
    budget = ((890 if built else 175) + 4 * max(0, a.seconds - 10)
              - (time.monotonic() - START))
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    result = os.path.join(WORK, "result.json")
    common = ["--work", WORK, "--result", result]
    try:
        if a.selftest:
            rc = java(["--mode", "selftest"] + common, budget)
        elif a.fingerprints or a.notes:
            mode = "fingerprints" if a.fingerprints else "notes"
            rc = java(["--mode", mode, "--data", DATA] + common, budget)
            if rc == 0:
                shutil.copy(result, a.fingerprints or a.notes)
        else:
            if not a.workload:
                ap.error("--workload is required")
            trace_out = os.path.join(OUT, f"trace-{a.workload}-{a.seed}.json")
            rc = java(["--mode", "run", "--workload", a.workload,
                       "--seed", str(a.seed), "--seconds", str(a.seconds),
                       "--trace", str(a.trace), "--data", DATA,
                       "--fingerprints", FINGERPRINTS,
                       "--trace-out", trace_out] + common, budget)
        if rc != 0:
            sys.exit(f"perfbench: benchmark JVM exited with {rc}")
        if a.selftest:
            sys.stderr.write(open(result).read())
        elif a.workload and not (a.fingerprints or a.notes):
            res = json.load(open(result))
            for p in res.get("problems", []):
                log(f"check failed: {p}")
            print(json.dumps(shape(res, a.trace)), flush=True)
    except subprocess.TimeoutExpired:
        sys.exit("perfbench: benchmark JVM timed out")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
