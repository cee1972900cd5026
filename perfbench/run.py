#!/usr/bin/env python3
"""graft benchmark runner: builds the harness, generates the inputs of a
seed, runs one measuring process and checks its outputs.

    python3 perfbench/run.py --workload osm_extract --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. Everything
else (build log, Spark log) goes to standard error. Build outputs,
generated inputs and run outputs stay under perfbench/ in paths the root
.gitignore lists.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
CACHE = os.path.join(BENCH, ".cache")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["osm_extract", "entries"]
DEADLINE_S = 170.0
KEEP_OSM_SEEDS = 3
KEEP_TABLE_SEEDS = 24
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the harness build reads."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in os.walk(r):
            for f in sorted(fs):
                yield os.path.join(d, f)


def fingerprint():
    h = hashlib.sha256()
    for f in sorted(sources()):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_child(cmd, timeout, cwd=ROOT, env=None):
    """Run a child in its own process group; stdout goes to our stderr.
    On timeout the whole group is killed and waited for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile graft's sources with the harness (once per source state)."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    log("building the harness with sbt")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip()
    rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                    "compile", "writeClasspath"], 850 - (time.monotonic() - T0),
                   cwd=BENCH, env=env)
    if rc != 0 or not os.path.exists(cp_file):
        sys.exit(f"perfbench: harness build failed (sbt exit {rc})")
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def java_cmd(cp, heap, main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no hsperfdata files in the system temp directory
    return [java, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            *opens, "-cp", cp, main, *args]


def prune(prefix, keep):
    """Keep the `keep` most recently used cached inputs starting with prefix."""
    entries = sorted((os.path.getmtime(os.path.join(CACHE, e)), e)
                     for e in os.listdir(CACHE) if e.startswith(prefix))
    for _, e in entries[:-keep] if len(entries) > keep else []:
        path = os.path.join(CACHE, e)
        shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)


def osm_input(cp, seed):
    pbf = os.path.join(CACHE, f"osm-{seed}.pbf")
    expected = os.path.join(CACHE, f"osm-{seed}.expected")
    if not (os.path.exists(pbf) and os.path.exists(expected)):
        log(f"generating the osm_extract file for seed {seed}")
        rc = run_child(java_cmd(cp, "1g", "perfbench.OsmGen", [str(seed), pbf, expected]),
                       DEADLINE_S - (time.monotonic() - T0))
        if rc != 0:
            sys.exit("perfbench: osm_extract generation failed")
    for f in (pbf, expected):
        os.utime(f)
    prune("osm-", 2 * KEEP_OSM_SEEDS)
    return pbf, expected


def table_input(seed):
    with open(os.path.join(BENCH, "gen_tables.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(CACHE, f"tables-{seed}-{version}")
    if not os.path.isdir(out):
        log(f"generating the tables for seed {seed}")
        import gen_tables
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        gen_tables.generate(seed, out)
    os.utime(out)
    prune("tables-", KEEP_TABLE_SEEDS)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit(f"perfbench: graft's sources are not at {ROOT}/src/main/scala; "
                 "run from a checkout of the repository")
    cp = build()
    os.makedirs(CACHE, exist_ok=True)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    needed = WORKLOADS if a.trace else [a.workload]
    args = ["--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", run_dir, "--out", os.path.join(run_dir, "result.json")]
    tables = None
    for w in needed:
        if w == "osm_extract":
            pbf, expected = osm_input(cp, a.seed)
            args += ["--osm", pbf, "--osm-expected", expected]
        else:
            tables = table_input(a.seed)
            args += ["--tables", tables]

    log(f"measuring {a.workload} (seed {a.seed}, {a.seconds} s, trace {a.trace})")
    rc = run_child(java_cmd(cp, "3g", "perfbench.Harness", args),
                   DEADLINE_S - 8 - (time.monotonic() - T0))
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        sys.exit(f"perfbench: the harness failed (exit {rc})")
    with open(result_file) as f:
        res = json.load(f)

    errors = list(res["errors"])
    if res["outputs"]:  # entries outputs, whichever workload ran them
        import oracle
        errors += oracle.check_outputs(tables, res["outputs"],
                                       os.path.join(WORK, "tmp"))
    for e in errors[:20]:
        log(f"check failed: {e}")

    keep = os.path.join(WORK, f"last-{a.workload}-trace{a.trace}")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    for f in ("result.json", "trace.json"):
        if os.path.exists(os.path.join(run_dir, f)):
            shutil.copy(os.path.join(run_dir, f), keep)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))


if __name__ == "__main__":
    sys.path.insert(0, BENCH)
    # a TERM unwinds through run_child, which kills and reaps its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    main()
