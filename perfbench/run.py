#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the harness from source,
generates the workload's inputs, runs one measured process and relays its
result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: reports_sf0.1, etl_daily (see perfbench/PROTOCOL.md).
The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. Everything the run builds or
writes stays under the build directory (`$CARGO_TARGET_DIR`, default
`.bench_build`) of the checkout it runs in.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("reports_sf0.1", "etl_daily")
# the query corpus is fixed (the repository's sf0.1 test corpus, stored
# with the benchmark); --seed draws the query order
CORPUS = os.path.join(HERE, "corpus_sf0.1")
HEAP = "4g"
# Nominal seconds of one pass on a 4-core host: a round of the query mix, or
# one simulated day of loads. --seconds / this = the passes a run times, so
# the work a run measures is fixed by its arguments.
PASS_SECONDS = {"reports_sf0.1": 10.0, "etl_daily": 20.0}
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass (org.apache.spark.launcher.JavaModuleOptions).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            for f in files if "target" not in d.split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(build_dir):
    """Compile engine and harness with sbt once per source state; returns
    the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    flags = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true",
             "-Dsbt.server.autostart=false", "-J-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        flags += ["-Dsbt.override.build.repos=true",
                  f"-Dsbt.repository.config={repos}"]
    out = subprocess.run(
        ["sbt", "--batch", *flags, "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(digest + "\n" + cp)
    return cp


def prepare(workload, seed, data, passes):
    """Generates the inputs the run reads; returns the seconds it took."""
    start = time.monotonic()
    if workload == "etl_daily":
        src = os.path.join(data, "etl_src")
        shutil.rmtree(src, ignore_errors=True)
        # day 0, then the days a run measures (a traced run replays them)
        gen("gen_etl.py", src, str(1 + passes), seed)
    return time.monotonic() - start


def gen(script, out, size, seed):
    subprocess.run([sys.executable, os.path.join(HERE, script), out, size,
                    str(seed)], check=True, stdin=subprocess.DEVNULL)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    # a terminated run still stops the build or the measured process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {HERE}; run from a full checkout")
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    data = os.path.join(build_dir, "data")
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(data, exist_ok=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)

    cp = build(build_dir)
    passes = max(1, round(a.seconds / PASS_SECONDS[a.workload]))
    gen_s = prepare(a.workload, a.seed, data, passes)

    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
           *[x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(build_dir, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--passes", str(passes), "--trace", a.trace, "--data", data,
           "--corpus", CORPUS,
           "--fingerprints", os.path.join(HERE, "fingerprints.txt"),
           "--gen-seconds", f"{gen_s:.6f}"]
    proc = subprocess.Popen(cmd, cwd=build_dir, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(os.path.join(data, "etl_src"), ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        fail(f"measured process exited with {proc.returncode} and no result")
    for line in lines[:-1]:
        if line.startswith("# "):
            print(line)
    print(lines[-1])


if __name__ == "__main__":
    main()
