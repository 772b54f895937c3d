#!/usr/bin/env python3
"""Build the program and the benchmark from source, then run one workload.

    python3 perfbench/run.py --workload batch|stream --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --serial-baseline [--seed N] [--seconds S]

The program (the sbt build at the repository root) and the benchmark (the
sbt build in this directory, which depends on it) are compiled once per
source state; the resolved classpath is cached under the build directory
($CARGO_TARGET_DIR, default .bench_build) with a hash of every source and
build file, so later runs start the JVM directly. The last line of standard
output is the benchmark's JSON result; build output goes to standard error.

--serial-baseline runs `batch` twice, once pinned to one core (taskset and
-XX:ActiveProcessorCount=1, so the session is local[1]) and once on every
core, and reports scaling_eff_1toN = ips_N / (N * ips_1), where ips is the
batch workload's images_per_s.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
BUILD = os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
BASELINE_TIMEOUT_S = 900

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file whose change requires a rebuild, in a stable order."""
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def classpath():
    """Builds if any source changed; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala"))):
        fail("no program sources (build.sbt, src/main/scala) next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cache = os.path.join(BUILD, "classpath.json")
    if os.path.isfile(cache):
        with open(cache) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the compiler's temporary files inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.setdefault("JAVA_OPTS", "-XX:-UsePerfData -Djava.io.tmpdir=" + tmp)
    proc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                      "export perfbench/Runtime/fullClasspath"],
                     cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S,
                     stdout=subprocess.PIPE)
    out = proc.stdout.decode(errors="replace")
    sys.stderr.write(out)
    if proc.returncode != 0:
        fail("build failed (sbt exit %d)" % proc.returncode)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout the
    whole group is killed and reaped."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail("%s timed out after %d s" % (cmd[0], timeout))
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    proc.stdout = out
    return proc


def jvm(cp, args, pin_one_core=False, capture=False, timeout=RUN_TIMEOUT_S):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Djava.awt.headless=true",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if pin_one_core:
        cmd = ["taskset", "-c", "0"] + cmd + ["-XX:ActiveProcessorCount=1"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    return run_group(cmd, timeout=timeout, env=env,
                     stdout=subprocess.PIPE if capture else None)


def serial_baseline(cp, seed, seconds):
    ips = {}
    for pinned in (True, False):
        run_dir = os.path.join(BUILD, "run-baseline-%d" % pinned)
        proc = jvm(cp, ["--workload", "batch", "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "0",
                        "--dir", run_dir],
                   pin_one_core=pinned, capture=True, timeout=BASELINE_TIMEOUT_S)
        text = proc.stdout.decode(errors="replace")
        sys.stderr.write(text)
        if proc.returncode != 0:
            fail("baseline batch run failed (exit %d)" % proc.returncode)
        result = json.loads(text.strip().splitlines()[-1])
        ips[pinned] = result["metrics"]["images_per_s"]["value"]
    cores = os.cpu_count() or 1
    eff = ips[False] / (cores * ips[True])
    print("batch images_per_s: 1 core %.3f, %d cores %.3f" % (ips[True], cores, ips[False]))
    print(json.dumps({"scaling_eff_1to%d" % cores: eff,
                      "images_per_s_1": ips[True],
                      "images_per_s_%d" % cores: ips[False],
                      "gate": 0.8}))
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["batch", "stream"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--serial-baseline", action="store_true")
    a = ap.parse_args()
    if not a.serial_baseline and a.workload is None:
        ap.error("--workload is required")
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    cp = classpath()
    if a.serial_baseline:
        return serial_baseline(cp, a.seed, a.seconds)
    run_dir = os.path.join(BUILD, "run-%s-%d" % (a.workload, os.getpid()))
    proc = jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                    "--dir", run_dir])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
