#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--scale full|tiny]

Run from the repository root. The first run builds graft and the benchmark from
source with sbt (the benchmark's own build in perfbench/ depends on the graft
sources one directory up); later runs reuse the build while the sources are
unchanged. The measuring program prints progress on stderr and, as the last line
of stdout, one JSON object: {"correct", "attempted", "failed", "metrics"}.
"""
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(HERE, ".build", "classpath")
STAMP = os.path.join(HERE, ".build", "sources.sha1")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside spark-submit
# (the same list the graft build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: graft's build and sources, the benchmark's own."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def sources_digest():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found next to perfbench/ (build.sbt, src/main/scala/graft)")
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP) and open(STAMP).read() == digest:
        return digest
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building graft and the benchmark with sbt", file=sys.stderr)
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "bench/writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest)
    return digest


def heap():
    """A quarter of physical memory, between 2 and 6 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        gb = max(2, min(6, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def main(argv):
    digest = build()
    tmp = os.path.join(STATE, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.dir={STATE}",
           f"-Dperfbench.inputKey={digest[:12]}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"measuring program failed (exit {proc.returncode})")
    trace = dict(zip(argv[::2], argv[1::2])).get("--trace") == "1"
    print(json.dumps(as_listed(json.loads(lines[-1]), trace)))


def as_listed(result, trace):
    """The result with its metrics in BENCHMARK.json's order. Every end-to-end metric
    must have been measured; a layer the workload bypasses reports 0. A name or unit
    BENCHMARK.json does not list is an error."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        listed = json.load(fh)["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    units = {m["name"]: m["unit"] for m in listed}
    for name, m in got.items():
        if units.get(name) != m["unit"]:
            fail(f"metric {name} ({m['unit']}) is not listed in BENCHMARK.json with that unit")
    metrics = {}
    for name, unit in units.items():
        if name not in got and not trace:
            fail(f"end-to-end metric {name} was not measured")
        metrics[name] = got.get(name, {"value": 0.0, "unit": unit})
    return dict(result, metrics=metrics)


if __name__ == "__main__":
    main(sys.argv[1:])
