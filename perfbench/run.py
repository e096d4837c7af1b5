#!/usr/bin/env python3
"""Repository benchmark: ELT daily batches and a curation query session.

Run from the repository root:

    python3 perfbench/run.py --workload elt_daily --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source with sbt (the first run;
later runs reuse the build while the sources are unchanged), then runs one
JVM with a single closed-loop client at local[nproc]. The last line of
standard output is one JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. Everything the run writes stays under
.bench_build/ in the repository root; the run's details (samples, spans,
load average, failures) go to .bench_build/artifacts/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("elt_daily", "curation_session")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT} (build.sbt, src/main/scala)")
    digest = sources_digest()
    stamp, cp_file = BUILD / "build.digest", BUILD / "classpath.txt"
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's own state and locks go under .bench_build too; the toolchain's
    # caches are only read
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={BUILD / 'sbt-global'}", f"-Dsbt.ivy.home={BUILD / 'ivy'}",
           "-Dsbt.boot.lock=false", "-Dsbt.server.autostart=false",
           f"-Djava.io.tmpdir={tmp}", "compile", "export perfbench/Runtime/fullClasspath"]
    try:
        res = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                             timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1]


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap():
    """Fixed heap (-Xms == -Xmx): a quarter of memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        gib = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{gib}g"


def spec():
    path = ROOT / "BENCHMARK.json"
    if not path.is_file():
        fail("BENCHMARK.json not found at the repository root")
    return json.loads(path.read_text())


def finish(result, bench, traced, artifact):
    """Checks the JVM's metrics against BENCHMARK.json. A per-layer metric
    of a layer the workload does not exercise is reported as 0."""
    wanted = {m["name"]: m["unit"] for m in bench["per_layer" if traced else "end_to_end"]}
    got = result["metrics"]
    unknown = sorted(set(got) - set(wanted))
    if unknown:
        fail(f"metrics not in BENCHMARK.json: {unknown}")
    for name, m in got.items():
        if m["unit"] != wanted[name]:
            fail(f"{name}: unit {m['unit']} but BENCHMARK.json says {wanted[name]}")
    missing = [n for n in wanted if n not in got]
    if missing and not traced:
        fail(f"end-to-end metrics missing: {missing}")
    result["metrics"] = {n: got.get(n, {"value": 0.0, "unit": u}) for n, u in wanted.items()}
    if missing:
        record = json.loads(artifact.read_text())
        record["not_exercised"] = missing
        artifact.write_text(json.dumps(record))
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # terminated, the benchmark takes its build or JVM down with it: the
    # exit unwinds through subprocess.run and the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    bench = spec()
    classpath = build()
    cores = nproc()
    run_dir = BUILD / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    artifact = BUILD / "artifacts" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores),
        # fixture state per run, never the engine's shared target/ default
        "SPARK_GRAFT_DEDUP_STATE_DIR": str(run_dir / "dedup-state"),
        "SPARK_GRAFT_INDEX_DIR": str(run_dir / "index"),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
    })
    mem = heap()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xmx{mem}", f"-Xms{mem}", "-Dspark.ui.enabled=false",
              f"-Djava.io.tmpdir={run_dir}", "-cp", classpath, "perfbench.Main",
              a.workload, str(a.seed), str(a.seconds), str(a.trace), str(run_dir), str(artifact)])
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = [l for l in stdout.splitlines() if l.strip()]
        if proc.returncode != 0 or not lines:
            fail(f"benchmark JVM exited with {proc.returncode}")
        result = finish(json.loads(lines[-1]), bench, a.trace == 1, artifact)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
