#!/usr/bin/env python3
"""Benchmark entry point: builds the harness on first use, runs one workload in a
fresh JVM and prints the result as the last line of standard output.

    python3 perfbench/run.py --workload ingest_small_files --seed 1 \
        --seconds 10 --trace 0

Run it from anywhere inside a checkout; it reads and writes only inside
that checkout (build output and run directories go to `.bench_build/`).
The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The line before it stamps the run
(nproc, load, heap, session config, source digest); the full record,
spans included, is written to `.bench_build/results/`.

Extra options, not used by the benchmark's own command:
    --single-core-baseline
                         with --trace 1: also run at one core and report
                         each layer's speed-up against all cores
    --record             rewrite the operator library's expected results
"""
import argparse
import hashlib
import json
import os
import shutil
import socket
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
HARNESS = HERE / "harness"
LAUNCH = BUILD / "launch.txt"
DIGEST = BUILD / "launch.digest"
HEAP = "-Xmx3g"
# the JIT compiler's threads live as long as the JVM, so the harness can
# leave their CPU time (and the other JVM service threads') out of the
# per-operation CPU time it reports
JIT_THREADS = "-XX:-UseDynamicNumberOfCompilerThreads"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# the one-core diagnostic run is not part of the benchmark's command
BASELINE_TIMEOUT_S = 600


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of everything the build reads: the program and the harness."""
    h = hashlib.sha256()
    paths = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    paths += sorted((ROOT / "project").glob("*.s*"))
    for base in (ROOT / "src" / "main", HARNESS):
        paths += sorted(p for p in base.rglob("*")
                        if p.is_file() and "target" not in p.relative_to(base).parts)
    for p in paths:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_built(digest):
    if (LAUNCH.is_file() and DIGEST.is_file() and DIGEST.read_text() == digest
            and all(Path(p).exists() for p in launch_spec()[0])):
        return
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-Djava.io.tmpdir={tmp}", "launchSpec"],
                cwd=HARNESS, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}", 1)
    if rc != 0 or not LAUNCH.is_file():
        die(f"build failed (exit {rc}); see {log}", 1)
    DIGEST.write_text(digest)


def launch_spec():
    cp, jvm, section = [], [], None
    for line in LAUNCH.read_text().splitlines():
        if line.startswith("#"):
            section = line[1:]
        elif section == "classpath":
            cp.append(line)
        elif section == "jvm" and not line.startswith("-Xmx"):
            jvm.append(line)
    return cp, jvm


def free_port():
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return None


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_harness(args, cores, tag, timeout=RUN_TIMEOUT_S):
    cp, jvm = launch_spec()
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = (["java", HEAP, JIT_THREADS, f"-Djava.io.tmpdir={work / 'tmp'}"] + jvm +
           ["-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", str(work), "--out", str(out),
            "--port", str(free_port()),
            "--data", str(HERE / "data" / "sf0.001"),
            "--expected", str(HERE / "expected" / "library.json")] +
           (["--record"] if args.record else []))
    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log = logs / f"{args.workload}-{args.seed}-t{args.trace}-{tag}.log"
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            die(f"{args.workload} did not finish within {timeout}s; see {log}", 1)
    if rc != 0 or not out.is_file():
        die(f"{args.workload} failed (exit {rc}); see {log}", 1)
    result = json.loads(out.read_text())
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--single-core-baseline", action="store_true")
    p.add_argument("--record", action="store_true")
    args = p.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources under {ROOT}: expected build.sbt and src/main/scala")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        die(f"unknown workload '{args.workload}'; choose one of {names}")
    wanted = bench["per_layer" if args.trace else "end_to_end"]

    digest = source_digest()
    ensure_built(digest)
    load_before = loadavg()
    cores = os.cpu_count()
    result = run_harness(args, cores, f"c{cores}")
    load_after = loadavg()

    record = dict(result)
    if args.single_core_baseline and args.trace and cores > 1:
        single = run_harness(args, 1, "c1", BASELINE_TIMEOUT_S)
        record["single_core"] = single
        m, s = result["metrics"], single["metrics"]
        record["speedup"] = {k[:-len(".wall_s")]: s[k] / m[k]
                             for k in m if k.endswith(".wall_s") and m[k] > 0 and s.get(k, 0) > 0}

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores,
        "loadavg_before": load_before, "loadavg_after": load_after, "heap": HEAP,
        "jvm_flags": [HEAP, JIT_THREADS],
        "session": result.get("config"), "git_commit": git_commit(),
        "source_digest": digest, "failures": result.get("failures", [])[:10],
        "detail": {k: v for k, v in result.get("detail", {}).items() if k != "spans"},
    }
    record["stamp"] = stamp
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-{args.seed}-t{args.trace}-{int(time.time())}.json").write_text(
        json.dumps(record, indent=1))

    units = {m["name"]: m["unit"] for m in wanted}
    got = result["metrics"]
    missing = [n for n in units if n not in got or got[n] is None]
    if missing:
        die(f"harness did not report {missing}", 1)
    if "speedup" in record:
        print(json.dumps({"single_core_speedup": record["speedup"]}))
    print(json.dumps({"stamp": stamp}))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {n: {"value": got[n], "unit": u} for n, u in units.items()},
    }))


if __name__ == "__main__":
    main()
