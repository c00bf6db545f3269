#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source (``perfbench/build.sbt``, output under ``.bench_build/``);
later runs reuse the build while the sources are unchanged. Each run makes
its inputs from ``--seed`` under ``.bench_build/inputs``, runs one JVM for the
workload, checks every output, and prints one JSON object as its last
stdout line. A failed op is named on stderr and makes the run exit non-zero.
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
sys.path.insert(0, HERE)

from bench import gen, metrics, oracle  # noqa: E402
from bench.workloads import WORKLOADS  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")
# a run must end within 180 s; leave room for the result check
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 840
REFERENCE_DIR = os.path.join(HERE, "reference")
CORES = len(os.sched_getaffinity(0))
# offline, and with sbt's own scratch files (boot lock, server socket, JNA,
# temp and JVM perf-data files) kept out of the user's home and /tmp
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
            "-Dsbt.offline=true -Dsbt.server.autostart=false -Dsbt.boot.lock=false "
            f"-Djna.tmpdir={BUILD}/tmp -Djava.io.tmpdir={BUILD}/tmp -XX:-UsePerfData -Xmx2g")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Size and mtime of every source file the build reads."""
    parts = []
    for top in (ENGINE_SRC, HARNESS_SRC, os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            st = os.stat(top)
            parts.append(f"{top}:{st.st_size}:{st.st_mtime_ns}")
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                st = os.stat(os.path.join(d, f))
                parts.append(f"{d}/{f}:{st.st_size}:{st.st_mtime_ns}")
    return "\n".join(parts)


def ensure_build():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found under {ENGINE_SRC}; run from the repository root")
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=SBT_OPTS)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {rc}); see {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def generator_version():
    """Inputs, and digests recorded over them, are valid only for the
    generator that made them."""
    with open(gen.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def make_inputs(w, seed):
    """Generate the workload's inputs once per (kind, size, seed)."""
    key = f"{w['inputs']}-{w['size']}-seed{seed}-{generator_version()}"
    path = os.path.join(BUILD, "inputs", key)
    done = os.path.join(path, ".complete")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        if w["inputs"] == "lake":
            gen.lake(path, seed, w["size"])
        else:
            gen.warehouse(path, seed, w["size"])
        open(done, "w").close()
    return path


def cpu_jiffies():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def warm_passes(w, seconds):
    """Warm passes that fill `seconds` at the workload's nominal warm pass
    time on a 4-core host. A fixed function of `seconds`, not of the time
    taken, so every run of a workload does the same work."""
    return max(1, round(seconds / w["warm_pass_s"]))


def run_jvm(cp, w, inputs, args, work, export):
    record = os.path.join(work, "record.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
           f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--mode", w["mode"], "--inputs", inputs, "--record", record,
            "--warm-passes", str(warm_passes(w, args.seconds)), "--trace", str(args.trace),
            "--cores", str(CORES), "--work", work]
    if w["mode"] == "queries":
        cmd += ["--rows", ",".join(w["rows"])]
        if export:
            cmd += ["--export", os.path.join(work, "export")]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)

        def stop(signum, _frame):  # never leave the JVM behind
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"workload JVM exceeded {JVM_TIMEOUT_S} s and was stopped", 4)
    if rc != 0 or not os.path.exists(record):
        sys.stderr.write(open(log).read()[-4000:])
        die(f"workload JVM failed (exit {rc})", 4)
    with open(record) as f:
        return json.load(f)


def load_reference(workload):
    path = os.path.join(REFERENCE_DIR, f"{workload}.json")
    if not os.path.exists(path):
        return {"generator": generator_version()}
    with open(path) as f:
        ref = json.load(f)
    return ref if ref.get("generator") == generator_version() else {"generator": generator_version()}


def save_reference(workload, seed, rec, checks):
    """Store the run's first-pass digests as the seed's reference, with the
    oracle verdict each row's digest was cross-checked under."""
    ref = load_reference(workload)
    ref.setdefault("seeds", {})[str(seed)] = {
        "digests": {o["name"]: o["digest"] for o in rec["ops"] if o["pass"] == 0},
        "oracle": {c["name"].split(":", 1)[1]: c["status"] + (f": {c['detail']}" if c["detail"] else "")
                   for c in checks if c["name"].startswith("oracle:")},
    }
    os.makedirs(REFERENCE_DIR, exist_ok=True)
    with open(os.path.join(REFERENCE_DIR, f"{workload}.json"), "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-reference", action="store_true",
                    help="check against the DuckDB oracle and store the digests as this "
                         "seed's reference")
    args = ap.parse_args()

    w = WORKLOADS[args.workload]
    t0 = time.time()
    cp = ensure_build()
    t1 = time.time()
    inputs = make_inputs(w, args.seed)
    t2 = time.time()
    # a seed with committed reference digests is checked against them; any
    # other seed, or a recording run, exports its results for the oracle
    refs = None
    if w["mode"] == "queries" and not args.record_reference:
        refs = load_reference(args.workload).get("seeds", {}).get(str(args.seed), {}).get("digests")
        if refs is not None and not set(w["rows"]) <= set(refs):
            refs = None  # recorded for another row list
    export = w["mode"] == "queries" and refs is None
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        steal0, total0 = cpu_jiffies()
        rec = run_jvm(cp, w, inputs, args, work, export)
        steal1, total1 = cpu_jiffies()
        # CPU time the hypervisor gave to other guests during the run: wall
        # times read high when this is high
        rec["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
        checks = list(rec.get("checks", []))
        t3 = time.time()
        if export:
            checks += oracle.check(inputs, os.path.join(work, "export"), rec["oracle_sql"],
                                   w["rows"])
        print(f"[perfbench] build {t1 - t0:.1f} s, inputs {t2 - t1:.1f} s, "
              f"jvm {t3 - t2:.1f} s, oracle {time.time() - t3:.1f} s, "
              f"steal {rec['steal_share']:.1%}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result, failures = metrics.summarize(rec, checks, args.trace == 1, CORES, refs)
    for c in checks:
        if c.get("status") == "unchecked":
            print(f"[perfbench] unchecked {c['name']}: {c['detail']}", file=sys.stderr)
    for f in failures:
        print(f"[perfbench] FAILED {f}", file=sys.stderr)
    if args.record_reference and export and not failures:
        save_reference(args.workload, args.seed, rec, checks)
    print(json.dumps(result))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
