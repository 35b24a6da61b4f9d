#!/usr/bin/env python3
"""Run one perfbench workload from the root of a checkout.

    python3 perfbench/run.py --workload query_batch --seed 1 --seconds 3 --trace 0

Builds the engine and the harness with sbt when their sources changed
(the classpath is cached under perfbench/target). The build ends with one
untimed throwaway run per workload that writes the workload's
class-data-sharing archive, so every measured run starts from the same
archive whatever ran before it. Then runs the JVM harness and prints its
result object as the last stdout line. Exits non-zero, without a result,
when the engine's sources are absent.
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
WORKLOADS = ("query_batch", "catalog_open", "day2_ingest")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
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
    """Every input of the build, relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def source_digest():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g"
    return env


def java_cmd(cp, opts):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Xmx3g", "-XX:+UseG1GC"] + opts + ["-cp", cp])


def archive_path(digest, workload):
    return os.path.join(TARGET, f"cds-{digest[:12]}-{workload}.jsa")


def classpath(digest):
    """Build if the sources changed; return the runtime classpath."""
    stamp = os.path.join(TARGET, "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            built = json.load(fh)
        if built.get("digest") == digest and all(os.path.exists(archive_path(digest, w)) for w in WORKLOADS):
            return built["classpath"]
    print("[perfbench] building engine + harness with sbt", file=sys.stderr)
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    sys.stderr.write("\n".join(l for l in lines if not l.startswith("/"))[-4000:] + "\n")
    if proc.returncode != 0 or not lines or not lines[-1].startswith("/"):
        fail(f"sbt build failed (exit {proc.returncode})")
    cp = lines[-1]
    os.makedirs(TARGET, exist_ok=True)
    for f in os.listdir(TARGET):
        if f.startswith("cds-") and not f.startswith(f"cds-{digest[:12]}-"):
            os.remove(os.path.join(TARGET, f))
    for w in WORKLOADS:
        make_archive(cp, digest, w)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp}, fh)
    return cp


def make_archive(cp, digest, workload):
    """Write the workload's class-data-sharing archive: the classes an
    untimed throwaway run of it loads (set-up plus one unit of work).
    Measured runs map the archive instead of loading them again."""
    cds = archive_path(digest, workload)
    tmp = f"{cds}.{os.getpid()}.tmp"
    work = os.path.join(HERE, "work", f"cds-{workload}-{os.getpid()}")
    print(f"[perfbench] writing the class-data-sharing archive of {workload}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = java_cmd(cp, [f"-XX:ArchiveClassesAtExit={tmp}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
                        f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"])
    cmd += ["perfbench.Main", "--workload", workload, "--seed", "0", "--seconds", "0", "--trace", "0",
            "--root", ROOT, "--work", work, "--record", os.path.join(work, "record.json")]
    rc = run_jvm(cmd, subprocess.DEVNULL, lambda: shutil.rmtree(work, ignore_errors=True))[0]
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(tmp):
        if os.path.exists(tmp):
            os.remove(tmp)
        fail(f"throwaway run of {workload} failed (exit {rc})")
    os.replace(tmp, cds)


def run_jvm(cmd, stdout, cleanup):
    """Run the JVM in its own session; kill it, clean up and fail on
    timeout or when this process is stopped. Returns (exit code, stdout)."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env()[0], stdout=stdout, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def stop(reason):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        cleanup()
        fail(reason)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda s, _f: stop(f"stopped by signal {s}"))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"run exceeded {RUN_TIMEOUT_S}s")
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, signal.SIG_DFL)
    return proc.returncode, out


def child_env():
    """The JVM runs without any SPARK_GRAFT_* variable: the engine reads
    SPARK_GRAFT_BENCH_PARALLEL to size a cache, and both sides of an A/B
    must run the same engine configuration."""
    seen = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    return env, seen


def git_commit():
    """HEAD of the checkout, or None when the checkout is not a git repository."""
    try:
        top = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return None
    lines = top.stdout.split()
    if top.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", metavar="DIR",
                    help="regenerate expected/query_batch.json, writing query outputs under DIR")
    a = ap.parse_args()
    if a.record_expected is None and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ROOT}/src/main/scala — run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    digest = source_digest()
    cp = classpath(digest)
    if a.record_expected is not None:
        out = os.path.abspath(a.record_expected)
        sys.exit(subprocess.run(java_cmd(cp, []) + ["perfbench.RecordExpected", ROOT, out],
                                cwd=ROOT, env=child_env()[0]).returncode)
    t0_ms = int(time.time() * 1000)  # set-up time starts after the (cached) build

    results = os.path.join(HERE, "results")
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    record = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    seen = child_env()[1]
    cmd = java_cmd(cp, [f"-XX:SharedArchiveFile={archive_path(digest, a.workload)}", "-Xlog:cds=off",
                        "-Xlog:cds+dynamic=off", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"])
    cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", ROOT,
            "--work", work, "--record", record, "--t0-ms", str(t0_ms)]
    rc, out = run_jvm(cmd, subprocess.PIPE, lambda: shutil.rmtree(work, ignore_errors=True))
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if rc != 0 or not lines:
        sys.stdout.write(out)
        fail(f"harness exited with {rc}")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result

    # Run record: what the JVM cannot see for itself.
    with open(record) as fh:
        rec = json.load(fh)
    rec["git_commit"] = git_commit()
    rec["source_sha1"] = digest
    rec["spark_graft_env"] = seen
    rec["spark_graft_env_note"] = "every SPARK_GRAFT_* variable is removed from the harness JVM's environment"
    if a.trace == 1:
        untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        rec["tracing_overhead"] = overhead(untraced, rec)
    with open(record, "w") as fh:
        json.dump(rec, fh, indent=2)
    for l in lines[:-1]:
        print(l)
    if a.trace == 1:
        print("perfbench-trace-overhead " + json.dumps(rec["tracing_overhead"]))
    print(lines[-1])


def overhead(untraced_path, traced):
    """End-to-end difference between this traced run and the untraced
    run of the same workload and seed, when its record exists."""
    if not os.path.exists(untraced_path):
        return {"note": "no untraced record for this workload and seed; run --trace 0 first"}
    with open(untraced_path) as fh:
        base = json.load(fh)
    out = {}
    for m in ("ops_per_s", "latency_p50_s"):
        b = base["end_to_end"][m]["value"]
        t = traced["end_to_end"][m]["value"]
        out[m] = {"untraced": b, "traced": t, "change": t / b - 1}
    return out


if __name__ == "__main__":
    main()
