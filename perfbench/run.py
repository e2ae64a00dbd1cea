"""Runs one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload wc_zipf --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Builds the engine and the benchmark (perfbench/build.py) and, once per
build, the class-data archive its JVMs start from, then runs the benchmark
in one JVM. Its `[perfbench]` lines name every metric with its unit; the
last line of standard output is the JSON result, whose metrics are the
`end_to_end` (trace 0) or `per_layer` (trace 1) list of BENCHMARK.json. Every file the run makes
lives under .bench_build/ and the run's own work directory is removed when
it ends. Exit code 0 only when every job's output matched the ground truth.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["wc_zipf", "wc_distinct", "dedup_minhash", "wc_stream"]
# A run may take 180 s; the JVM gets all but the time left for cleanup.
JVM_TIMEOUT_S = 170
HEAP = "3g"
# What spark-submit adds for Spark on JDK 17 (JavaModuleOptions), as the
# engine's own build.sbt does for its forked runs.
JVM_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
        "sun.nio.cs", "sun.security.action", "sun.util.calendar")
] + [
    "-XX:+IgnoreUnrecognizedVMOptions",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "--add-opens=java.security.jgss/sun.security.krb5=ALL-UNNAMED",
    "-Djdk.reflect.useDirectMethodHandleAccessor=false",
    "-Dio.netty.tryReflectionSetAccessible=true",
    "-Dio.netty.allocator.type=pooled",
    "--enable-native-access=ALL-UNNAMED",
    # JVM log lines (class-data archive warnings among them) go to stderr:
    # the last line of stdout is the result
    "-Xlog:disable", "-Xlog:all=warning:stderr",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{HEAP}", f"-Xms{HEAP}",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def metrics(trace):
    """The metrics a run reports, as `name:unit,...`, from BENCHMARK.json."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if trace else "end_to_end"]
    return ",".join(f"{m['name']}:{m['unit']}" for m in listed)


def run_jvm(classpath, main, args, work, input_dir=None, opts=(), out=sys.stdout):
    """Runs `main` in a JVM inside `work`; relays its stdout to `out`; returns
    its exit code. `input_dir` is the workload's input directory, from which
    GraftSession derives its initial shuffle width; `opts` are more JVM
    options."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(cores())
    if input_dir:
        env["SPARK_GRAFT_SF_DIR"] = input_dir
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *JVM_OPTS, *opts, f"-Djava.io.tmpdir={tmp}", "-cp", classpath, main, *args]
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        text, _ = p.communicate(timeout=JVM_TIMEOUT_S)
        out.write(text)
        return p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"[perfbench] the JVM did not finish within {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 4
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def class_archive(classpath):
    """JVM options that map this build's class-data archive, which holds the
    classes a run loads already parsed and verified, so that a cold JVM and
    its first session start in about half the time. Once per build, the
    self-test makes the archive as it exits. No options when that failed: the
    runs are then correct, but start slower."""
    if not os.path.isfile(build.ARCHIVE):
        work = os.path.join(build.OUT, "work", f"archive-{os.getpid()}")
        tmp = f"{build.ARCHIVE}.{os.getpid()}.tmp"
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        print("[perfbench] making the class-data archive", file=sys.stderr, flush=True)
        try:
            run_jvm(classpath, "perfbench.SelfTest", ["--work", work], work,
                    opts=[f"-XX:ArchiveClassesAtExit={tmp}"], out=sys.stderr)
            if os.path.isfile(tmp):
                os.replace(tmp, build.ARCHIVE)
            else:
                print("[perfbench] no class-data archive was made", file=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            if os.path.exists(tmp):
                os.remove(tmp)
    return [f"-XX:SharedArchiveFile={build.ARCHIVE}"] if os.path.isfile(build.ARCHIVE) else []


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1])
    ap.add_argument("--size", choices=["full", "tiny"], default="full",
                    help="tiny: seconds-long inputs for the benchmark's own tests")
    ap.add_argument("--selftest", action="store_true",
                    help="check that every workload's output check rejects a corrupted output")
    a = ap.parse_args()
    if not a.selftest and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 3
    cds = class_archive(classpath)
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(build.OUT, "work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            return run_jvm(classpath, "perfbench.SelfTest", ["--work", work], work, opts=cds)
        return run_jvm(classpath, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--metrics", metrics(a.trace), "--size", a.size,
            "--work", work], work, input_dir=os.path.join(work, "in"), opts=cds)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
