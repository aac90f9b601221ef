"""Service-path benchmark: initial sync, block catch-up and index lifecycle.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test [--full [workload ...]]

Builds the program and the benchmark from source (perfbench/build.py), runs
one seeded workload in a fresh JVM, and prints the result as the last line
of standard output: {"correct", "attempted", "failed", "metrics"}. The line
before it ("perfbench-detail {...}") and
.bench_build/perfbench/results/<workload>-seed<n>-trace<t>.json carry the
full report: per-op latencies, workload metrics, checks, digests and the
calibration probe. See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("initial_sync", "cdc_catchup", "index_lifecycle")
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm(classpath: str, main: str, args: list, tag: str, timeout: float,
        flags: list = ()) -> tuple:
    """Run one JVM in its own process group; return (exit code, stdout lines)."""
    out = build.OUT
    out.mkdir(parents=True, exist_ok=True)
    scratch = Path(tempfile.mkdtemp(prefix=f"{tag}-", dir=out))
    (out / "logs").mkdir(parents=True, exist_ok=True)
    log = out / "logs" / f"{tag}.log"
    # The program's JVM flags (build.sbt), plus C1-only compilation: every
    # run is a fresh JVM of about a minute, and with C2 on a 4-core box a
    # run spends much of that minute compiling (one cdc_catchup run: 73 s
    # wall and 9.1 s per block with C2, 53 s and 5.9 s with C1 only).
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing", "-Xmx3g",
        "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
        "-Xlog:disable", "-Xlog:all=warning:stderr"] + list(flags) + [
        f"-Djava.io.tmpdir={scratch}",
        f"-Dspark.local.dir={scratch / 'spark-local'}",
        f"-Dspark.sql.warehouse.dir={scratch / 'warehouse'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, main] + args + ["--work", str(scratch / "work")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=err,
                                text=True, env=env, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            stdout = ""
            print(f"perfbench: {tag} timed out after {timeout:.0f} s", file=sys.stderr)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
    return proc.returncode, stdout.splitlines()


def class_archive(classpath: str) -> Path:
    """The class-data archive (AppCDS) of one build, made once: a small
    index_lifecycle run records the classes it loads (the session's, Spark
    SQL's and the sink's), and each measured run maps them instead of
    loading and verifying them from the jars (on a 4-core box session start
    fell from 5-6 s to 2.5 s, and the first index build from 13 s to 10 s).
    Each build, so parent and change alike, gets its own archive."""
    jsa = Path(classpath.split(os.pathsep)[0]).with_name("app.jsa")
    if not jsa.exists():
        tmp = jsa.with_suffix(".tmp")
        tmp.unlink(missing_ok=True)
        args = ["--workload", "index_lifecycle", "--seed", "1", "--seconds", "1",
                "--trace", "0", "--small", "1", "--config", str(build.ROOT / "config" / "entities.yml")]
        code, _ = jvm(classpath, "perfbench.Main", args, "archive", 600,
                      [f"-XX:ArchiveClassesAtExit={tmp}"])
        if code != 0 or not tmp.is_file():
            raise build.BuildError(f"class archive run exited with {code}")
        tmp.rename(jsa)
    return jsa


def run_workload(classpath: str, workload: str, seed: int, seconds: float, trace: int,
                 extra: list = (), archive: Path = None) -> dict:
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--config", str(build.ROOT / "config" / "entities.yml"),
            "--results", str(build.OUT / "results")] + list(extra)
    tag = f"{workload}-seed{seed}-trace{trace}"
    flags = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    code, lines = jvm(classpath, "perfbench.Main", args, tag, RUN_TIMEOUT_S, flags)
    if code != 0 or not lines:
        raise RuntimeError(f"{tag}: JVM exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise RuntimeError(f"{tag}: malformed result line {lines[-1][:200]}")
    detail = next((json.loads(x.split(" ", 1)[1]) for x in lines
                   if x.startswith("perfbench-detail ")), {})
    return {"result": result, "detail": detail, "lines": lines}


def self_test(full: bool, workloads: list) -> int:
    classpath = build.build(test=True)
    code, lines = jvm(classpath, "perfbench.SelfTest",
                      ["--benchmark", str(build.ROOT / "BENCHMARK.json")], "selftest", 600)
    print("\n".join(lines))
    if code != 0:
        return 1
    if not full:
        return 0
    # end to end at small scale: a clean run passes, the same seed repeats
    # its digests, another seed passes, and one dropped or altered row fails
    failures = 0

    def check(w, name, ok):
        nonlocal failures
        print(f"{'PASS' if ok else 'FAIL'} {w}: {name}", flush=True)
        failures += 0 if ok else 1

    for w in workloads:
        small = ["--small", "1"]
        try:
            a = run_workload(classpath, w, 1, 2, 0, small)
            b = run_workload(classpath, w, 1, 2, 0, small)
            c = run_workload(classpath, w, 2, 2, 1, small)
        except RuntimeError as e:
            check(w, f"clean runs complete ({e})", False)
            continue
        check(w, "clean run is correct", a["result"]["correct"] and a["result"]["failed"] == 0)
        check(w, "same seed, same input digest", a["detail"]["input_digest"] == b["detail"]["input_digest"])
        check(w, "same seed, same result digest", a["detail"]["result_digest"] == b["detail"]["result_digest"])
        check(w, "second seed is correct (traced)", c["result"]["correct"])
        check(w, "second seed, other inputs", c["detail"]["input_digest"] != a["detail"]["input_digest"])
        for mode, what in (("drop", "one dropped row"), ("alter", "one altered row")):
            try:
                d = run_workload(classpath, w, 1, 2, 0, small + ["--corrupt", mode])
                check(w, f"{what} is rejected", not d["result"]["correct"])
            except RuntimeError as e:
                check(w, f"corrupted run completes ({e})", False)
    return 1 if failures else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--full", nargs="*", choices=WORKLOADS, default=None,
                    help="self-test end to end too (all workloads, or those named)")
    a = ap.parse_args()
    try:
        if a.self_test:
            return self_test(a.full is not None, a.full or list(WORKLOADS))
        if not a.workload:
            ap.error("--workload is required")
        t0 = time.time()
        classpath = build.build()
        archive = class_archive(classpath)
        built = time.time() - t0
        run = run_workload(classpath, a.workload, a.seed, a.seconds, a.trace, archive=archive)
    except (build.BuildError, RuntimeError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(f"perfbench: build {built:.1f} s", file=sys.stderr)
    for line in run["lines"][:-1]:
        print(line)
    print(json.dumps(run["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
