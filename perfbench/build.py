"""Build file of the service-path benchmark.

Compiles the program's sources (src/main/scala of the repository) together
with the benchmark's own (perfbench/src/main/scala, and for the self-test
perfbench/src/test/scala) using the Scala compiler that ships with the Spark
distribution, so no build tool and no network are needed, and packs the
classes with the program's resources into one jar (the class-data archive
run.py makes maps classes from jars only). Output is cached under
.bench_build/perfbench/<source hash>/ in the checkout.

    python3 perfbench/build.py            # build, print the class path
"""

import hashlib
import os
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jars of the Spark distribution: $SPARK_HOME's, else those of the
    first spark-submit on PATH that ships a Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = home / "jars"
        if any(jars.glob("scala-compiler-*.jar")) and any(jars.glob("spark-sql_*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def sources(test: bool) -> list:
    program = ROOT / "src" / "main" / "scala"
    if not (program / "graft" / "sync" / "Syncer.scala").is_file():
        raise BuildError(f"program sources not found under {program}")
    if not (ROOT / "config" / "entities.yml").is_file():
        raise BuildError("config/entities.yml not found")
    dirs = [program, BENCH / "src" / "main" / "scala"]
    if test:
        dirs.append(BENCH / "src" / "test" / "scala")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def build(test: bool = False) -> str:
    """Compile if needed; return the run-time class path."""
    jars = spark_jars()
    srcs = sources(test)
    h = hashlib.sha256(Path(__file__).read_bytes())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(str(sorted(x.name for x in jars.glob("scala-*.jar"))).encode())
    classes = OUT / f"{h.hexdigest()[:16]}{'-test' if test else ''}" / "classes"
    done = classes.parent / "done"
    jar = classes.parent / "app.jar"
    resources = ROOT / "src" / "main" / "resources"
    if not done.exists():
        classes.mkdir(parents=True, exist_ok=True)
        argfile = classes.parent / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main",
               "-nowarn", "-deprecation:false", "-classpath", f"{jars}/*",
               "-d", str(classes), f"@{argfile}"]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-8000:])
        tmp = jar.with_suffix(".tmp")
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
            for base in (classes, resources):
                for p in sorted(base.rglob("*")):
                    if p.is_file():
                        z.write(p, str(p.relative_to(base)))
        tmp.rename(jar)
        done.write_text("ok\n")
    return os.pathsep.join([str(jar), f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(build(test="--test" in sys.argv))
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
