"""Build file of the benchmark: compiles the engine of the checkout this
directory sits in, then the benchmark against it, with the Scala compiler
that ships among the Spark jars the engine's build.sbt links.

    python3 perfbench/build.py          # prints the runtime classpath

Outputs go to .bench_build/ at the checkout root. A build is reused only
while a digest of every compiled source (engine and benchmark), the Scala
version and this file is unchanged, so a checkout always measures its own
code. The build ends with a class-data-sharing archive of the classes a
small `cluster` run loads, which takes seconds off every JVM start.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def _build_sbt() -> str:
    f = ROOT / "build.sbt"
    if not f.is_file():
        raise BuildError(f"no engine build file at {f.name}: not a checkout")
    return f.read_text()


def scala_version() -> str:
    m = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', _build_sbt())
    if not m:
        raise BuildError("build.sbt names no scalaVersion")
    return m.group(1)


def spark_jars() -> Path:
    """The unmanaged jar directory build.sbt links (Spark and Scala)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', _build_sbt())
    d = Path(m.group(1)) if m else Path(os.environ.get("SPARK_HOME", "")) / "jars"
    if not d.is_dir():
        raise BuildError(f"Spark jar directory {d} is missing")
    return d


def _sources(base: Path) -> list:
    return sorted(p for p in base.rglob("*.scala") if p.is_file())


def _digest(files: list, extra: str) -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0")
        h.update(f.read_bytes() + b"\0")
    return h.hexdigest()


def _scalac(jars: Path, version: str, out: Path, classpath: list,
            sources: list) -> None:
    compiler = [jars / f"scala-{n}-{version}.jar"
                for n in ("compiler", "library", "reflect")]
    missing = [str(j) for j in compiler if not j.is_file()]
    if missing:
        raise BuildError(f"Scala {version} compiler jars missing: {missing}")
    out.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", os.pathsep.join(map(str, classpath)),
           *map(str, sources)]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed ({r.returncode}) for {out.name}")


def java_command(classpath: str, work: Path, heap_mb: int, extra=()) -> list:
    """The JVM command line every benchmark run (and the archive's training
    run) uses; Spark on JDK 17 needs the module opens."""
    archive = BUILD / "classes" / "app.jsa"
    return ["java",
            *[x for m in ADD_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")],
            # no hsperfdata file: the JVM would write it outside the checkout
            "-XX:-UsePerfData", f"-Xmx{heap_mb}m", "-XX:+UseG1GC",
            *([f"-XX:SharedArchiveFile={archive}"] if archive.is_file() else []),
            *extra,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", classpath]


def _jar(classes: Path, jar: Path) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())


def _archive(classpath: str) -> None:
    """Dump the classes a smoke-size `cluster` run loads into a CDS archive.
    Every run of a checkout starts from it, so a build without one is an
    error: a checkout that silently lost it would start seconds slower
    than one that has it. The JVM dumps the archive at exit, also when the
    training run's checks fail; those failures show in the measured runs."""
    work = BUILD / "work" / "cds-training"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    archive = BUILD / "classes" / "app.jsa"
    print("[build] training run for the class-data-sharing archive",
          file=sys.stderr, flush=True)
    cmd = java_command(classpath, work, 2048,
                       [f"-XX:ArchiveClassesAtExit={archive}"])
    cmd += ["perfbench.Main", "--mode", "job", "--workload", "cluster",
            "--seed", "0", "--size", "smoke", "--cores", "2",
            "--work", str(work), "--traces", str(work)]
    r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if not archive.is_file():
        raise BuildError(f"no CDS archive (training run exit {r.returncode})")


def _compile(out: Path, stamp: str, compile_into) -> None:
    """Compile into `out` unless its stamp matches; atomic via a temp dir."""
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    compile_into(tmp)
    (tmp / "stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build() -> str:
    """Compile what is stale; return the runtime classpath string."""
    version = scala_version()
    jars = spark_jars()
    spark_cp = sorted(jars.glob("*.jar"))
    engine_src = _sources(ROOT / "src" / "main" / "scala")
    if not engine_src:
        raise BuildError("no engine sources under src/main/scala")
    bench_src = _sources(HERE / "src")
    engine = BUILD / "classes" / "engine"
    bench = BUILD / "classes" / "bench"
    engine_stamp = _digest(engine_src, version + Path(__file__).read_text())
    bench_stamp = _digest(bench_src, engine_stamp)

    def compile_engine(tmp: Path) -> None:
        print(f"[build] compiling {len(engine_src)} engine sources "
              f"(Scala {version})", file=sys.stderr, flush=True)
        _scalac(jars, version, tmp, spark_cp, engine_src)
        resources = ROOT / "src" / "main" / "resources"
        if resources.is_dir():
            shutil.copytree(resources, tmp, dirs_exist_ok=True)

    def compile_bench(tmp: Path) -> None:
        print(f"[build] compiling {len(bench_src)} benchmark sources",
              file=sys.stderr, flush=True)
        _scalac(jars, version, tmp, [engine, *spark_cp], bench_src)

    _compile(engine, engine_stamp, compile_engine)
    _compile(bench, bench_stamp, compile_bench)
    # CDS archives only classes from jars, so the run uses jars of both
    jar_stamp = BUILD / "classes" / "jars.stamp"
    engine_jar = BUILD / "classes" / "engine.jar"
    bench_jar = BUILD / "classes" / "bench.jar"
    classpath = os.pathsep.join(
        [str(bench_jar), str(engine_jar), str(jars / "*")])
    if not (jar_stamp.is_file() and jar_stamp.read_text() == bench_stamp):
        jar_stamp.unlink(missing_ok=True)
        (BUILD / "classes" / "app.jsa").unlink(missing_ok=True)
        _jar(engine, engine_jar)
        _jar(bench, bench_jar)
        _archive(classpath)
        jar_stamp.write_text(bench_stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
