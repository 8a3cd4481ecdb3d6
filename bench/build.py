"""Build file of the benchmark package.

Compiles the program's ``src/main/scala`` together with ``bench/src`` into
``bench/target/graftbench.jar`` with the Scala compiler that ships in the
Spark distribution, against the Spark jars the program itself builds
against. It then runs one short training JVM over every workload and keeps
the classes it loaded as a class-data-sharing archive, which cuts JVM and
Spark start-up in every run from about 6 s to about 3 s. A stamp over every
source file skips the build when nothing changed.

Usage: python3 bench/build.py    (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
JAR = TARGET / "graftbench.jar"
CDS = TARGET / "graftbench.jsa"
STAMP = TARGET / "build.stamp"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, else
    the one next to ``spark-submit`` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not jars.is_dir():
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources missing: {main}")
    found = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not any(str(p).startswith(str(main)) for p in found):
        raise BuildError("no program sources under src/main/scala")
    return found


def _stamp(srcs: list, jars: Path) -> str:
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def _jar(jars: Path, name: str) -> Path:
    found = sorted(jars.glob(f"{name}-2.*.jar"))
    if not found:
        raise BuildError(f"{name} jar not found in {jars}")
    return found[-1]


def classpath(jars: Path) -> str:
    return os.pathsep.join([str(JAR), str(jars / "*")])


def _jar_classes(classes: Path) -> None:
    tmp = JAR.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())
    tmp.replace(JAR)


def _archive(cp: str, jvm_flags: list, log) -> None:
    """Dump the classes a short run over every workload loads. Without the
    archive the runs still work, only their start-up is slower."""
    CDS.unlink(missing_ok=True)
    work = TARGET / f"train.{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + jvm_flags + [f"-XX:ArchiveClassesAtExit={CDS}", f"-Djava.io.tmpdir={work}",
           "-cp", cp, "graftbench.BenchMain", "train", str(work)])
    try:
        res = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=300)
        if res.returncode != 0 or not CDS.is_file():
            CDS.unlink(missing_ok=True)
            print("[build] class-data archive not made:\n" + res.stdout[-2000:], file=log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build(jvm_flags: list, log=sys.stderr) -> str:
    """Compile if needed; return the runtime classpath. ``jvm_flags`` are
    the runs' JVM flags, which the class-data archive must be made with."""
    jars = spark_jars()
    srcs = sources()
    stamp = _stamp(srcs, jars)
    if JAR.is_file() and STAMP.is_file() and STAMP.read_text() == stamp:
        return classpath(jars)
    compiler = [_jar(jars, n) for n in ("scala-compiler", "scala-library", "scala-reflect")]
    TARGET.mkdir(parents=True, exist_ok=True)
    tmp = TARGET / f"classes.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = TARGET / f"sources.{os.getpid()}.txt"
    argfile.write_text("\n".join(str(p) for p in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(str(p) for p in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", str(jars / "*"), f"@{argfile}"]
    print(f"[build] compiling {len(srcs)} sources", file=log, flush=True)
    try:
        res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=840)
    finally:
        argfile.unlink(missing_ok=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + res.stdout[-4000:])
    STAMP.unlink(missing_ok=True)
    _jar_classes(tmp)
    shutil.rmtree(tmp, ignore_errors=True)
    print("[build] making the class-data archive", file=log, flush=True)
    _archive(classpath(jars), jvm_flags, log)
    STAMP.write_text(stamp)
    return classpath(jars)


if __name__ == "__main__":
    import run
    try:
        print(build(run.jvm_flags()))
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
