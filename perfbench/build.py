"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark (`perfbench/scala`) into one class directory with the Scala
compiler that ships among Spark's jars, so a build needs neither sbt nor a
network. A build is skipped when a stamp of every source matches.

Usage: python3 perfbench/build.py [OUT_DIR]   (default: .bench_build)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent


def spark_jars() -> list[Path]:
    """Spark's jars, from SPARK_HOME or from the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = sorted((Path(home) / "jars").glob("*.jar")) if home else []
    if not jars:
        sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def classpath(jars: list[Path], *extra: Path) -> str:
    return os.pathsep.join([str(p) for p in extra] + [str(j) for j in jars])


def sources(root: Path) -> list[Path]:
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        sys.exit(f"perfbench: no program sources at {program}")
    return sorted(program.rglob("*.scala")) + sorted((BENCH_DIR / "scala").rglob("*.scala"))


def build(root: Path, out: Path) -> Path:
    """Compile into `out/classes` unless its stamp matches; return that dir."""
    jars = spark_jars()
    srcs = sources(root)
    digest = hashlib.sha256()
    for p in srcs + jars:
        digest.update(str(p.relative_to(root) if p.is_relative_to(root) else p.name).encode())
        if p.suffix == ".scala":
            digest.update(p.read_bytes())
    stamp, classes = out / "classes.sha256", out / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = classpath(jars)
    subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"],
        check=True, stdout=sys.stderr)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    target = Path(sys.argv[1] if len(sys.argv) > 1 else ".bench_build").resolve()
    target.mkdir(parents=True, exist_ok=True)
    print(build(Path.cwd(), target))
