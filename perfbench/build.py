"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`) into
`.bench_build/graft.jar`, against the Spark distribution's jars, which also
carry the Scala compiler. A build is reused while no source file changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: cannot find the Spark jars; set SPARK_HOME")
    return Path(home) / "jars"


def sources(root: Path) -> list:
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: no program sources under {main}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build(root: Path, out: Path) -> Path:
    """Compile into the jar `out/graft.jar` unless its stamp matches the
    sources. A jar and not a class directory, so that the JVM's class data
    sharing archive can cover the program's classes too."""
    files = sources(root)
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    jar = out / "graft.jar"
    stamp_file = out / "graft.jar.stamp"
    if jar.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return jar
    classes = out / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    jars = spark_jars()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes),
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1))] + [str(f) for f in files]
    res = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=800)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    fresh = out / "graft.jar.new"
    with zipfile.ZipFile(fresh, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    fresh.replace(jar)
    stamp_file.write_text(stamp)
    # a class data sharing archive describes one jar; a new jar needs a new one
    (out / "graft.jsa").unlink(missing_ok=True)
    return jar


if __name__ == "__main__":
    print(build(Path.cwd(), Path.cwd() / ".bench_build"))
