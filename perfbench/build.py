"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the harness
(perfbench/scala) using the Scala compiler that ships in Spark's jar
directory, into .perfbench/build/classes at the repository root. A stamp over
every source file's path and content skips the compile when nothing changed.

    python3 perfbench/build.py        # build, print the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench" / "build"


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home:
        raise BuildError("set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not engine:
        raise BuildError("no engine sources under src/main/scala")
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    if not list(spark_jars().glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {spark_jars()}")
    return engine + harness


def classpath():
    return f"{spark_jars()}/*"


def build(log=sys.stderr):
    """Returns the jar, compiling first if a source changed."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    classes, jar, stamp_file = OUT / "classes", OUT / "perfbench.jar", OUT / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and jar.exists():
        return jar
    shutil.rmtree(OUT, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes)] + [str(f) for f in files]
    print(f"perfbench: compiling {len(files)} sources", file=log)
    proc = subprocess.run(cmd, cwd=OUT, stdout=log, stderr=log, timeout=800)
    if proc.returncode != 0:
        raise BuildError(f"scalac exited with {proc.returncode}")
    with zipfile.ZipFile(jar, "w") as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes))
    shutil.rmtree(classes)
    stamp_file.write_text(stamp)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench build failed: {e}")
