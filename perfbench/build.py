"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the harness (`perfbench/src`) into
`.bench_build/classes`, with the Scala compiler that ships in the Spark
distribution's `jars/` directory. A stamp of the sources' hash skips the
compile when nothing changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"


def spark_jars() -> pathlib.Path:
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return jars


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        sys.exit(f"perfbench: no engine sources under {engine.relative_to(ROOT)}")
    return sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))


def build() -> pathlib.Path:
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = BUILD / "classes.stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    stamp.unlink(missing_ok=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cp = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(CLASSES), "-classpath", cp, "-nowarn", f"@{argfile}"]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        sys.exit("perfbench: compile failed")
    stamp.write_text(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
