"""Build file of the benchmark package: compiles the program's sources
(``src/main/scala``) together with the benchmark's own Scala sources
(``perfbench/src``) into ``.bench_build/perfbench/program.jar``.

The compiler is the Scala 2.13 compiler that ships with the Spark
distribution the program already depends on (``$SPARK_HOME/jars``, or
the distribution of the ``spark-submit`` on the PATH), so a build needs
no network and no sbt. A build is skipped when the sources
hash to the stamp of the last successful build.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
JAR = os.path.join(OUT, "program.jar")
# class-data archive of a session start (AppCDS), recorded by run.py for
# each build; it names JAR, so a rebuild removes it
ARCHIVE = os.path.join(OUT, "session.jsa")


def _spark_home():
    """`$SPARK_HOME`, else the distribution `spark-submit` on the PATH
    belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(_spark_home(), "jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog, bench


def classpath():
    return f"{JAR}:{SPARK_JARS}/*"


def _jar(classes, dest):
    """Zip the compiled `classes` into the jar `dest`. A jar, not a
    directory, on the class path lets the JVM archive its classes."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                path = os.path.join(d, f)
                z.write(path, os.path.relpath(path, classes))


def build(log=sys.stderr):
    """Compile if needed; returns the program jar. Raises ``RuntimeError``
    when the program's sources are missing or do not compile."""
    prog, bench = sources()
    if not prog:
        raise RuntimeError("no program sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise RuntimeError(f"no Spark jars at {SPARK_JARS}")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return JAR, stamp
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(OUT, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(prog + bench) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", f"{SPARK_JARS}/*", f"@{args_file}"]
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(f"scalac failed with code {r.returncode}")
    for f in (ARCHIVE, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    _jar(tmp, JAR + ".tmp")
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return JAR, stamp


if __name__ == "__main__":
    try:
        print(build()[0])
    except RuntimeError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
