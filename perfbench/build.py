"""Build for the benchmark: compiles the program's main sources together
with the benchmark's own Scala sources into one class directory.

The compiler is the Scala 2.13 compiler that ships among the Spark jars
(`$SPARK_HOME/jars`), run directly (no sbt), so a build needs nothing
beyond the Spark distribution and a JDK. The output goes to `$CARGO_TARGET_DIR/classes`
(default `.bench_build/classes`) under the repo root; a stamp of every
source's content skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    one beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("no Spark distribution: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


SPARK_JARS = spark_jars()


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    return main, own


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def classpath():
    return sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))


def compiler_jars():
    want = ("scala-compiler-", "scala-library-", "scala-reflect-")
    jars = [j for j in classpath() if os.path.basename(j).startswith(want)]
    if len(jars) != 3:
        raise SystemExit(f"scala compiler jars not found under {SPARK_JARS}")
    return jars


def build():
    main, own = sources()
    if not main:
        raise SystemExit("no program sources under src/main/scala")
    if not own:
        raise SystemExit("no benchmark sources under perfbench/scala")
    h = hashlib.sha256()
    for f in main + own:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(compiler_jars()),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath()),
           "-d", out] + main + own
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit("compile failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


if __name__ == "__main__":
    print(build())
