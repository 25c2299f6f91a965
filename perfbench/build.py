"""Build file of the benchmark package.

Compiles the program's main sources (`src/main/scala`) together with the
benchmark's own Scala sources (`perfbench/src`) using the Scala compiler
that ships in Spark's jars directory, so the build needs neither sbt nor
network access. Output goes to `<build_dir>/classes`; a stamp over every
source file skips the compile when nothing changed.

    python3 perfbench/build.py [<build_dir>]
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
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit("perfbench: program sources src/main/scala not found")
    found = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build(build_dir):
    """Return the classes directory, compiling first if sources changed."""
    jars = spark_jars()
    files = sources()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    want = stamp(files, jars)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    os.makedirs(build_dir, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))
                for m in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise SystemExit("perfbench: Scala 2.13 compiler jars not in " + jars)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classes


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                else os.path.join(ROOT, ".bench_build", "perfbench"))))
