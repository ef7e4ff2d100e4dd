"""Build file of the benchmark package.

Compiles the library sources (`src/main/scala` of the checkout) together
with the harness sources (`perfbench/src`) in one scalac run, using the
Scala compiler that ships with the Spark distribution. The output lives in
`.bench_build/perfbench` of the checkout and is reused while the sources,
the JDK and the Spark jar set are unchanged.

Run it alone with `python3 perfbench/build.py` from the checkout root.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    return sorted(glob.glob(os.path.join(jars, "*.jar")))


def _sources(root):
    lib = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(lib, "graft")):
        raise BuildError(f"library sources not found under {lib}")
    files = []
    for base in (lib, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def _java_version():
    out = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return out.stderr.strip()


def ensure_built(root):
    """Compile if needed; return (runtime classpath, whether it compiled)."""
    jars = spark_jars()
    files = _sources(root)
    h = hashlib.sha256()
    h.update(_java_version().encode())
    for j in jars:
        h.update(os.path.basename(j).encode())
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()

    out = os.path.join(root, ".bench_build", "perfbench")
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest and os.path.isdir(classes):
        return [classes] + jars, False

    fresh = classes + ".new"
    tmp = os.path.join(out, "tmp")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    os.makedirs(tmp, exist_ok=True)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("scala-compiler/library/reflect jars not found among the Spark jars")
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.pathsep.join(jars), "-d", fresh, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return [classes] + jars, True


if __name__ == "__main__":
    sys.dont_write_bytecode = True
    try:
        ensure_built(os.getcwd())
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(2)
