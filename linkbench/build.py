"""Build the program under test and the benchmark harness from source.

Compiles every Scala file under ``src/main/scala`` (the program) and
``linkbench/src`` (the harness) with the Scala compiler that ships in
Spark's ``jars`` directory (``$SPARK_HOME/jars``, else the
``unmanagedBase`` that ``build.sbt`` compiles against), into
``.bench_build/classes-<digest>``. The
digest covers every source file, so an unchanged tree is built once.

    python3 linkbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars(root):
    """Spark's jars: under SPARK_HOME, else the unmanagedBase build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    found = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not found:
        raise SystemExit("linkbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return found.group(1)


def _sources(root, rel):
    return sorted(glob.glob(os.path.join(root, rel, "**", "*.scala"), recursive=True))


def build(root):
    """Compile if needed; return the runtime classpath."""
    program = _sources(root, "src/main/scala")
    harness = _sources(root, "linkbench/src")
    if not program or not harness:
        raise SystemExit("linkbench: no Scala sources under src/main/scala or linkbench/src; "
                         "run from the repository root")
    digest = hashlib.sha256()
    for path in program + harness:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    jars = os.path.join(spark_jars(root), "*")
    if not os.path.exists(os.path.join(out, "_OK")):
        for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
            shutil.rmtree(old)
        os.makedirs(out)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", out] + program + harness
        done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if done.returncode != 0:
            sys.stderr.write(done.stdout[-4000:])
            raise SystemExit("linkbench: compilation failed")
        open(os.path.join(out, "_OK"), "w").close()
    return out + os.pathsep + jars


if __name__ == "__main__":
    print(build(os.getcwd()))
