"""Compile graft's sources plus the benchmark harness into one class dir.

run.py calls `build` before every run. It uses the Scala compiler that
ships among the Spark jars (the same jars the repository's build.sbt
compiles against), so no build tool or network is needed. The output is
keyed by a hash of every source file and reused while the sources are
unchanged.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and glob.glob(os.path.join(m.group(1), "spark-core_*.jar")):
            return m.group(1)
    raise SystemExit("graftbench: no Spark jars (set SPARK_HOME)")


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"graftbench: graft sources not found under {main}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                              recursive=True))
    return files


def build(root, out_root):
    """Return the class directory for the current sources, compiling if
    needed."""
    jars = spark_jars(root)
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(out_root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".ok")):
        return classes, jars
    for old in glob.glob(os.path.join(out_root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + [os.path.abspath(f) for f in files]
    # run inside the (empty) output dir: scalac puts "." on its classpath
    r = subprocess.run(cmd, cwd=classes, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("graftbench: compilation failed")
    open(os.path.join(classes, ".ok"), "w").close()
    return classes, jars

