"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in
Spark's jar directory, into `.bench_build/classes`.

The build is keyed by a digest of every source file, so a rebuild happens
only when a source changes. It also extracts the program's
`validate_verdicts` oracle SQL, which the input generator runs in DuckDB.

    python3 perfbench/build.py          # from the repository root
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    # SPARK_HOME, else the Spark install whose bin/ on the PATH holds
    # spark-submit next to a jars/ directory
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    home = next((h for h in homes if h and os.path.isdir(os.path.join(h, "jars"))), "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        fail(f"no Spark jars under {home}/jars (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        fail("program sources src/main/scala/graft not found; run from a "
             "full checkout of the repository")
    found = []
    for base in (os.path.join(PROGRAM_SRC, "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def java(args, **kw):
    return subprocess.run(["java"] + args, **kw)


def build():
    """Returns (classpath list, oracle SQL text, source digest)."""
    srcs = sources()
    jars = spark_jars()
    key = digest(srcs)
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "build.stamp")
    sql_path = os.path.join(OUT, "oracle_verdicts.sql")
    cp = [classes] + jars
    if os.path.exists(stamp) and open(stamp).read() == key \
            and os.path.exists(sql_path):
        return cp, open(sql_path).read(), key
    os.makedirs(OUT, exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = java(["-Xss8m", "-Xmx1536m", "-cp", os.pathsep.join(compiler),
              "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
              "-classpath", os.pathsep.join(jars), "-d", classes] + srcs)
    if r.returncode != 0:
        fail("compilation failed")
    r = java(JVM_OPENS + ["-cp", os.pathsep.join(cp), "graftbench.OracleSql"],
             capture_output=True, text=True)
    if r.returncode != 0 or "SELECT" not in r.stdout:
        fail("could not extract the validate_verdicts oracle SQL:\n" + r.stderr)
    with open(sql_path, "w") as f:
        f.write(r.stdout)
    with open(stamp, "w") as f:
        f.write(key)
    return cp, r.stdout, key


if __name__ == "__main__":
    cp, _, key = build()
    print(f"[perfbench] build {key} ready: {cp[0]}", file=sys.stderr)
