"""Build file of the benchmark: compiles the program and the harness.

The program (src/main/scala) and the benchmark's own JVM code
(perfbench/src) are compiled with the Scala compiler that ships among the
Spark jars, the same jar directory build.sbt compiles against. Outputs go
to perfbench/.build/<content hash>/, so an unchanged tree is never
rebuilt and a changed one never reuses stale classes.

    python3 perfbench/build.py     # prints the run classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    """$SPARK_HOME/jars, else the unmanagedBase directory build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    sys.exit("perfbench: no Spark jars (set SPARK_HOME)")


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(files, seed=""):
    h = hashlib.sha256(seed.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compile(srcs, classpath, out):
    if os.path.isdir(out):
        return
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    jars = spark_jars()
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath + [os.path.join(jars, "*")]),
           "@" + args]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout + p.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: compilation failed for {out}")
    os.remove(args)
    os.rename(tmp, out)


def build():
    """Compile what changed; return the JVM classpath entries."""
    main_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    if not main_src:
        sys.exit("perfbench: no program sources under src/main/scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    res_files = sorted(f for f in glob.glob(os.path.join(resources, "**"),
                                            recursive=True)
                       if os.path.isfile(f))
    main_hash = _digest(main_src + res_files)
    main_out = os.path.join(BUILD, f"main-{main_hash}")
    _compile(main_src, [], main_out)
    bench_src = _sources(os.path.join(HERE, "src"))
    bench_out = os.path.join(BUILD, f"bench-{_digest(bench_src, main_hash)}")
    _compile(bench_src, [main_out], bench_out)
    return [bench_out, main_out, resources, os.path.join(spark_jars(), "*")]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
