#!/usr/bin/env python3
"""Build file of the benchmark: compiles the repository's main sources and the
benchmark driver (perfbench/src) into one class directory with the Scala
compiler that ships in Spark's jars directory. The repository's own build is
not touched.

    python3 perfbench/build.py        # prints the class directory

Output goes to .bench_build/classes-<source hash>/ in the current checkout;
an existing directory for the same sources is reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys



def spark_home():
    """$SPARK_HOME, else the first PATH entry whose parent holds Spark's jars."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    return ""


JARS = os.path.join(spark_home(), "jars")


class BuildError(Exception):
    pass


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    resources = sorted(p for p in glob.glob(
        os.path.join(root, "src/main/resources/**"), recursive=True)
        if os.path.isfile(p))
    return main, bench, resources


def build(root):
    main, bench, resources = sources(root)
    if not main:
        raise BuildError("no repository sources under src/main/scala")
    if not bench:
        raise BuildError("no benchmark sources under perfbench/src")
    compiler = glob.glob(os.path.join(JARS, "scala-compiler-*.jar"))
    if not compiler:
        raise BuildError("no scala-compiler jar in " + JARS)
    digest = hashlib.sha256(os.path.basename(compiler[0]).encode())
    for p in main + bench + resources:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    base = os.path.join(root, ".bench_build")
    dest = os.path.join(base, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, ".complete")):
        return dest
    tmp = "%s.tmp-%d" % (dest, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + bench) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(JARS, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed with code %d" % proc.returncode)
    res_root = os.path.join(root, "src/main/resources")
    for p in resources:
        target = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copyfile(p, target)
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(base, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, dest)
    return dest


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
