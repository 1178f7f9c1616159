"""Build file of the benchmark: compiles the program's main sources and
the benchmark harness with the Scala 2.13 compiler that ships in Spark's
jar directory, into the build directory of the checkout. A stamp over
every source file skips the build when nothing changed. Tests are not
compiled; sbt is not used, so nothing is written outside the checkout.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """The Spark jar directory the project builds against: build.sbt's
    `unmanagedBase`, or $SPARK_HOME/jars."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def build_dir(root):
    return os.path.join(root, ".bench_build")


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    return main, harness


def _scalac(jars, out, classpath, files, log):
    os.makedirs(out, exist_ok=True)
    args_file = out + ".files"
    with open(args_file, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath, "@" + args_file]
    with open(log, "ab") as lf:
        subprocess.run(cmd, check=True, stdout=lf, stderr=subprocess.STDOUT)


def ensure_built(root):
    """Returns the runtime classpath, building first if needed."""
    main, harness = _sources(root)
    if not main or not os.path.exists(os.path.join(root, "build.sbt")):
        raise SystemExit("no program sources under src/main/scala")
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jars not found at {jars}")
    out = os.path.join(build_dir(root), "perfbench")
    classes = os.path.join(out, "classes")
    hclasses = os.path.join(out, "harness")
    h = hashlib.sha256()
    for p in main + harness:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(out, "stamp")
    cp = f"{hclasses}:{classes}:{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    log = os.path.join(out, "build.log")
    _scalac(jars, classes, f"{jars}/*", main, log)
    _scalac(jars, hclasses, f"{classes}:{jars}/*", harness, log)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(ensure_built(os.getcwd()))
    sys.exit(0)
