"""Build file of the benchmark package.

Compiles the program (`src/main/scala` of the checkout) and the
benchmark's JVM driver (`perfbench/driver`) with the Scala compiler that
ships in the Spark distribution's jars, the directory the program's
`build.sbt` names as its `unmanagedBase`. Classes go under the build
directory; a stamp of the sources skips the rebuild when nothing
changed.

    python3 perfbench/build.py            # builds into .bench_build
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def jars():
    """The Spark jars: `build.sbt`'s `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    found = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not found:
        raise SystemExit("no Spark jars at build.sbt's unmanagedBase")
    return found


def _sources(rel):
    out = []
    for d, _, fs in os.walk(os.path.join(ROOT, rel)):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def _scalac(srcs, out, classpath):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars()),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed: {out}")


def build():
    """Returns the runtime classpath, compiling what changed."""
    program = _sources("src/main/scala")
    if not program or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no program sources (build.sbt, src/main/scala) in this checkout")
    driver = _sources("perfbench/driver")
    classes = os.path.join(BUILD, "program"), os.path.join(BUILD, "driver")
    h = hashlib.sha256()
    for f in program + driver + jars():
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    if not (os.path.isfile(stamp) and open(stamp).read() == h.hexdigest()):
        _scalac(program, classes[0], jars())
        _scalac(driver, classes[1], [classes[0]] + jars())
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return [classes[1], classes[0]] + jars()


if __name__ == "__main__":
    build()
