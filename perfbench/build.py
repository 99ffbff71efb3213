"""Build file of the benchmark package: compiles graft's main sources
(``src/main/scala``, resources from ``src/main/resources``) together with
the benchmark harness (``perfbench/src``) into one class directory.

It calls the Scala compiler shipped with Spark (``$SPARK_HOME/jars``, else
the ``unmanagedBase`` jar directory the project's ``build.sbt`` names)
directly, so a build writes only under the build
directory: ``$CARGO_TARGET_DIR`` if set, else ``.bench_build``, relative
to the checkout root. A stamp of the source contents skips rebuilds.

Usage: python3 perfbench/build.py   (from the checkout root)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root=None):
    home = os.environ.get("SPARK_HOME")
    if home:
        jar_dir = os.path.join(home, "jars")
    else:
        sbt = os.path.join(root or os.getcwd(), "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jar_dir = m.group(1) if m else ""
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return jars


def _sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise RuntimeError(f"no graft sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    return main + bench, res


def classes_dir(root):
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(root, out, "perfbench-classes")


def ensure_built(root):
    """Compile if the sources changed since the last build; returns the
    class directory."""
    srcs, res = _sources(root)
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    out = classes_dir(root)
    stamp_file = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars(root)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(jars)] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=850)
    if proc.returncode != 0:
        raise RuntimeError("scalac failed:\n" + proc.stdout[-4000:])
    res_root = os.path.join(root, "src/main/resources")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return out


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()))
    except Exception as e:  # noqa: BLE001 - report any build failure
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
