"""Build file of the benchmark: compiles the program and the benchmark.

The program's sources (`src/main/scala` of the checkout) and the benchmark's
own (`perfbench/src`) are compiled with the Scala compiler that ships in the
Spark distribution's jars (`$SPARK_HOME/jars`), against those jars, into
`.bench_build/classes`.
A stamp of every source file's content skips the build when nothing changed.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
OUT = ".bench_build"


def jars_cp():
    return os.path.join(SPARK_JARS, "*")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return main, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(files, out, cp):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars_cp(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed: scalac exited {r.returncode}")


def build(root="."):
    """Compile if needed; return the runtime classpath."""
    main, bench = sources(root)
    if not main:
        raise SystemExit("build failed: no program sources under src/main/scala")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build failed: no Spark jars at {SPARK_JARS} (set SPARK_HOME)")
    out = os.path.join(root, OUT, "classes")
    main_out, bench_out = os.path.join(out, "main"), os.path.join(out, "bench")
    # the program, then the benchmark against it; each rebuilt only when its
    # own sources (or, for the benchmark, the program's) changed
    main_st = stamp(main)
    for files, dest, cp, st in [(main, main_out, jars_cp(), main_st),
                                (bench, bench_out, os.pathsep.join([main_out, jars_cp()]),
                                 stamp(main + bench))]:
        stamp_file = dest + ".stamp"
        if os.path.exists(stamp_file) and open(stamp_file).read() == st:
            continue
        shutil.rmtree(dest, ignore_errors=True)
        if os.path.exists(stamp_file):
            os.remove(stamp_file)
        scalac(files, dest, cp)
        with open(stamp_file, "w") as fh:
            fh.write(st)
    return os.pathsep.join([bench_out, main_out, jars_cp()])


if __name__ == "__main__":
    print(build())
