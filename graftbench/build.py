"""Build file of the benchmark package.

Compiles graft's library sources (src/main/scala) and the benchmark's own
Scala sources (graftbench/src) with the Scala compiler that ships in the
Spark distribution's jar directory, the same Scala version build.sbt pins.
No sbt, no dependency resolution: the classpath is the Spark jars, the
directory build.sbt's unmanagedBase declares.

Output goes to <root>/.bench_build/classes-<key>/, where <key> hashes every
source file, so an unchanged tree is built once. Run directly to build:

    python3 graftbench/build.py
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt's unmanagedBase
    names, else the jars beside the spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        pass
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.normpath(jars)
    raise SystemExit("no Spark jar directory with a Scala compiler found (set SPARK_HOME)")


def sources(root):
    lib = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "*.scala")))
    if not lib:
        raise SystemExit(f"no graft sources under {os.path.join(root, 'src', 'main', 'scala')}")
    return lib, bench


def module_map(root, lib):
    """Source file name -> graft module (package directory under graft/)."""
    base = os.path.join(root, "src", "main", "scala", "graft")
    out = {}
    for f in lib:
        rel = os.path.relpath(f, base).split(os.sep)
        out[os.path.splitext(rel[-1])[0]] = rel[0] if len(rel) > 1 else "graft"
    return out


def build(root, log=sys.stderr):
    """Compile if needed; returns (classpath, module map file)."""
    lib, bench = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for f in lib + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(root, BUILD_DIR, "classes-" + h.hexdigest()[:16])
    lib_out, bench_out = os.path.join(out, "graft"), os.path.join(out, "bench")
    modules = os.path.join(out, "modules.tsv")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(lib_out)
        os.makedirs(bench_out)
        cp = os.path.join(jars, "*")
        scalac = ["java", "-Xss8m", "-Xmx1500m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8"]
        for srcs, dest, classpath in ((lib, lib_out, cp), (bench, bench_out, lib_out + os.pathsep + cp)):
            argfile = dest + ".args"
            with open(argfile, "w") as fh:
                fh.write("\n".join(srcs))
            print(f"[graftbench] compiling {len(srcs)} files -> {os.path.relpath(dest, root)}", file=log, flush=True)
            r = subprocess.run(scalac + ["-d", dest, "-classpath", classpath, "@" + argfile],
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                shutil.rmtree(out, ignore_errors=True)
                raise SystemExit("[graftbench] compile failed:\n" + r.stdout[-4000:])
        with open(modules, "w") as fh:
            fh.writelines(f"{k}\t{v}\n" for k, v in sorted(module_map(root, lib).items()))
        open(os.path.join(out, "done"), "w").close()
    # drop builds of other source trees
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return os.pathsep.join([lib_out, bench_out, os.path.join(jars, "*")]), modules


if __name__ == "__main__":
    print(build(os.getcwd())[0])
