"""Build for the benchmark: compiles the library (src/main) and the
benchmark's own Scala sources with the Scala compiler that ships in the
Spark distribution, into <root>/.bench_build. A stamp of every source's
content skips the build when nothing changed.

Run: python3 ubabench/build.py   (prints the classpath)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


def _spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the one whose
    spark-submit is on PATH, else the jar directory the repository's own
    build.sbt names (`unmanagedBase := file("...")`)."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if home:
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    return Path(m.group(1)) if m else None


SPARK_JARS = _spark_jars()

# Spark 4 on JDK 17 needs these outside spark-submit; the same list as
# the repository's build (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def _sources(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _scalac(srcs, classpath, out):
    compiler = [str(SPARK_JARS / n) for n in sorted(os.listdir(SPARK_JARS))
                if n.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    args_file = out.parent / (out.name + ".args")
    args_file.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-classpath", classpath, "-d", str(out), "@" + str(args_file)]
    log = out.parent / (out.name + ".log")
    with open(log, "wb") as f:
        r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed for %s (see %s)" % (out.name, log))


def _stale(out, stamp):
    stamp_file = out.parent / (out.name + ".stamp")
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return False
    shutil.rmtree(out, ignore_errors=True)
    stamp_file.unlink(missing_ok=True)
    out.mkdir(parents=True)
    return True


def _done(out, stamp):
    (out.parent / (out.name + ".stamp")).write_text(stamp)


def build():
    """Returns the runtime classpath, compiling first if any source changed."""
    main_src = ROOT / "src" / "main" / "scala"
    if not main_src.is_dir() or SPARK_JARS is None or not SPARK_JARS.is_dir():
        raise BuildError("need %s and %s" % (main_src, SPARK_JARS))
    resources = ROOT / "src" / "main" / "resources"
    srcs = _sources(main_src)
    bench_srcs = _sources(HERE / "scala")
    rsrc = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    spark_cp = str(SPARK_JARS / "*")
    main_out, bench_out = BUILD / "classes" / "main", BUILD / "classes" / "bench"
    jars = ":".join(str(SPARK_JARS / n) for n in sorted(os.listdir(SPARK_JARS)) if n.endswith(".jar"))
    # the library and the benchmark carry separate stamps: a change to the
    # benchmark alone does not recompile the library
    main_stamp = _stamp(srcs + rsrc)
    if _stale(main_out, main_stamp):
        _scalac(srcs, jars, main_out)
        for r in rsrc:
            dst = main_out / r.relative_to(resources)
            dst.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, dst)
        _done(main_out, main_stamp)
    bench_stamp = _stamp(bench_srcs) + main_stamp
    if _stale(bench_out, bench_stamp):
        _scalac(bench_srcs, str(main_out) + ":" + jars, bench_out)
        _done(bench_out, bench_stamp)
    return ":".join([str(main_out), str(bench_out), spark_cp])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
