#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles the library (src/main/scala) together with the benchmark
(perfbench/src) with the Scala compiler that ships in the Spark
distribution, into .bench_build/classes-<digest of the sources>. A
build whose sources are unchanged is reused.

    python3 perfbench/build.py            # build only
    python3 perfbench/build.py test       # build and run the benchmark's tests
    python3 perfbench/build.py expected   # record expected_checksums.json

Spark's jars are taken from $SPARK_HOME/jars, or from an installed
pyspark package when SPARK_HOME is unset.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"
LIB_SRC = ROOT / "src" / "main" / "scala"
LIB_RES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home) / "jars"] if home else []
    try:
        import importlib.util
        spec = importlib.util.find_spec("pyspark")
        if spec and spec.origin:
            candidates.append(Path(spec.origin).parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if any(c.glob("spark-sql_*.jar")) and any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars found: set SPARK_HOME to a Spark 4 distribution")


def sources(*dirs):
    files = []
    for d in dirs:
        files += sorted(p for p in d.rglob("*") if p.suffix in (".scala", ".java"))
    return files


def digest(files, depends=()):
    h = hashlib.sha256()
    for d in depends:
        h.update(str(d).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_into(name, files, extra_cp=()):
    """Compiles `files` into .bench_build/<name>-<digest>, once; the
    digest covers the sources and the classpath they compile against."""
    out = OUT / f"{name}-{digest(files, extra_cp)}"
    if (out / ".ok").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = os.pathsep.join([str(spark_jars() / "*"), *map(str, extra_cp)])
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        raise BuildError(f"scalac failed for {name}:\n{res.stdout[-4000:]}")
    argfile.unlink()
    for old in OUT.glob(f"{name}-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    (out / ".ok").touch()
    return out


def build():
    """Returns the classpath entries of the library + benchmark build."""
    if not LIB_SRC.is_dir():
        raise BuildError(f"library sources not found: {LIB_SRC.relative_to(ROOT)}")
    classes = compile_into("classes", sources(LIB_SRC, BENCH / "src"))
    return [classes, LIB_RES, spark_jars() / "*"]


def test():
    cp = build()
    tests = compile_into("test-classes", sources(BENCH / "test"), extra_cp=cp)
    cmd = [java(), *jvm_options(), "-cp", os.pathsep.join(map(str, [tests, *cp])),
           "graftbench.SelfTest", str(ROOT / "BENCHMARK.json"), str(OUT / "selftest")]
    return subprocess.run(cmd).returncode


EXPECTED = BENCH / "expected_checksums.json"
EXPECTED_SEEDS = range(0, 64)
WORKLOADS = tuple(w["name"] for w in
                  json.loads((ROOT / "BENCHMARK.json").read_text())["workloads"])


def record_expected():
    """Rewrites expected_checksums.json with the pass checksum of every
    workload on every seed in EXPECTED_SEEDS."""
    cp = os.pathsep.join(map(str, build()))
    table = {}
    for w in WORKLOADS:
        cmd = [java(), *jvm_options(), "-cp", cp, "graftbench.Expected", w,
               str(EXPECTED_SEEDS.start), str(EXPECTED_SEEDS.stop - 1),
               str(os.cpu_count() or 1), str(OUT / "expected" / w)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if res.returncode != 0:
            raise BuildError(f"graftbench.Expected failed for {w}")
        table[w] = dict(line.split()[1:] for line in res.stdout.splitlines()
                        if line.startswith("expected "))
        if len(table[w]) != len(EXPECTED_SEEDS):
            raise BuildError(f"{w}: {len(table[w])} checksums for {len(EXPECTED_SEEDS)} seeds")
    EXPECTED.write_text(json.dumps(table, indent=2) + "\n")


# Spark 4 on JDK 17 outside spark-submit needs these
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm_options():
    """A fixed-size heap: with a growable one the resident high-water mark
    follows the collector's heap-growth timing, run to run. Compiler
    threads that live as long as the JVM, so that the JIT's CPU time,
    which cpu_s leaves out, can be read per thread (Main.jitCpuNs)."""
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts + ["-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
                   "-XX:-UseDynamicNumberOfCompilerThreads",
                   f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test())
        if sys.argv[1:] == ["expected"]:
            sys.exit(record_expected())
        print(os.pathsep.join(map(str, build())))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
