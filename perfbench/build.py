#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark's own sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory, and packs them into two jars under the
build directory (jars, not class directories, so the JVM can keep a
class-data-sharing archive of them). It then dumps that archive from a
short run of graft.perfbench.Classes (session start, a parquet round
trip, a shuffle), so every timed run maps the same archive. A build is
reused while the sources and the toolchain are unchanged.

Usage: python3 perfbench/build.py [build dir]   (default: .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

JAR_GLOB = "*"
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_flags(tmp_dir: str):
    """The flags of every benchmark JVM (the archive dump's too, so the
    archive stays valid for the timed runs)."""
    return ([f"-Xmx{HEAP}", "-Xss8m", "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
             f"-Djava.io.tmpdir={tmp_dir}"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")])


def spark_jars() -> str:
    """Spark's jar directory: $SPARK_HOME/jars, or beside spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources(root: str):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return prog, bench


def source_hash(root: str) -> str:
    """Content hash of every compiled source and resource, the build's identity."""
    h = hashlib.sha256()
    prog, bench = sources(root)
    res = sorted(glob.glob(os.path.join(root, "src/main/resources/**/*"), recursive=True))
    for p in prog + bench + [r for r in res if os.path.isfile(r)]:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def toolchain_id() -> str:
    jars = sorted(os.listdir(spark_jars()))
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return hashlib.sha256(("\n".join(jars) + java).encode()).hexdigest()


def scalac(out: str, classpath: str, files, log) -> None:
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), JAR_GLOB),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed ({r.returncode}); see {log.name}")


def pack(jar: str, trees) -> None:
    """Jar the files under each tree, in a fixed order with fixed times."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for tree in trees:
            for d, dirs, files in os.walk(tree):
                dirs.sort()
                for f in sorted(files):
                    p = os.path.join(d, f)
                    z.writestr(zipfile.ZipInfo(os.path.relpath(p, tree)), open(p, "rb").read())


def archive(build_dir: str) -> str:
    """The build's class-data-sharing archive."""
    return os.path.join(build_dir, "classes.jsa")


def dump_archive(build_dir: str, cp: str, log) -> None:
    work = os.path.join(build_dir, "classes.run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-XX:ArchiveClassesAtExit={archive(build_dir)}"]
           + jvm_flags(os.path.join(work, "tmp"))
           + ["-cp", cp, "graft.perfbench.Classes", work])
    try:
        r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, timeout=300)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(archive(build_dir)):
        raise RuntimeError(f"class archive dump failed ({r.returncode}); see {log.name}")


def build(root: str, build_dir: str) -> str:
    """Compile if needed; returns the runtime classpath."""
    prog, bench = sources(root)
    if not prog:
        raise RuntimeError(f"no engine sources under {root}/src/main/scala")
    if not bench:
        raise RuntimeError(f"no benchmark sources under {root}/perfbench/src")
    stamp = source_hash(root) + ":" + toolchain_id()
    stamp_file = os.path.join(build_dir, "classes.stamp")
    engine_jar = os.path.join(build_dir, "graft-engine.jar")
    bench_jar = os.path.join(build_dir, "perfbench.jar")
    cp = os.pathsep.join([bench_jar, engine_jar, os.path.join(spark_jars(), JAR_GLOB)])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    os.makedirs(build_dir, exist_ok=True)
    for stale in (stamp_file, archive(build_dir)):
        if os.path.exists(stale):
            os.remove(stale)
    tmp = os.path.join(build_dir, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(build_dir, "build.log"), "w") as log:
        jars = os.path.join(spark_jars(), JAR_GLOB)
        scalac(os.path.join(tmp, "engine"), jars, prog, log)
        scalac(os.path.join(tmp, "bench"), os.pathsep.join([os.path.join(tmp, "engine"), jars]),
               bench, log)
        pack(engine_jar, [os.path.join(tmp, "engine"), os.path.join(root, "src/main/resources")])
        pack(bench_jar, [os.path.join(tmp, "bench")])
        shutil.rmtree(tmp, ignore_errors=True)
        dump_archive(build_dir, cp, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    root = os.getcwd()
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(root, ".bench_build")
    print(build(root, os.path.abspath(out)))
