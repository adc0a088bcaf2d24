"""Build step of the benchmark: compiles the program's main sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
with the Scala compiler that ships in the Spark distribution, packs them
with the program's resources (src/main/resources) into one jar, and
writes the repo's DuckDB oracle SQL of the queries corpus_dedup checks
against to its oracle/ directory. Runs use a plain JVM on that jar and
the Spark jars.

The output directory is keyed by a hash of every input file, so an
unchanged tree is built once and reused.

    python3 perfbench/build.py     # prints the build directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

import dedup_inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME, else the first
    spark-submit on the PATH that sits beside a jars directory."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return jars
    return os.path.join(homes[0], "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main, own


def resources():
    return sorted(p for p in glob.glob(os.path.join(RESOURCES, "**", "*"), recursive=True)
                  if os.path.isfile(p))


def java_cmd(out, main="perfbench.Main"):
    """The JVM command line of `main` against build `out`."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(out, "perfbench.jar") + os.pathsep + os.path.join(spark_jars(), "*"),
            main]
    return cmd


def main_args(workload, seed, seconds, trace, scale, corrupt, inputs_only, inputs):
    return ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", BUILD, "--scale", scale,
            "--corrupt-expected", "1" if corrupt else "0",
            "--inputs-only", "1" if inputs_only else "0", "--inputs", inputs]


def ensure_built():
    """Build if needed; return the build directory, or None when the
    program's sources are missing or do not compile."""
    main, own = sources()
    if not main or not own:
        print("perfbench: program sources (src/main/scala) not found", file=sys.stderr)
        return None
    h = hashlib.sha256()
    for p in main + own + resources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "build-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_OK")):
        return out
    for old in glob.glob(os.path.join(BUILD, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)

    jars = spark_jars()
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(main + own) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("perfbench: compiling %d sources" % (len(main) + len(own)), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        print("perfbench: compilation failed", file=sys.stderr)
        return None
    with zipfile.ZipFile(os.path.join(out, "perfbench.jar"), "w", zipfile.ZIP_DEFLATED) as jar:
        for base, paths in ((classes, glob.glob(os.path.join(classes, "**", "*"), recursive=True)),
                            (RESOURCES, resources())):
            for p in sorted(paths):
                if os.path.isfile(p):
                    jar.write(p, os.path.relpath(p, base))
    shutil.rmtree(classes)
    dump = java_cmd(out, "perfbench.OracleSql") + [os.path.join(out, "oracle")]
    if subprocess.run(dump + [q for _, q, _ in dedup_inputs.QUERIES], stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        print("perfbench: writing the oracle SQL failed", file=sys.stderr)
        return None
    open(os.path.join(out, "_OK"), "w").close()
    return out


if __name__ == "__main__":
    os.makedirs(BUILD, exist_ok=True)
    d = ensure_built()
    if d is None:
        sys.exit(1)
    print(d)
