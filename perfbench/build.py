"""Build file of the benchmark: compiles the engine and the benchmark harness.

The engine (`src/main/scala` + `src/main/resources`) and the harness
(`perfbench/harness`) are compiled with the Scala compiler that ships in
Spark's jar directory (`$SPARK_HOME/jars`), against those same jars, into
`.bench_build/` at the root of the checkout. A stamp of the source contents
makes a rebuild happen only when a source changed.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
HARNESS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise BuildError("SPARK_HOME is not set; it must point at a Spark 4 / Scala 2.13 install")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def jvm_flags():
    """Keep every file a JVM writes (temp files, Spark's block manager, JVM
    performance data) inside the build directory of the checkout."""
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}"]


def _stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, sources, classpath, stamp, resources=None):
    out = os.path.join(BUILD, name)
    stamp_file = os.path.join(out, "STAMP")
    classes = os.path.join(out, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", *jvm_flags(), "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
           "-classpath", classpath, "-d", classes, "@" + args_file]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def build():
    """Compile what changed; return the runtime classpath string."""
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        raise BuildError("no src/main/scala here: run from the root of the engine's checkout")
    jars = os.path.join(spark_jars(), "*")
    program_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    resources = sorted(f for f in glob.glob("src/main/resources/**/*", recursive=True)
                       if os.path.isfile(f))
    program = _compile("program", program_src, jars,
                       _stamp(program_src + resources), "src/main/resources")
    harness_src = sorted(glob.glob(os.path.join(HARNESS, "*.scala")))
    harness = _compile("harness", harness_src, program + os.pathsep + jars,
                       _stamp(harness_src, open(os.path.join(BUILD, "program", "STAMP")).read()))
    return os.pathsep.join([harness, program, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(str(e))
