"""Build file of the benchmark package: compiles graft's main sources
(`src/main/scala`) together with the benchmark's own sources
(`lakebench/src`) using the Scala compiler that ships with the Spark
distribution graft is built against (`$SPARK_HOME/jars`, else the
`unmanagedBase` of build.sbt), and packs them into one jar.

Output goes to `.bench_build/` under the checkout and is reused while the
sources are unchanged (a content hash is kept beside it).

    python3 lakebench/build.py        # build, print the jar path
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, else the `unmanagedBase` graft's build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    if not os.path.isdir(jars):
        raise BuildError(f"no Spark jars at {jars}; set SPARK_HOME")
    return jars


def classpath(*extra):
    return os.pathsep.join(list(extra) + [os.path.join(spark_jars(), "*")])


def sources():
    graft = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(graft, "graft")):
        raise BuildError(f"graft sources not found under {graft}")
    found = []
    for top in (graft, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


# what spark-submit passes to a JDK 17 driver (the same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JAR = os.path.join(BUILD, "lakebench.jar")
ARCHIVE = os.path.join(BUILD, "lakebench.jsa")
OUT = os.path.join(ROOT, ".bench_out")


def java_cmd(run_dir, cds_flag, args):
    """The JVM command of a benchmark run; runs differ only in `args` and
    in whether they record or use the class-data-sharing archive."""
    # JVM warnings (the archive's among them) go to stderr: stdout carries
    # only the result
    return (["java", "-Xmx3g", cds_flag, "-Xlog:disable", "-Xlog:all=warning:stderr",
             f"-Djava.io.tmpdir={run_dir}/tmp"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath(JAR), "lakebench.Main", "--dir", run_dir, "--out", OUT] + args)


def build():
    """Compile and pack if the sources changed."""
    srcs = sources()
    h = hashlib.sha256()
    for path in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "build.sha256")
    if os.path.exists(stamp_file) and os.path.exists(JAR):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", classpath()] + srcs))
    steps = [
        ["java", "-Xmx2g", "-Xss8m", "-cp", classpath(), "scala.tools.nsc.Main", "@" + args_file],
        ["jar", "cf", JAR, "-C", classes, "."],
    ]
    for cmd in steps:
        if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
            raise BuildError(f"{cmd[0]} {cmd[-1]} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    try:
        build()
        print(JAR)
    except BuildError as e:
        sys.exit(f"build failed: {e}")
