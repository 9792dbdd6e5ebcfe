"""Build file of the benchmark package: compiles the program sources
(``src/main/scala``) together with the harness (``perfbench/src``) with the
Scala compiler that ships in Spark's jar directory, packs them into one jar,
and dumps a class-data-sharing archive of a session start so that every run's
JVM starts from pre-parsed classes.

A build is skipped when a stamp of every source file's content matches the
previous build.  Usage: python3 perfbench/build.py [<build dir>]
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars():
    """``$SPARK_HOME/jars``, else the jar directory the program's own build
    declares (``unmanagedBase`` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
    return m.group(1)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog, bench


def java_cmd(jar, xmx="2g", cds=None):
    """The JVM command line every run uses, up to the main class."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    share = [f"-XX:SharedArchiveFile={cds}"] if cds and os.path.exists(cds) else []
    return (["java", f"-Xmx{xmx}", "-Xss4m"] + share + opens +
            [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", jar + os.pathsep + os.path.join(spark_jars(), "*")])


def build(build_dir, base):
    """Compile if needed; returns (jar, class-data archive)."""
    prog, bench = sources()
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    jar = os.path.join(build_dir, "perfbench.jar")
    cds = os.path.join(build_dir, "perfbench.jsa")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar, cds
    for p in (classes, jar, cds, stamp_file):
        subprocess.run(["rm", "-rf", p], check=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", classes, "-classpath", cp] + prog + bench, check=True, stdout=sys.stderr)
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True)
    tmp = os.path.join(build_dir, "cds-tmp")
    os.makedirs(tmp, exist_ok=True)
    dump = java_cmd(jar) + [f"-Djava.io.tmpdir={tmp}", f"-Dperfbench.localDir={tmp}", "perfbench.Main",
                            "--cds", "1", "--base", base]
    dump.insert(1, f"-XX:ArchiveClassesAtExit={cds}")
    subprocess.run(dump, check=True, stdout=sys.stderr, stderr=subprocess.DEVNULL)
    subprocess.run(["rm", "-rf", tmp], check=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar, cds


if __name__ == "__main__":
    import gen
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build"))
    base = os.path.join(out, "data", "base")
    gen.gen_base(base)
    print(build(out, base))
