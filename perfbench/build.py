"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's own JVM code (`perfbench/scala`) with the Scala compiler
that ships in the Spark distribution, into `perfbench/.build/classes`, and
packs them into `perfbench/.build/perfbench.jar`.

A stamp over every source file's path and bytes skips the compile when
nothing changed. Run from the repository root: `python3 perfbench/build.py`.

`cds_flags()` gives the JVM flags for class-data sharing: the first JVM of a
build writes the classes it loaded to an archive, later JVMs map them,
which saves several seconds of class loading per JVM start. The archive
needs jars on the classpath, hence the jar.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "perfbench.jar")
CDS_ARCHIVE = os.path.join(OUT, "classes.jsa")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "scala")]


def spark_jars():
    """`$SPARK_HOME/jars`, else the distribution of `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"no Spark jars at {jars!r} (set SPARK_HOME)")
    return jars


def sources():
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"missing source directory {d}")
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files
                    if f.endswith(".scala")]
    return sorted(out)


def classpath():
    return JAR + os.pathsep + os.path.join(spark_jars(), "*")


def cds_flags():
    """(JVM flags, archive being written or None). Without an archive the
    JVM writes one at exit to a private path; `cds_keep` publishes it."""
    if os.path.exists(CDS_ARCHIVE):
        return [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"], None
    tmp = f"{CDS_ARCHIVE}.{os.getpid()}"
    return [f"-XX:ArchiveClassesAtExit={tmp}"], tmp


def cds_keep(tmp, ok):
    """Publish the archive a JVM wrote if it exited cleanly, else drop it."""
    if tmp and os.path.exists(tmp):
        if ok:
            os.replace(tmp, CDS_ARCHIVE)
        else:
            os.remove(tmp)


def pack():
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for base, _, files in os.walk(CLASSES):
            for f in sorted(files):
                p = os.path.join(base, f)
                z.write(p, os.path.relpath(p, CLASSES))


def build():
    """Compile if any source changed; returns the runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = os.path.join(spark_jars(), "*")
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-d", CLASSES,
           "-classpath", jars, "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("scalac failed")
    pack()
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
