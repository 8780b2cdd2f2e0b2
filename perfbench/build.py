"""Build file of the benchmark: compiles the engine (`src/main`) and the
benchmark harness (`perfbench/src`) with the Scala compiler that ships
in Spark's jars, into `<build_dir>/classes-<source hash>`. A build whose
sources have not changed is reused.

Usage: python3 perfbench/build.py [build_dir]   (default: .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the jars the installed
    pyspark package ships."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            home = "."
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    main = os.path.join(ROOT, "src", "main")
    scala = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not scala:
        raise SystemExit(f"perfbench: no engine sources under {main}")
    scala += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    java = sorted(glob.glob(os.path.join(main, "**", "*.java"), recursive=True))
    resources = sorted(p for p in glob.glob(os.path.join(main, "resources", "**"), recursive=True)
                       if os.path.isfile(p))
    return scala, java, resources


def build(build_dir):
    """Compile if needed; returns the classpath entry holding every class
    and resource of the engine and the harness."""
    scala, java, resources = sources()
    h = hashlib.sha256()
    for p in scala + java + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-classpath", jars] + scala + java, check=True)
    if java:
        subprocess.run(["javac", "-nowarn", "-d", tmp, "-cp", tmp + os.pathsep + jars] + java,
                       check=True)
    res_root = os.path.join(ROOT, "src", "main", "resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")))
