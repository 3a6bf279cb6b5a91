"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution's jar directory, into .bench_build/classes-<hash>.

The output directory is keyed by a hash of every source file, so an
unchanged checkout builds once. Run it alone with
`python3 perfbench/build.py` from the root of a checkout; it prints the
classpath.
"""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME, or else of the first
    `spark-submit` on the PATH that belongs to one with a Scala compiler."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        if d and submit.is_file():
            homes.append(submit.resolve().parent.parent)
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise BuildError("no Spark distribution with a Scala compiler: set SPARK_HOME")


def java():
    home = os.environ.get("JAVA_HOME")
    if home and (Path(home) / "bin" / "java").exists():
        return str(Path(home) / "bin" / "java")
    return "java"


def sources():
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    if not main:
        raise BuildError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    if not bench:
        raise BuildError(f"no benchmark sources under {HERE / 'src'}")
    return main + bench


def build():
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for jar in sorted(p.name for p in jars.glob("*.jar")):
        h.update(jar.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    classpath = f"{out}{os.pathsep}{jars}/*"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / "BUILD_OK").exists():
            return classpath
        for old in BUILD.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        staging = BUILD / "classes.tmp"
        shutil.rmtree(staging, ignore_errors=True)
        tmp = BUILD / "tmp"
        staging.mkdir()
        tmp.mkdir(exist_ok=True)
        argfile = BUILD / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = [java(), "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
               "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(staging), f"@{argfile}"]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=800)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-4000:])
        (staging / "BUILD_OK").write_text("ok\n")
        staging.rename(out)
        shutil.rmtree(tmp, ignore_errors=True)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
