"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the harness
(gpsatbench/src) using the Scala compiler that ships among Spark's jars, so
no build tool or network is needed. Output goes to
.bench_build/classes-<hash of the sources>; an unchanged tree is not
rebuilt.

    python3 gpsatbench/build.py        # prints the classes directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no Spark jar directory")
    return Path(m.group(1))


# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def _inputs():
    main_src = ROOT / "src" / "main" / "scala"
    if not main_src.is_dir():
        raise BuildError(f"{main_src} not found: run from the root of a checkout of the repository")
    if not spark_jars().is_dir():
        raise BuildError(f"{spark_jars()} not found: set SPARK_HOME to a Spark 4 installation")
    sources = sorted(main_src.rglob("*.scala")) + sorted((ROOT / "gpsatbench" / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    return sources, resources, res_files


def build():
    """Returns the classes directory, compiling first if the sources changed."""
    sources, resources, res_files = _inputs()
    h = hashlib.sha256()
    for f in sources + res_files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    partial = out.with_name(out.name + ".partial")
    shutil.rmtree(partial, ignore_errors=True)
    (partial / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={partial / 'tmp'}",
           "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main", "-nowarn",
           "-classpath", f"{spark_jars()}/*", "-d", str(partial)] + [str(f) for f in sources]
    print(f"compiling {len(sources)} Scala sources into {out.relative_to(ROOT)}", file=sys.stderr)
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    shutil.rmtree(partial / "tmp")
    for f in res_files:
        dst = partial / f.relative_to(resources)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    for stale in BUILD_DIR.glob("classes-*"):
        if stale != partial:
            shutil.rmtree(stale, ignore_errors=True)
    partial.rename(out)
    (out / ".complete").touch()
    return out


def java_command(classes, main, args, tmpdir):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["--add-modules=jdk.incubator.vector", "-Xmx3g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmpdir}", "-cp", f"{classes}:{spark_jars()}/*", main] + args)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
