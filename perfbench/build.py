#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/src`) with the Scala compiler that ships among
the Spark jars (the directory `build.sbt` names as `unmanagedBase`), into
`.bench_build/classes` under the repository root. A stamp of every source
file's path and content hash skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import re
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def sources(root):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"build: no program sources at {main}")
    files = sorted(main.rglob("*.scala")) + sorted((root / "perfbench" / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def spark_jars(root):
    """The Spark jar directory, as the repository's own build declares it."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        raise SystemExit("build: build.sbt declares no unmanagedBase jar directory")
    return m.group(1)


def stamp_of(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f).encode())
        h.update(hashlib.sha256(f.read_bytes()).digest())
    return h.hexdigest()


def classpath(root):
    return os.pathsep.join([
        str(root / BUILD_DIR / "classes"),
        str(root / "src" / "main" / "resources"),
        f"{spark_jars(root)}/*",
    ])


def build(root):
    """Compile if the sources changed since the last build; return the
    classpath to run with."""
    root = Path(root).resolve()
    files = sources(root)
    out = root / BUILD_DIR / "classes"
    stamp_file = root / BUILD_DIR / "stamp"
    stamp = stamp_of(files)
    if stamp_file.is_file() and stamp_file.read_text() == stamp and out.is_dir():
        return classpath(root)
    if out.exists():
        for p in sorted(out.rglob("*"), reverse=True):
            p.unlink() if p.is_file() else p.rmdir()
    out.mkdir(parents=True, exist_ok=True)
    args_file = root / BUILD_DIR / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    jars = f"{spark_jars(root)}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", jars, f"@{args_file}"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    stamp_file.write_text(stamp)
    return classpath(root)


def java_cmd(root, work, main, args, heap="3g"):
    """The JVM command line for `main`, with every temporary path Spark,
    Derby and the JDK write to pointed into `work`."""
    root = Path(root).resolve()
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return ["java", *opens, f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dderby.system.home={work}/derby",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath(root), main, *args]


if __name__ == "__main__":
    build(Path(__file__).resolve().parent.parent)
    print("build: ok")
