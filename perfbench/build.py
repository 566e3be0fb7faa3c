"""Build file of the benchmark: compiles the program's main sources and
the benchmark harness with the Scala compiler that ships among the
program's Spark jars (the `unmanagedBase` of its build.sbt), into
.bench_build/perfbench/. Unchanged sources are not compiled again.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

ROOT = pathlib.Path.cwd()
HERE = pathlib.Path(__file__).resolve().parent
OUT = ROOT / ".bench_build" / "perfbench"

# The add-opens Spark needs on JDK 17 outside spark-submit, as in build.sbt.
JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def _sources(root: pathlib.Path):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def spark_jars() -> pathlib.Path:
    sbt = ROOT / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if not m or not pathlib.Path(m.group(1)).is_dir():
        raise BuildError("build.sbt names no Spark jar directory (unmanagedBase)")
    return pathlib.Path(m.group(1))


def _stamp(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    h.update(",".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def _scalac(sources, classpath, dest: pathlib.Path):
    tmp = dest.with_name(dest.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp.with_name(dest.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)]
    if classpath:
        cmd += ["-cp", os.pathsep.join(classpath)]
    proc = subprocess.run(cmd + [f"@{argfile}"], capture_output=True, text=True)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {dest.name}:\n{proc.stdout}{proc.stderr}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)


def build() -> list:
    """Compile what changed; return the runtime classpath."""
    program_src = ROOT / "src" / "main" / "scala"
    program = _sources(program_src)
    if not program:
        raise BuildError(f"no program sources under {program_src}")
    jars = spark_jars()
    harness = _sources(HERE / "harness" / "src")
    OUT.mkdir(parents=True, exist_ok=True)
    parts = [("program", program, []), ("harness", harness, [str(OUT / "program")])]
    rebuilt = False
    for name, files, cp in parts:
        stamp_file = OUT / f"{name}.stamp"
        stamp = _stamp(files)
        if rebuilt or not stamp_file.exists() or stamp_file.read_text() != stamp:
            stamp_file.unlink(missing_ok=True)
            _scalac(files, cp, OUT / name)
            stamp_file.write_text(stamp)
            rebuilt = True
    resources = ROOT / "src" / "main" / "resources"
    cp = [str(OUT / "harness"), str(OUT / "program")]
    if resources.is_dir():
        cp.append(str(resources))
    return cp + [f"{jars}/*"]


def stamp() -> str:
    """Identity of the current build, for caches derived from it."""
    return (OUT / "program.stamp").read_text() + (OUT / "harness.stamp").read_text()


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
