"""Build file of the benchmark: compiles the program under src/main/scala
together with the harness under e2ebench/ into .bench_build/classes with
the Scala compiler that ships in Spark's jars, and generates the fixture
tables the batch workloads read. Both steps are cached by content hash,
so only the first run in a checkout pays for them.

    python3 e2ebench/build.py          # build and generate, print the paths
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
SCALE = "0.01"  # fixture scale factor (see README.md, "Sizing")

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("Spark not found: set SPARK_HOME")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def java_cmd(classes: Path, heap: str) -> list:
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap: no run-to-run difference in when and how far it grows
    return [java(), *opens, f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{spark_jars() / '*'}"]


def _digest(paths, root: Path) -> str:
    h = hashlib.sha256()
    for p in paths:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile program and harness; return the classes directory."""
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"no program sources at {program.relative_to(ROOT)}")
    sources = sorted(program.rglob("*.scala")) + sorted((HERE / "src").glob("*.scala")) \
        + sorted((HERE / "test").glob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    stamp = _digest(sources + res_files, ROOT)
    classes = BUILD / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    jars = spark_jars()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


def prepare_data(classes: Path) -> Path:
    """Generate the fixture tables once per generator version, planted rows and scale."""
    inputs = [ROOT / "src" / "main" / "scala" / "graft" / "GenData.scala", HERE / "src" / "Fixtures.scala"]
    data = BUILD / "data" / f"sf{SCALE}-{_digest(inputs, ROOT)[:12]}"
    if (data / "_DONE").is_file():
        return data
    shutil.rmtree(data, ignore_errors=True)
    cmd = java_cmd(classes, "2g") + ["graftbench.Main", "prepare", "--data", str(data), "--sf", SCALE]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=600)
    if r.returncode != 0:
        raise BuildError("fixture generation failed:\n" + r.stdout[-4000:])
    (data / "_DONE").write_text("")
    return data


if __name__ == "__main__":
    try:
        c = build()
        print(c)
        print(prepare_data(c))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
