"""Build file of the benchmark: compiles the library and the harness.

    python3 perfbench/build.py          # from the root of a checkout

Compiles every `src/main/scala/**/*.scala` of the checkout together
with `perfbench/harness/*.scala` into `.bench_build/classes`, using the
Scala 2.13 compiler that ships among the Spark jars — the directory the
project's `build.sbt` names as `unmanagedBase`. No sbt, no dependency
resolution: those jars are the whole classpath, as in the project's own
build. The output is reused while a SHA-256 stamp over all compiled
sources still matches.
"""
import hashlib
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent


def spark_jars(root: Path) -> Path:
    """The Spark jars directory that `build.sbt` puts on the classpath."""
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text() if sbt.is_file() else "")
    if not m:
        raise SystemExit(f"{sbt} names no unmanagedBase Spark jars directory")
    return Path(m.group(1))


def sources(root: Path) -> list:
    lib = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    harness = sorted((BENCH_DIR / "harness").glob("*.scala"))
    return lib + harness


def build(root: Path) -> Path:
    """Return the classes directory, compiling first when stale."""
    src = sources(root)
    if not any(p.is_relative_to(root / "src") for p in src):
        raise SystemExit(f"no Scala sources under {root / 'src/main/scala'}")
    out = root / ".bench_build"
    classes = out / "classes"
    stamp = out / "stamp"
    h = hashlib.sha256()
    for p in src:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    classes.mkdir()
    jars = f"{spark_jars(root)}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g",
           f"-Djava.io.tmpdir={out / 'tmp'}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", jars,
           "-d", str(classes)] + [str(p) for p in src]
    done = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, text=True)
    if done.returncode != 0:
        sys.stderr.write(done.stdout[-4000:])
        raise SystemExit(f"compile failed (exit {done.returncode})")
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    print(build(Path.cwd()))
