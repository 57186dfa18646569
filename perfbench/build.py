"""Build file of the benchmark: compiles the program and the benchmark's JVM
side with the Scala compiler that ships among the Spark jars, so no build
tool starts inside a timed run.

    python3 perfbench/build.py            # build into .bench_build/

Outputs go under the build directory (`$CARGO_TARGET_DIR`, else
`.bench_build` at the root of the checkout). Each compile is skipped when a
hash of its sources and the jar list is unchanged, and lands in a fresh
directory that is renamed into place only once it succeeds.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the `unmanagedBase` that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m or not Path(m.group(1)).is_dir():
        raise SystemExit("build: cannot locate the Spark jars (set SPARK_HOME)")
    return Path(m.group(1))


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def _sources(d: Path):
    return sorted(p for p in d.rglob("*") if p.suffix in (".scala", ".java"))


def _stamp(files, jars: Path, extra: str = "") -> str:
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def _compile(name: str, src: Path, classpath: str, jars: Path, extra: str = "") -> Path:
    files = _sources(src)
    if not files:
        raise SystemExit(f"build: no sources under {src}")
    out = build_dir() / name
    stamp = _stamp(files, jars, extra)
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        return out
    tmp = build_dir() / f"{name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-cp", classpath] + [str(f) for f in files]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: compiling {name} failed")
    (tmp / ".stamp").write_text(stamp)
    if (out / ".stamp").is_file() and (out / ".stamp").read_text() == stamp:
        shutil.rmtree(tmp)  # a concurrent build finished first
    else:
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    return out


def build() -> str:
    """Compile the program and the benchmark; return the JVM classpath."""
    src = ROOT / "src" / "main" / "scala"
    if not src.is_dir() or not (ROOT / "build.sbt").is_file():
        raise SystemExit("build: no program sources (src/main/scala, build.sbt) in this checkout")
    jars = spark_jars()
    program = _compile("program", src, f"{jars}/*", jars)
    bench = _compile("bench", HERE / "scala", f"{program}:{jars}/*", jars,
                     extra=(program / ".stamp").read_text())
    return f"{bench}:{program}:{jars}/*"


if __name__ == "__main__":
    print(build())
