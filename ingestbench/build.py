"""Build file of the ingest benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (ingestbench/src) into .bench_build/ingestbench/bench.jar,
with the Scala compiler that ships in the Spark distribution's jars
directory ($SPARK_HOME/jars, or next to `spark-submit` on the PATH). A short training
run of every workload then records the classes they load in a class-data
sharing archive (app.jsa), so each benchmark JVM starts without parsing
them again. A stamp over every source file skips the build when nothing
changed.

    python3 ingestbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "ingestbench" / "src"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "ingestbench"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources() -> list:
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"program sources not found: {PROGRAM_SRC}")
    return sorted(list(PROGRAM_SRC.rglob("*.scala")) + list(BENCH_SRC.rglob("*.scala")))


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(jar: Path) -> str:
    return f"{jar}{os.pathsep}{spark_jars() / '*'}"


def build() -> Path:
    """Returns the benchmark jar, building it first if sources changed."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    jar = OUT / "bench.jar"
    stamp_file = OUT / "stamp"
    if jar.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return jar
    OUT.mkdir(parents=True, exist_ok=True)
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir()
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    t0 = time.time()
    print(f"[ingestbench] compiling {len(files)} sources ...", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                    "-nowarn", "-d", str(staging), "-classpath", cp, f"@{argfile}"],
                   check=True, stdout=sys.stderr)
    jar.unlink(missing_ok=True)
    subprocess.run(["jar", "cf", str(jar), "-C", str(staging), "."], check=True)
    shutil.rmtree(staging)
    print(f"[ingestbench] compiled in {time.time() - t0:.0f} s", file=sys.stderr, flush=True)
    train(jar)
    stamp_file.write_text(want)
    return jar


def archive() -> Path:
    return OUT / "app.jsa"


def train(jar: Path) -> None:
    """Writes the class-data sharing archive; the benchmark runs without
    one (only slower to start) if this fails."""
    import run  # the JVM options must match the runs that use the archive
    t0 = time.time()
    archive().unlink(missing_ok=True)
    tmp = ROOT / ".bench_tmp" / "train"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        subprocess.run(["java", *run.JVM_OPTS, f"-XX:ArchiveClassesAtExit={archive()}",
                        f"-Djava.io.tmpdir={tmp}", "-cp", classpath(jar), "ingestbench.Main",
                        "--train", "--tmp", str(tmp), "--out", str(tmp)],
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)
    except subprocess.TimeoutExpired:
        archive().unlink(missing_ok=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"[ingestbench] class archive {'written' if archive().is_file() else 'NOT written'} "
          f"in {time.time() - t0:.0f} s", file=sys.stderr, flush=True)


if __name__ == "__main__":
    print(build())
