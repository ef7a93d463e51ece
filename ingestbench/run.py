"""Ingest benchmark entry point.

    python3 ingestbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 ingestbench/run.py --selftest

Builds the program and the benchmark from source (build.py), runs one
workload in a fresh JVM with a fresh warehouse under .bench_tmp/, and
prints its report lines followed by one result JSON line. The result is
printed only when it carries exactly the metrics BENCHMARK.json lists for
the mode (end_to_end for --trace 0, per_layer for --trace 1); its
"correct" is false when an output was wrong or an operation failed. The
exit code is 0 when a result was printed, non-zero otherwise. Span files
of traced runs go to .bench_out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
# A second seed, kept out of tuning, to re-check claims made on other seeds.
HELD_OUT_SEED = 90731

JVM_OPTS = [
    "-Xmx3g", "-Xss8m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def commit_id() -> str:
    try:
        return subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True,
                              text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "src-" + build.stamp(build.sources(), build.spark_jars())[:16]


def expected_metrics(trace: bool) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def valid(result: dict, trace: bool) -> str:
    """Empty when `result` has the contract's shape, else what is wrong."""
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(result)}"
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        return "attempted must be a whole number >= 1"
    got = {k: v.get("unit") for k, v in result["metrics"].items()}
    want = expected_metrics(trace)
    if got != want:
        return f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, " \
               f"unexpected {sorted(set(got) - set(want))}, units {[k for k in want if got.get(k) not in (None, want[k])]}"
    bad = [k for k, v in result["metrics"].items() if not isinstance(v.get("value"), (int, float))]
    return f"non-numeric values {bad}" if bad else ""


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    cp = build.classpath(build.build())
    tmp = ROOT / ".bench_tmp" / f"run-{os.getpid()}"
    out = ROOT / ".bench_out"
    tmp.mkdir(parents=True, exist_ok=True)
    cds = [f"-XX:SharedArchiveFile={build.archive()}"] if build.archive().is_file() else []
    cmd = ["java", *JVM_OPTS, *cds, f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={Path(__file__).resolve().parent / 'log4j2.properties'}", f"-Dingestbench.commit={commit_id()}",
           "-cp", cp, "ingestbench.Main"]
    if a.selftest:
        cmd.append("--selftest")
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--tmp", str(tmp), "--out", str(out)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[ingestbench] run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 4
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass
    lines = stdout.splitlines()
    if a.selftest:
        print(stdout, end="")
        return proc.returncode
    try:
        result = json.loads(lines[-1])
        problem = valid(result, bool(a.trace))
    except (IndexError, ValueError, AttributeError) as e:
        problem = f"no result line ({e})"
    if problem:
        sys.stderr.write(stdout)
        print(f"[ingestbench] invalid output: {problem}", file=sys.stderr)
        return proc.returncode or 3
    print(stdout, end="")
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
