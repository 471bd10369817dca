"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload rsna_pipeline --seed 1 --seconds 40 --trace 0

Workloads and metrics are declared in BENCHMARK.json at the repository
root. The program and the benchmark are built from source first (see
build.py); build output and run scratch go to $CARGO_TARGET_DIR, default
``.bench_build``. Each run starts one measuring JVM with one local
SparkSession and waits for it to end. With ``--trace 0`` the result holds the end-to-end
metrics, with ``--trace 1`` the per-layer ones; spans of a traced run are
written to ``<build dir>/work/<workload>-<seed>-1/spans.jsonl``. An untraced
run first starts SETUPS - 1 JVMs that only set up, each timed from its own
start, so that ``setup_s`` is the median of SETUPS cold set-ups.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these (as the root build sets them).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170
SETUPS = 3


def driver_mem():
    """SPARK_DRIVER_MEM, else half the host's memory clamped to 2..8 GiB (as tier-1 sets it)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(classpath, main, args, work):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{driver_mem()}", "-XX:-UsePerfData", *opens, f"-Djava.io.tmpdir={tmp}",
             "-Duser.timezone=UTC", "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false",
             "-cp", classpath, main] + [str(a) for a in args])


def steal_s():
    """CPU time the hypervisor gave to other guests, all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def run_java(cmd, limit_s, work):
    env = dict(os.environ, LC_ALL="C.utf8", SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=ROOT)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        raise SystemExit(f"perfbench: run exceeded {limit_s:.0f} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that per-op attribution holds across Par threads")
    a = ap.parse_args()
    t0 = time.monotonic()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "Pipeline.scala").exists():
        sys.exit("perfbench: the program's sources (src/main/scala) are not in this checkout")
    out_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classpath = build.build(out_dir)
    if a.self_test:
        work = out_dir / "work" / "self-test"
        shutil.rmtree(work, ignore_errors=True)
        rc, out = run_java(java_cmd(classpath, "perfbench.SelfTest", [work], work), RUN_LIMIT_S, work)
        print(out, end="")
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(rc)
    if a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    work = out_dir / "work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
            "--trace", a.trace, "--work", work, "--data", HERE / "data"]
    steal0 = steal_s()
    setups = []
    for _ in range(0 if a.trace else SETUPS - 1):
        rc, out = run_java(java_cmd(classpath, "perfbench.Main", args + ["--setup-only", 1], work),
                           RUN_LIMIT_S - (time.monotonic() - t0), work)
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if rc != 0 or not lines:
            sys.exit(f"perfbench: set-up JVM exited with {rc}")
        setups.append(json.loads(lines[-1])["setup_s"])
    cmd = java_cmd(classpath, "perfbench.Main",
                   args + ["--prior-setups", ",".join(map(str, setups))], work)
    rc, out = run_java(cmd, RUN_LIMIT_S - (time.monotonic() - t0), work)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        sys.exit(f"perfbench: benchmark JVM exited with {rc}")
    for l in lines[:-1]:
        print(l)
    # host noise the run saw, for reading its spread
    print(json.dumps({"host": {"cpu_steal_s": round(steal_s() - steal0, 2), "cpus": os.cpu_count()}}))
    result = json.loads(lines[-1])
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != want:
        sys.exit(f"perfbench: metrics {sorted(set(result['metrics']) ^ want)} do not match BENCHMARK.json")
    # the run's scratch (inputs, outputs) is not kept; spans of traced runs are
    for p in work.iterdir():
        if p.name != "spans.jsonl":
            shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink()
    print(json.dumps(result))


if __name__ == "__main__":
    main()
