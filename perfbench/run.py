"""Run one benchmark workload against the engine of this checkout.

    python3 perfbench/run.py --workload cluster --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark if their sources changed (build.py).
Each timed sample is one JVM that starts Spark, generates the inputs from
the seed and runs the workload's job once, cold, as a spark-submit does;
samples repeat until --seconds of job time are measured, while another one
still fits before the deadline. With --trace 1 a
separate JVM then runs the job once more with a span around every layer
call. Everything is written under .bench_build/ at the checkout root and
the per-run work directory is deleted at the end. The last line of standard
output is the result JSON: the end-to-end metrics of BENCHMARK.json, or its
per-layer metrics with --trace 1. The exit code is non-zero when a job call
failed or an output check did.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cluster", "megacluster", "backup_chain")
# a run, after the build, must end well inside 180 s
DEADLINE_S = 170


def heap_mb() -> int:
    """A quarter of physical memory, clamped to [2, 6] GiB: sized from
    /proc/meminfo for this host, not from a build default."""
    total_kb = 8 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(2048, min(6144, total_kb // 4 // 1024))


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


class Run:
    """The JVMs of one run and the call ledger across them."""

    def __init__(self, a, classpath: str, work: Path, deadline: float):
        self.a, self.classpath, self.work = a, classpath, work
        self.deadline = deadline
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(what)

    def jvm(self, mode: str):
        """One JVM; its result object, or None when it died without one."""
        a = self.a
        cmd = build.java_command(self.classpath, self.work, heap_mb()) + [
            "perfbench.Main", "--mode", mode, "--workload", a.workload,
            "--seed", str(a.seed), "--size", a.size, "--cores", str(cores()),
            "--work", str(self.work),
            "--traces", str(build.BUILD / "traces")]
        # Spark's scratch stays in the work directory even where the
        # environment names another one
        env = {**os.environ, "SPARK_LOCAL_DIRS": str(self.work / "spark-local")}
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
        try:
            out, _ = proc.communicate(
                timeout=max(1.0, self.deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            self.fail(f"{mode} JVM stopped at the {DEADLINE_S}s deadline")
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        lines = out.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            print("\n".join(lines[-1:]))
            self.fail(f"{mode} JVM exited {proc.returncode} without a result")
            return None
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        return res


def job_s(res) -> float:
    return sum(res["phases_s"].values())


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="input size; smoke is for the benchmark's own tests")
    p.add_argument("--min-samples", type=int, default=1,
                   help="timed samples to take even when --seconds is "
                        "already measured; for the benchmark's own tests")
    a = p.parse_args()
    # SystemExit unwinds through every subprocess call, which kills the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        classpath = build.build()
    except (OSError, ValueError, build.BuildError) as e:
        print(f"[perfbench] cannot run here: {e}", file=sys.stderr)
        return 2

    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (build.BUILD / "traces").mkdir(parents=True, exist_ok=True)
    run = Run(a, classpath, work, time.monotonic() + DEADLINE_S)
    jobs, traced = [], None
    try:
        measured, slowest = 0.0, 0.0
        while True:
            t0 = time.monotonic()
            res = run.jvm("job")
            if res is None or res["failed"]:
                break
            jobs.append(res)
            measured += job_s(res)
            slowest = max(slowest, time.monotonic() - t0)
            # room for one more sample, and for the traced JVM after it
            room = run.deadline - time.monotonic() - slowest * (1 + a.trace)
            if (measured >= a.seconds and len(jobs) >= a.min_samples
                    or room < 0):
                break
        if a.trace and jobs:
            traced = run.jvm("trace")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    counts = {json.dumps(j["counts"], sort_keys=True) for j in jobs}
    if len(counts) > 1:
        run.fail(f"job counts differ between samples: {sorted(counts)}")
    if traced and traced.get("counts") != jobs[0]["counts"]:
        run.fail(f"traced counts {traced.get('counts')} differ from the "
                 f"timed job's {jobs[0]['counts']}")

    def med(f):
        return statistics.median(f(j) for j in jobs) if jobs else 0.0

    values = {
        "setup_s": med(lambda j: j["setup_s"]),
        "ingest_mb_per_s": med(lambda j: j["mb"] / j["phases_s"]["ingest"]),
        "job_s": med(job_s),
        "cpu_s": med(lambda j: j["cpu_s"]),
        "exec_cpu_s": med(lambda j: j["exec_cpu_s"]),
        "peak_rss_mb": med(lambda j: j["peak_rss_mb"]),
    }
    wanted = spec["end_to_end"]
    if a.trace:
        wanted = spec["per_layer"]
        values.update((traced or {}).get("layer", {}))
        for k in (jobs[0]["product"] if jobs else {}):
            values[k] = med(lambda j: j["product"][k])
        if traced and "wall_s" in traced:
            values["trace.overhead_s"] = traced["wall_s"] - values["job_s"]
        values["error_rate"] = run.failed / max(run.attempted, 1)
    # a layer the workload does not run reads 0 in the per-layer set
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0),
                           "unit": m["unit"]} for m in wanted}

    correct = run.failed == 0 and bool(jobs) and (traced or not a.trace)
    print(f"[perfbench] {a.workload} seed {a.seed}: {len(jobs)} timed "
          f"job(s), calls {run.attempted}, failed {run.failed}, "
          f"error_rate {run.failed / max(run.attempted, 1):.4f}")
    for e in run.errors:
        print(f"[perfbench] error: {e}")
    for name, m in metrics.items():
        print(f"[perfbench]   {name:<32} {m['value']:.6g} {m['unit']}")
    if not a.trace:
        for k in (jobs[0]["product"] if jobs else {}):
            print(f"[perfbench]   {k:<32} "
                  f"{statistics.median(j['product'][k] for j in jobs):.6g}")
    print(json.dumps({"correct": bool(correct),
                      "attempted": max(run.attempted, 1),
                      "failed": run.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
