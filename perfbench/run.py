"""Benchmark launcher: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve|analytics \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. The launcher sets up a hermetic
environment (CPU count, driver memory, PYTHONPATH, and every scratch directory
under one per-run root inside the checkout), starts the workload in its own
process session, samples the peak RSS of that process tree (traced runs), stops every
process the workload left behind, removes the per-run root, and prints the
result as the last line of standard output. It exits non-zero when a
correctness check failed or the program is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve", "analytics")
CHILD_TIMEOUT_S = 170.0

sys.path.insert(0, str(ROOT))
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


def driver_memory() -> str:
    """A driver heap well below host RAM: a quarter of it, at most 4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(1, min(4, total_kib // (4 * 1024 * 1024)))}g"


def hermetic_env(run_root: Path, trace: bool) -> dict[str, str]:
    tmp, local, warehouse = (run_root / d for d in ("tmp", "spark-local", "warehouse"))
    for d in (tmp, local, warehouse):
        d.mkdir(parents=True, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    submit = [
        "--conf", f"spark.local.dir={local}",
        "--conf", f"spark.sql.warehouse.dir={warehouse}",
        "--driver-java-options", java_opts,
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        # keep every job and stage of the run in the status store, so the
        # per-span counters are read after the measured phase
        submit += ["--conf", "spark.ui.retainedJobs=100000",
                   "--conf", "spark.ui.retainedStages=100000"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_memory(),
        "PYTHONPATH": str(ROOT),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        # Spark's Python workers must agree on string hashes
        "PYTHONHASHSEED": "0",
    })
    env.pop("SPARK_MASTER", None)
    return env


def session_pids(sid: int) -> list[int]:
    """Live processes of the process session ``sid``."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(entry))
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree, sampled until stopped: the
    workload's Python processes and JVMs, summed as proportional set size
    (Pss). Spark's Python workers are left out: how many the scheduler
    starts varies from run to run."""

    def __init__(self, sid: int, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.interval_s = sid, interval_s
        self.peak_kib = 0
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        total = 0
        for pid in session_pids(self.sid):
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if b"-m\x00pyspark." in fh.read():  # python -m pyspark.daemon / .worker
                        continue
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    total += next((int(line.split()[1]) for line in fh if line.startswith("Pss:")), 0)
            except OSError:
                continue
        self.peak_kib = max(self.peak_kib, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.interval_s):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak_kib / 1024.0


def stop_session(sid: int, timeout_s: float = 20.0) -> None:
    """Terminate every process left in the session and wait for each to end."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(sid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + timeout_s / 2
        while time.time() < deadline:
            if not session_pids(sid):
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "oaim_sandbox_spark" / "__init__.py").is_file():
        print(f"perfbench: the program (oaim_sandbox_spark) is not in {ROOT}", file=sys.stderr)
        return 2

    run_root = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    run_root.mkdir(parents=True)
    result_path = run_root / "result.json"
    try:
        env = hermetic_env(run_root, bool(args.trace))
        cmd = [sys.executable, "-m", "perfbench.main", "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--root", str(run_root),
               "--out", str(result_path)]
        # the workload's own output goes to stderr: stdout carries only the
        # result line
        child = subprocess.Popen(cmd, cwd=run_root, env=env, stdout=sys.stderr,
                                 start_new_session=True)
        # memory is a per-layer number: sample it in traced runs only
        sampler = RssSampler(child.pid) if args.trace else None
        if sampler:
            sampler.start()
        try:
            rc = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = None
        if sampler:
            sampler.sample()
            peak_mb = sampler.stop()
        stop_session(child.pid)
        if rc is None:
            child.wait()
            print("perfbench: workload timed out", file=sys.stderr)
            return 3
        if not result_path.is_file():
            print(f"perfbench: workload exited with {rc} and no result", file=sys.stderr)
            return 4
        res = json.loads(result_path.read_text())
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        try:
            run_root.parent.rmdir()
        except OSError:
            pass

    if args.trace:
        res["layers"]["process.peak_rss_mb"] = peak_mb
        spec, values = PER_LAYER, res["layers"]
    else:
        spec, values = END_TO_END, res["e2e"]
    metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
               for name, unit in spec.items()}
    for line in res.get("notes", []):
        print(f"perfbench: {line}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] and rc == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
