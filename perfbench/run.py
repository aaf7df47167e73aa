"""Migration-lifecycle benchmark for bigdatamigratecloud_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one seeded, single-client, closed-loop workload (see workloads.py and
METRICS.md) in a child process on local[<cores>], checks every output,
and prints two lines on stdout: a report (every metric with its median,
tail percentile, sample count and unit) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones from a run whose public functions are wrapped in spans.

The benchmark owns one scratch root inside the checkout
(``.perfbench_scratch/``): the child's temp dir, Spark's local dirs and
every input and output live there, and it is removed after the child and
all of its processes have exited.  Package temp dirs the session leaves
behind are measured first (``xml_package.tmp_leak_bytes``); any other
leftover fails the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_INIT = os.path.join(ROOT, "bigdatamigratecloud_spark", "__init__.py")
WORKLOADS = ("migrate_package", "acid_dedup")
DEADLINE_S = 165  # the child is killed past this; the run must end in 180 s

# Session settings, pinned for a 4-core, 15 GB host.  Shuffle partitions
# follow the cores (session.get_spark sets them equal).  The package
# defaults (12 GB pre-touched heap, 16 GB host warm) would claim most of
# such a host.
CORES = len(os.sched_getaffinity(0))
SETTINGS = {
    "cores": CORES,
    "shuffle_partitions": CORES,
    "driver_memory": "2g",
    "warm_gb": 2,
}
TMP_OWNED = ("bdmc_pkg_",)  # package temp dirs: measured, then removed
TMP_EXPECTED = (".bdmc_hostwarm_",)  # warmup's once-per-boot marker


def dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def session_pids(sid: int) -> list[int]:
    """Live processes of the child's session (the JVM and Python workers
    stay in it even when they start their own process groups)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def reap_session(sid: int) -> None:
    """TERM, then KILL, whatever is left of the session; wait until none is."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while session_pids(sid) and time.monotonic() < end:
            time.sleep(0.1)


def child_env(scratch: str) -> dict[str, str]:
    tmp = os.path.join(scratch, "tmp")
    jvm_tmp = os.path.join(scratch, "jvm-tmp")
    for d in (tmp, jvm_tmp):
        os.makedirs(d)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
        "SPARK_GRAFT_CPUS": str(SETTINGS["cores"]),
        "SPARK_GRAFT_DRIVER_MEM": SETTINGS["driver_memory"],
        # the worker warms host memory itself, outside setup_s
        "SPARK_GRAFT_WARM_GB": "0",
    })
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(PKG_INIT):
        print(f"perfbench: the package is missing ({PKG_INIT}); run from a full checkout", file=sys.stderr)
        return 2

    started = time.monotonic()
    scratch_root = os.path.join(ROOT, ".perfbench_scratch")
    scratch = os.path.join(scratch_root, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    out_path = os.path.join(scratch, "result.json")
    log_path = os.path.join(scratch, "worker.log")
    try:
        env = child_env(scratch)
        with open(log_path, "w") as log:
            child = subprocess.Popen(
                [
                    sys.executable, os.path.join(HERE, "worker.py"),
                    "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--scratch", scratch,
                    "--settings", json.dumps(SETTINGS), "--out", out_path,
                ],
                cwd=scratch, env=env, stdin=subprocess.DEVNULL, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = child.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
            except subprocess.TimeoutExpired:
                code = None
            reap_session(child.pid)
            if code is None:
                child.wait()
        if code != 0 or not os.path.exists(out_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            print(f"perfbench: worker {'timed out' if code is None else f'exited {code}'}", file=sys.stderr)
            return 1
        with open(out_path) as f:
            res = json.load(f)

        tmp = os.path.join(scratch, "tmp")
        owned = leaked = 0
        strays = []
        for entry in sorted(os.listdir(tmp)):
            size = dir_bytes(os.path.join(tmp, entry))
            if entry.startswith(TMP_OWNED):
                owned += size
            elif not entry.startswith(TMP_EXPECTED):
                strays.append(entry)
                leaked += size
        report = res["report"]
        report["tmp"] = {"bdmc_pkg_bytes": owned, "stray_entries": strays, "stray_bytes": leaked}
        if strays:  # the hygiene check is one more op, and it failed
            res["attempted"] += 1
            res["failed"] += 1
            res["problems"].append(f"temp files leaked: {strays}")
        correct = res["failed"] == 0
        if a.trace:
            values = dict(res["layers"])
            values["xml_package.tmp_leak_bytes"] = owned / res["imports"] if res["imports"] else 0.0
        else:
            values = res["e2e"]
        declared = declared_metrics("per_layer" if a.trace else "end_to_end")
        if set(values) != set(declared):
            print(f"perfbench: metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(declared))}", file=sys.stderr)
            return 1
        metrics = {k: {"value": values[k], "unit": unit} for k, unit in declared.items()}
        report["problems"] = res["problems"]
        report["wall_s"] = time.monotonic() - started
        print(json.dumps(report))
        print(json.dumps({
            "correct": correct,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        }))
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(scratch_root)
        except OSError:
            pass


def declared_metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares, in its order."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
