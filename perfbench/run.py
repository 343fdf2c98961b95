"""cell-kn-spark benchmark: one command for every workload.

    python3 perfbench/run.py --workload headliners --seed 1 --seconds 12 --trace 0

Run from the repository root. Each run starts a fresh worker process
(a fresh JVM and SparkSession on local[N], N = min(4, cores)) with a
throwaway warehouse and scratch directories under
``.perfbench_runs/``, drives the package through its public functions
as one closed-loop client, checks every result against an oracle, and
samples the worker tree's resident memory from outside.

Output: a detail line (every metric the workload measured, the
environment, each failure with its error class, the worker's return
code and stderr tail) and, last, one JSON object
``{"correct", "attempted", "failed", "metrics"}`` whose metrics are the
``end_to_end`` list of BENCHMARK.json (``--trace 0``) or its
``per_layer`` list (``--trace 1``); a workload BENCHMARK.json does not
list prints only its detail line. ``--workload all`` runs every
workload in turn. A worker that crashes or times out is reported on
stderr with its return code and stderr tail, and the command exits
non-zero without a result line.
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
PACKAGE = "cell_kn_mvp_etl_results_spark"
WORKLOADS = ("headliners", "phenotype_battery", "etl_load")
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
WORKER_TIMEOUT_S = 170
# Regime switches the package reads; the benchmark measures its defaults.
REGIME_VARS = ("SPARK_GRAFT_MATERIALIZE", "SPARK_GRAFT_CACHE_TABLES", "SPARK_GRAFT_PLAN_CACHE")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listdir and open
        if int(fields[2]) == pgid:  # field 5 of stat: process group
            pids.append(int(name))
    return pids


def _group_rss(pgid: int) -> int:
    total = 0
    for pid in _group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
    return total


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of the worker's process group and wait
    until every member has exited."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.time() + 30
    while _group_pids(pgid) and time.time() < deadline:
        time.sleep(0.1)


def _tail(path: str, n: int = 40) -> list[str]:
    try:
        with open(path, errors="replace") as f:
            return f.read().splitlines()[-n:]
    except OSError:
        return []


def run_worker(workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One fresh worker process; returns the detail record."""
    os.makedirs(RUNS_DIR, exist_ok=True)
    run_id = f"{workload}-s{seed}-t{trace}-{int(time.time() * 1000)}-{os.getpid()}"
    run_dir = os.path.join(RUNS_DIR, run_id)
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub))
    cores = min(4, os.cpu_count() or 1)
    env = {k: v for k, v in os.environ.items() if k not in REGIME_VARS}
    env.update({
        # Arrow-UDF workers import the package from any working directory
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        # the launcher JVM spark-submit starts first: no hsperfdata file
        # in the system temp dir (the driver JVM gets the same flag)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    load_before = os.getloadavg()
    spawned = time.time()
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--run-dir", run_dir, "--cores", str(cores),
        "--spawned-at", repr(spawned),
    ]
    out_path, err_path = os.path.join(run_dir, "stdout.log"), os.path.join(run_dir, "stderr.log")
    peak = 0
    with open(out_path, "w") as out, open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=err, start_new_session=True)
        timed_out = False
        try:
            while proc.poll() is None:
                peak = max(peak, _group_rss(proc.pid))
                if time.time() - spawned > WORKER_TIMEOUT_S:
                    timed_out = True
                    break
                time.sleep(0.1)
        finally:
            _stop_group(proc.pid)
            proc.wait()
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "run_id": run_id,
        "returncode": proc.returncode,
        "timed_out": timed_out,
        "wall_s": time.time() - spawned,
        "nproc": os.cpu_count(),
        "cores": cores,
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
    }
    result_path = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or timed_out or not os.path.exists(result_path):
        record["stderr_tail"] = _tail(err_path)
        return record
    with open(result_path) as f:
        record.update(json.load(f))
    record["metrics"]["peak_rss_mb"] = peak / (1 << 20)
    record["failed"] = len(record["failures"])
    record["op_failure_ratio"] = record["failed"] / max(1, record["attempted"])
    if record["failures"]:
        record["stderr_tail"] = _tail(err_path)
    # inputs are regenerated per run; keep only the small records
    for name in os.listdir(run_dir):
        path = os.path.join(run_dir, name)
        if os.path.isdir(path) and name not in ("eventlog",):
            shutil.rmtree(path, ignore_errors=True)
    return record


def _tracing_overhead(record: dict) -> dict | None:
    """Traced minus untraced end-to-end metrics, against the latest
    untraced run of the same workload in this checkout."""
    path = os.path.join(RUNS_DIR, f"last-untraced-{record['workload']}.json")
    if record["trace"] == 0:
        with open(path, "w") as f:
            json.dump(record["metrics"], f)
        return None
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)
    return {k: v - base[k] for k, v in record["metrics"].items() if k in base}


# Every end-to-end figure a workload can report, with its unit. The
# ones BENCHMARK.json lists go on the result line; all go in "summary".
SUMMARY_UNITS = {
    "setup_s": "s",
    "cold_total_s": "s",
    "warm_cycle_p50_s": "s",
    "warm_cycle_p90_s": "s",
    "cold_cpu_s": "s",
    "warm_cycle_cpu_s": "s",
    "battery_paths_s": "s",
    "phenotype_subgraph_s": "s",
    "etl_s": "s",
    "peak_rss_mb": "MB",
    "op_failure_ratio": "ratio",
    "reference.duckdb_first_call_s": "s",
}


def summary(record: dict) -> dict:
    """Every end-to-end figure of the run by name with its unit; a
    figure the run could not measure is null, with the reason."""
    values = {**record["info"], **record["metrics"], "op_failure_ratio": record["op_failure_ratio"]}
    out = {}
    for name, unit in SUMMARY_UNITS.items():
        if name in values:
            out[name] = {"value": values[name], "unit": unit}
    if record["workload"] == "phenotype_battery" and "phenotype_subgraph_s" not in values:
        out["phenotype_subgraph_s"] = {"value": None, "unit": "s",
                                       "why": "subgraph step failed: " + ", ".join(
                                           f["kind"] for f in record["failures"]
                                           if f["op"] == "phenotype_subgraph")}
    if out.get("warm_cycle_p90_s", {}).get("value", 0) is None:
        out["warm_cycle_p90_s"]["why"] = (
            f"needs >= 100 warm cycles for ten beyond p90; this run had {record['info']['warm_cycles']}")
    return out


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(record: dict, spec: dict) -> dict:
    wanted = spec["per_layer"] if record["trace"] else spec["end_to_end"]
    values = {**record["layers"], **record["metrics"]} if record["trace"] else record["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"{record['workload']} did not measure {missing}")
    return {
        "correct": not any(f["kind"] == "wrong_result" for f in record["failures"]),
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    listed = {w["name"] for w in spec["workloads"]}
    results = []
    for workload in WORKLOADS if args.workload == "all" else (args.workload,):
        record = run_worker(workload, args.seed, args.seconds, args.trace)
        if "metrics" not in record:
            print(json.dumps({"error": "worker failed", **record}, default=str), file=sys.stderr)
            print(f"perfbench: {workload} worker failed (rc={record['returncode']}, "
                  f"timed_out={record['timed_out']})", file=sys.stderr)
            return 1
        record["tracing_overhead"] = _tracing_overhead(record)
        record["summary"] = summary(record)
        print(json.dumps(record, default=str))
        if workload in listed:
            results.append(result_line(record, spec))
    for line in results:
        print(json.dumps(line))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
