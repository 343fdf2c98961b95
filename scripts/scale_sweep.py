"""Cross-scale Spark-vs-DuckDB sweep with per-leg load capture and a
configurable leg ORDER (VERDICT r9 #7): the r9 sweep ran 10x -> 30x ->
100x back-to-back, so the 100x legs landed on a heat-soaked box and
both engines read ~45% inflated. This driver (a) records loadavg and
the CPU thermal reading before every leg, (b) defaults to the REVERSE
order (100x first, on the coolest box) so round-over-round comparisons
alternate the bias, and (c) sleeps between legs so the previous JVM's
load drains.

Each leg is the standard pair protocol: bench.py (its rebuild regime,
SPARK_GRAFT_SERVING=tables) then scripts/oracle_bench.py, same sf_dir.

Usage: python scripts/scale_sweep.py [order: e.g. 100,30,10] [gap_s]
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = {
    "10": f"{REPO}/scale_data/sf1",
    "30": f"{REPO}/scale_data30/sf1",
    "100": f"{REPO}/scale_data100/sf1",
}


def box_state() -> str:
    load = open("/proc/loadavg").read().split()[0]
    temps = []
    for z in glob.glob("/sys/class/thermal/thermal_zone*/temp"):
        try:
            temps.append(int(open(z).read().strip()) // 1000)
        except (OSError, ValueError):
            pass
    t = f" temp={max(temps)}C" if temps else ""
    return f"load={load}{t}"


def run_json(cmd: list[str], env: dict) -> dict:
    out = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, check=True, env=env
    ).stdout
    line = [l for l in out.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    order = (sys.argv[1] if len(sys.argv) > 1 else "100,30,10").split(",")
    gap = float(sys.argv[2]) if len(sys.argv) > 2 else 30.0
    print(f"# leg order: {order} (r9 ran 10,30,100; alternate per round)")
    rows = []
    for scale in order:
        sf_dir = SCALES[scale]
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
        pre = box_state()
        s = run_json([sys.executable, "bench.py"], env)
        mid = box_state()
        time.sleep(gap)
        d = run_json([sys.executable, "scripts/oracle_bench.py"], env)
        post = box_state()
        ratio = s["value_rebuild"] / d["value"]
        rows.append((scale, s["value_rebuild"], s["value_cold"], d["value"], ratio))
        print(
            f"{scale}x: spark_rebuild={s['value_rebuild']:.3f} "
            f"cold={s['value_cold']:.3f} duckdb={d['value']:.3f} "
            f"ratio={ratio:.2f}x | pre[{pre}] mid[{mid}] post[{post}]",
            flush=True,
        )
        time.sleep(gap)
    print("\n| scale | Spark rebuild | Spark cold | DuckDB | ratio |")
    print("|---|---|---|---|---|")
    for scale, reb, cold, dk, ratio in rows:
        print(f"| {scale}x | {reb:.3f} | {cold:.3f} | {dk:.3f} | {ratio:.2f}x |")


if __name__ == "__main__":
    main()
