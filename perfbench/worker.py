"""One benchmark run in a fresh process: start a session, set up the
workload's inputs, time its operations from outside the package, check
every result against its oracle, and write ``result.json`` (plus
``spans.jsonl`` when traced) into the run directory.

Started by run.py, which samples this process tree's memory from
outside; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import oracles  # noqa: E402
import tracing  # noqa: E402

HEADLINERS = (
    "q_khop_paths",
    "q_dedup_minhash_lsh",
    "q_cosine_topk",
    "q_local_supplier_volume",
    "q_pricing_summary",
    "q_shipping_priority",
)
LAKE_SF = 0.01  # 60k lineitem rows, 500 documents, 2000 embeddings
SETUP_REPEATS = 3  # input generations per run; setup_s takes their median
ETL_QUERY = ("CS", ["BMC", "GS"])


class Run:
    """Operation bookkeeping: every timed call is one attempted
    operation; a raise or a result that differs from its oracle is a
    failed one, kept with its error class."""

    def __init__(self, tracer: tracing.Tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[dict] = []
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.info: dict = {}
        self.span_sets: dict = {}  # span ids per_layer() folds into layer metrics

    def fail(self, op: str, kind: str, detail: str) -> None:
        self.failures.append({"op": op, "kind": kind, "detail": detail[:500]})

    def check(self, op: str, got, want) -> None:
        if got != want:
            self.fail(op, "wrong_result", f"got {got}, expected {want}")

    def call(self, op: str, fn):
        """Run one operation; returns (result or None, seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # the operation's failure is the measurement
            self.fail(op, tracing.error_class(exc), f"{type(exc).__name__}: {exc}")
            return None, time.perf_counter() - t0
        return out, time.perf_counter() - t0


def tree_cpu() -> float:
    """CPU seconds (user + system, reaped children included) of every
    process in this worker's process group: the Python driver, the JVM
    and the Python workers. Unlike wall time it does not count the
    time the machine spends running other tenants."""
    pgid = os.getpgid(0)
    ticks = 0
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited between listdir and open
        if int(fields[2]) == pgid:
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def start_session(args):
    from cell_kn_mvp_etl_results_spark.session import get_spark

    run_dir = args.run_dir
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        # JVM temp files inside the run dir; no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("cell-kn-spark-perfbench", master=f"local[{args.cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_setup(make, repeats: int = SETUP_REPEATS) -> tuple[float, object]:
    """Run ``make(i)`` ``repeats`` times; (median seconds, last result)."""
    times, out = [], None
    for i in range(repeats):
        t0 = time.perf_counter()
        out = make(i)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


# ---------------------------------------------------------------------------
# headliners
# ---------------------------------------------------------------------------


def headliners(spark, args, run: Run) -> None:
    from cell_kn_mvp_etl_results_spark import plans

    gen_s, info = timed_setup(
        lambda i: datagen.write_star_schema(
            os.path.join(args.run_dir, f"lake{i}"), args.seed, LAKE_SF
        )
    )
    lake = os.path.join(args.run_dir, f"lake{SETUP_REPEATS - 1}")  # the last one made
    run.metrics["setup_s"] = run.metrics["session.start_s"] + gen_s
    run.info["inputs"] = info
    builders, sql = plans.all_queries(), plans.all_oracle_sql()
    expected, duck_s = oracles.headliner_digests(lake, {q: sql[q] for q in HEADLINERS})
    run.info["reference.duckdb_first_call_s"] = duck_s
    tr = run.tracer

    def one(q: str):
        """Builder call then collect, each its own span; (rows, cols)."""
        with tr.span(f"plans.{q}.builder", jobs=True) as b:
            df = builders[q](spark, lake)
        with tr.span(f"exec.{q}.collect", jobs=True) as c:
            rows = df.collect()
        return rows, df.columns, b, c

    cold_total = 0.0
    per_query: dict[str, dict] = {}
    cpu0 = tree_cpu()
    with tr.span("headliners.cold") as cold_root:
        for q in HEADLINERS:
            out, secs = run.call(q, lambda q=q: one(q))
            cold_total += secs
            if out is not None:
                rows, cols, b, c = out
                run.check(q, oracles.digest(rows, cols), expected[q])
                per_query[q] = {"first_call_s": secs, "builder": b, "collect": c}
    run.metrics["cold_total_s"] = cold_total
    run.metrics["cold_cpu_s"] = tree_cpu() - cpu0
    rng = random.Random(args.seed)
    cycles: list[float] = []
    cycles_cpu: list[float] = []
    warm: dict[str, list] = {q: [] for q in HEADLINERS}

    def cycle(measured: bool) -> None:
        order = list(HEADLINERS)
        rng.shuffle(order)
        results = []
        with tr.span(f"headliners.warm.{len(cycles) if measured else 'up'}"):
            cpu0, t0 = tree_cpu(), time.perf_counter()
            for q in order:
                results.append((q, run.call(q, lambda q=q: one(q))))
            wall, cpu = time.perf_counter() - t0, tree_cpu() - cpu0
        if measured:
            cycles.append(wall)
            cycles_cpu.append(cpu)
        for q, (out, _secs) in results:
            if out is not None:
                rows, cols, b, c = out
                run.check(q, oracles.digest(rows, cols), expected[q])
                if measured:
                    warm[q].append((b, c))

    # One unmeasured cycle first: the first repeat still compiles code
    # the first-call pass did not reach, so counting it would make the
    # median depend on how many cycles fit in --seconds.
    cycle(measured=False)
    caches = [tracing.cache_state(spark)]
    t_loop = time.perf_counter()
    while len(cycles) < 3 or time.perf_counter() - t_loop < args.seconds:
        cycle(measured=True)
        caches.append(tracing.cache_state(spark))
    run.metrics["warm_cycle_p50_s"] = statistics.median(cycles)
    run.metrics["warm_cycle_cpu_s"] = statistics.median(cycles_cpu)
    run.info["warm_cycles"] = len(cycles)
    # p90 needs ten samples beyond it (>= 100 cycles); a run has far fewer
    run.info["warm_cycle_p90_s"] = (
        statistics.quantiles(cycles, n=10)[-1] if len(cycles) >= 100 else None
    )
    run.info["warm_cycles_s"] = cycles
    run.layers["cache.pinned_bytes"] = caches[-1]["pinned_bytes"]
    run.layers["cache.temp_views"] = caches[-1]["temp_views"]
    for k in ("pinned_bytes", "temp_views"):
        run.layers[f"cache.{k}_growth_per_cycle"] = (caches[-1][k] - caches[0][k]) / len(cycles)
    run.info["per_query"] = {
        q: {
            "first_call_s": v["first_call_s"],
            "builder_s": v["builder"]["end"] - v["builder"]["start"],
            "collect_s": v["collect"]["end"] - v["collect"]["start"],
        }
        for q, v in per_query.items()
    }
    run.span_sets = {
        "cold_root": cold_root["id"],
        "cold": {q: (v["builder"]["id"], v["collect"]["id"]) for q, v in per_query.items()},
        "warm": {q: [(b["id"], c["id"]) for b, c in v] for q, v in warm.items()},
    }


# ---------------------------------------------------------------------------
# phenotype_battery
# ---------------------------------------------------------------------------


def phenotype_battery(spark, args, run: Run) -> None:
    from cell_kn_mvp_etl_results_spark.operators.graph import graph_from_tuples
    from cell_kn_mvp_etl_results_spark.plans.battery import reference_battery, run_battery
    from cell_kn_mvp_etl_results_spark.sources.sinks import (
        extract_subgraph,
        read_graph,
        write_graph,
    )

    tr = run.tracer

    def make(i: int):
        tuples, info = datagen.battery_graph_tuples(args.seed)
        df = spark.createDataFrame(tuples, "s string, p string, o string, lit string")
        path = os.path.join(args.run_dir, f"graph{i}")
        with tr.span("sources.write_graph", jobs=True):
            write_graph(graph_from_tuples(df), path)
        return tuples, info, path

    # one graph write: three would add ~30 s to a run that already takes ~2 min
    setup_s, (tuples, info, graph_path) = timed_setup(make, repeats=1)
    run.metrics["setup_s"] = run.metrics["session.start_s"] + setup_s
    run.info["inputs"] = info
    specs = reference_battery()
    edges = [(s, o, p) for s, p, o, _lit in tuples if p != "label"]
    expected = oracles.battery_expected(edges, specs)
    hier = {s.name for s in specs if s.hierarchy is not None}

    t0 = time.perf_counter()
    with tr.span("plans.battery", jobs=False) as battery_root:
        with tr.span("sources.read_graph", jobs=True):
            g = read_graph(spark, graph_path)
        with tr.span("plans.battery.build", jobs=True) as build:
            res = run_battery(g["vertices"], g["edges"], specs)
        collect_spans = {}
        with tr.span("plans.battery.collect"):
            for spec in specs:
                with tr.span(f"plans.battery.collect.{spec.name}", jobs=True) as sp:
                    out, _ = run.call(spec.name, lambda n=spec.name: res[n].collect())
                collect_spans[spec.name] = sp
                if out is not None:
                    cols = res[spec.name].columns
                    run.check(spec.name, oracles.digest(out, cols), expected[spec.name])
    run.metrics["battery_paths_s"] = time.perf_counter() - t0
    run.info["build_s"] = build["end"] - build["start"]

    def subgraph():
        with tr.span("plans.battery.touched_edges", jobs=True) as te:
            edges_touched = res["_touched_edges"]
            edges_touched.collect()
        with tr.span("sources.extract_subgraph", jobs=True) as ex:
            sub = extract_subgraph(g["edges"], edges_touched, g["vertex_attrs"])
            n_v, n_e = len(sub["vertices"].collect()), len(sub["edges"].collect())
        return (n_v, n_e), te, ex

    out, secs = run.call("phenotype_subgraph", subgraph)
    if out is not None:
        counts, te, ex = out
        run.check("phenotype_subgraph", counts, expected["_subgraph"])
        run.metrics["phenotype_subgraph_s"] = secs
        run.info["touched_edges_s"] = te["end"] - te["start"]
        run.info["extract_subgraph_s"] = ex["end"] - ex["start"]
    run.span_sets = {
        "cold_root": battery_root["id"],
        "build": build["id"],
        "collect": {n: s["id"] for n, s in collect_spans.items()},
        "hier": sorted(hier),
    }


# ---------------------------------------------------------------------------
# etl_load
# ---------------------------------------------------------------------------


def _written(path: str) -> tuple[int, int]:
    """(data files, bytes) under a written table directory."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _json_lines(path: str) -> int:
    n = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".json"):
                with open(os.path.join(root, f)) as fh:
                    n += sum(1 for line in fh if line.strip())
    return n


def _rows(df) -> tuple[list, list]:
    return df.collect(), df.columns


def _table_rows(path: str) -> int:
    """Rows of a written parquet table, read from the file footers."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def etl_load(spark, args, run: Run) -> None:
    from cell_kn_mvp_etl_results_spark.pipelines import (
        run_graph_load,
        run_nsforest_pipeline,
        run_ontology_load,
        run_query,
    )

    def make(i: int):
        d = os.path.join(args.run_dir, f"inputs{i}")
        ns = datagen.write_nsforest_csv(os.path.join(d, "nsforest.csv"), args.seed)
        onto = datagen.write_ontology_nt(os.path.join(d, "ontology.nt"), args.seed)
        return d, ns, onto

    gen_s, (in_dir, ns, onto) = timed_setup(make)
    run.metrics["setup_s"] = run.metrics["session.start_s"] + gen_s
    csv_path = os.path.join(in_dir, "nsforest.csv")
    nt_path = os.path.join(in_dir, "ontology.nt")
    want_ns = datagen.nsforest_expected(ns["kept"], "file://" + csv_path)
    edges = []
    for cs, bmc, gs in want_ns["paths"]:
        edges += [(cs, bmc, "HAS_CHARACTERIZING_MARKER_SET"), (gs, bmc, "PART_OF")]
    want_query = oracles.etl_query_digest(edges, *ETL_QUERY)
    run.info["inputs"] = {
        "csv_rows": len(ns["rows"]),
        "csv_bytes": ns["bytes"],
        "ontology_triples": onto["triples"],
        "ontology_bytes": onto["bytes"],
        "expected_graph": {k: want_ns[k] for k in ("vertices", "edges")},
        "expected_ontology": {k: onto[k] for k in ("vertices", "edges", "edge_attrs")},
    }
    tr = run.tracer
    out = {k: os.path.join(args.run_dir, "etl", k) for k in ("tuples", "onto", "graph")}
    stages, query = {}, None
    with tr.span("pipelines.lifecycle") as life:
        cpu0, t0 = tree_cpu(), time.perf_counter()
        for name, fn in (
            ("nsforest", lambda: run_nsforest_pipeline(spark, csv_path, out["tuples"])),
            ("ontology_load", lambda: run_ontology_load(
                spark, nt_path, out["onto"], valid_colls=onto["valid_colls"])),
            ("graph_load", lambda: run_graph_load(spark, out["tuples"], out["graph"])),
            ("query", lambda: _rows(run_query(spark, out["graph"], *ETL_QUERY))),
        ):
            with tr.span(f"pipelines.{name}", jobs=True) as sp:
                res, _ = run.call(name, fn)
            stages[name] = sp
            if name == "query":
                query = res
        run.metrics["cold_total_s"] = time.perf_counter() - t0
        run.metrics["cold_cpu_s"] = tree_cpu() - cpu0
    run.info["etl_s"] = run.metrics["cold_total_s"]
    # checks, outside the timed lifecycle
    if query is not None:
        run.check("query", oracles.digest(*query), want_query)
    for op, path, want in (
        ("graph_load", out["graph"], want_ns),
        ("ontology_load", out["onto"], onto),
    ):
        if os.path.isdir(os.path.join(path, "edges")):
            got = {k: _table_rows(os.path.join(path, k)) for k in ("vertices", "edges")}
            if op == "ontology_load":
                got["edge_attrs"] = _table_rows(os.path.join(path, "edge_attrs"))
            run.check(op, got, {k: want[k] for k in got})
    written = [_written(p) for p in out.values()]
    run.layers["sources.files_written"] = sum(w[0] for w in written)
    run.layers["sources.bytes_written"] = sum(w[1] for w in written)
    run.layers["sources.tuples_written"] = _json_lines(out["tuples"])
    # warm cycles: the loaded graph serving the same query again
    cycles, cycles_cpu = [], []
    t_loop = time.perf_counter()
    while len(cycles) < 3 or time.perf_counter() - t_loop < args.seconds:
        with tr.span(f"pipelines.query.warm.{len(cycles)}"):
            cpu0, t0 = tree_cpu(), time.perf_counter()
            res, _ = run.call("query", lambda: _rows(run_query(spark, out["graph"], *ETL_QUERY)))
            cycles.append(time.perf_counter() - t0)
            cycles_cpu.append(tree_cpu() - cpu0)
        if res is not None:
            run.check("query", oracles.digest(*res), want_query)
    run.metrics["warm_cycle_p50_s"] = statistics.median(cycles)
    run.metrics["warm_cycle_cpu_s"] = statistics.median(cycles_cpu)
    run.info["warm_cycles"] = len(cycles)
    run.info["warm_cycles_s"] = cycles
    run.span_sets = {
        "cold_root": life["id"],
        "stages": {k: v["id"] for k, v in stages.items()},
    }


WORKLOADS = {
    "headliners": headliners,
    "phenotype_battery": phenotype_battery,
    "etl_load": etl_load,
}


# ---------------------------------------------------------------------------
# per-layer metrics from the traced run
# ---------------------------------------------------------------------------


def _group(stats: dict, span: dict) -> dict:
    return stats.get(span["group"], tracing.empty_counts())


def per_layer(run: Run, workload: str, stats: dict, intervals: list) -> None:
    spans = run.tracer.spans
    L = run.layers
    sets = run.span_sets
    # exec.* totals cover the cold pass only, so counts repeat exactly
    # whatever number of warm cycles fits in a run
    root = sets["cold_root"]
    inside = {root}
    for s in spans:
        if s["parent"] in inside:
            inside.add(s["id"])
    cold = [s for s in spans if s["id"] in inside and s["group"]]
    total = tracing.empty_counts()
    for s in cold:
        for k, v in _group(stats, s).items():
            total[k] += v
    for k, v in total.items():
        L[f"exec.{k}"] = v
    # driver-side time: cold-pass wall time during which no Spark job ran
    L["exec.driver_s"] = sum(
        (s["end"] - s["start"]) - tracing.covered(intervals, s["start"], s["end"]) for s in cold
    )
    if workload == "headliners":
        for q, (b_id, c_id) in sets["cold"].items():
            b, c = spans[b_id], spans[c_id]
            L[f"plans.{q}.builder_s"] = b["end"] - b["start"]
            L[f"plans.{q}.builder_jobs"] = _group(stats, b)["jobs"]
            L[f"exec.{q}.collect_s"] = c["end"] - c["start"]
            for k, v in _group(stats, c).items():
                L[f"exec.{q}.{k}"] = v
        for q, pairs in sets["warm"].items():
            if pairs:
                L[f"plans.{q}.warm_builder_s"] = statistics.median(
                    spans[b]["end"] - spans[b]["start"] for b, _ in pairs
                )
                L[f"plans.{q}.warm_builder_jobs"] = max(_group(stats, spans[b])["jobs"] for b, _ in pairs)
                L[f"exec.{q}.warm_collect_s"] = statistics.median(
                    spans[c]["end"] - spans[c]["start"] for _, c in pairs
                )
    elif workload == "phenotype_battery":
        build = spans[sets["build"]]
        L["plans.battery.build_s"] = build["end"] - build["start"]
        L["plans.battery.build_jobs"] = _group(stats, build)["jobs"]
        collect = {n: _group(stats, spans[i]) for n, i in sets["collect"].items()}
        hier = set(sets["hier"])
        L["plans.battery.hier_jobs"] = L["plans.battery.build_jobs"] + sum(
            v["jobs"] for n, v in collect.items() if n in hier
        )
        L["plans.battery.path_jobs"] = sum(v["jobs"] for n, v in collect.items() if n not in hier)
        L["plans.battery.collect_s"] = sum(
            spans[i]["end"] - spans[i]["start"] for i in sets["collect"].values()
        )
        L["plans.battery.task_queue_s"] = _group(stats, build)["task_queue_s"] + sum(
            v["task_queue_s"] for v in collect.values()
        )
        # measured only when the subgraph step succeeds
        for key, name in (
            ("touched_edges_s", "plans.battery.touched_edges_s"),
            ("extract_subgraph_s", "sources.extract_subgraph_s"),
        ):
            if key in run.info:
                L[name] = run.info[key]
    elif workload == "etl_load":
        for name, i in sets["stages"].items():
            s = spans[i]
            L[f"pipelines.{name}_s"] = s["end"] - s["start"]
            L[f"pipelines.{name}_jobs"] = _group(stats, s)["jobs"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    args = ap.parse_args()

    spark = start_session(args)
    session_s = time.time() - args.spawned_at
    run_id = os.path.basename(args.run_dir)
    run = Run(tracing.Tracer(spark, run_id, bool(args.trace)))
    run.metrics["session.start_s"] = session_s
    import duckdb
    import pyspark

    env = {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "conf": dict(sorted(spark.sparkContext.getConf().getAll())),
    }
    try:
        WORKLOADS[args.workload](spark, args, run)
    finally:
        spark.stop()
    if args.trace:
        stats, intervals = tracing.fold_event_log(os.path.join(args.run_dir, "eventlog"))
        per_layer(run, args.workload, stats, intervals)
        run.tracer.write(os.path.join(args.run_dir, "spans.jsonl"))
    run.layers["session.start_s"] = session_s
    with open(os.path.join(args.run_dir, "result.json"), "w") as f:
        json.dump(
            {
                "attempted": run.attempted,
                "failures": run.failures,
                "metrics": run.metrics,
                "layers": run.layers,
                "info": run.info,
                "env": env,
            },
            f,
            default=str,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
