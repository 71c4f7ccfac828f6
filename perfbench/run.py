"""Benchmark of the cortex_spark KG engine, timed from outside.

    python3 perfbench/run.py --workload <batch_web|refresh_serve|all> --seed N \
        --seconds S --trace <0|1>

Run from the root of a checkout. Set-up starts the session, makes the
seeded pages and writes them as parquet, then runs the workload's operation
once as a warm-up (on refresh_serve, the cycle that ingests the base): the
first operation of a fresh JVM is mostly class loading, JIT and code
generation, so it is charged to ``setup_s`` and not checked. The run then
repeats the operation until S seconds have passed (at least once), checks
every timed output, and prints two JSON lines on stdout: a detail record
(host context, set-up parts, samples, digests, failures), then the result
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` and ``update_s``
(median over the timed operations: one build on batch_web; ingest + cycle +
edge append on refresh_serve). The driver JVM's peak RSS and the query
latencies of refresh_serve are in the detail record and, in traced runs,
among the per-layer metrics.
``--trace 1`` turns on the Spark event log, tags every layer call with a
Spark job group, and reports per-layer metrics folded from the log, plus
``trace.update_s``: the traced update latency, to subtract from the
untraced ``update_s`` for the tracing overhead.

Outputs are pinned for seed 42 in pins.json: counts and order-independent
hashes, copied from the ``digests`` of the detail record of a seed-42 run.
For any seed, digests must also match those of earlier runs of the same
seed in the same checkout, traced or not (kept in ``.perfbench_digests/``).

Scratch files (Spark local dirs, temp files, outputs, event logs) go under
``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import harness as H  # noqa: E402

WORKLOADS = ("batch_web", "refresh_serve")
PIN_SEED = 42
PINS = os.path.join(HERE, "pins.json")
METRIC_KEYS = ("wall_s", "jobs", "task_s", "gc_s", "shuffle_write_mb", "spill_mb", "rows_out")


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem(total_kb: int) -> str:
    """Driver heap sized from the host: 40% of MemTotal, 1-8 GiB. The
    engine's own default (32g) kills the JVM on a 15 GB host."""
    gib = total_kb / (1024 * 1024)
    return f"{max(1, min(8, int(gib * 0.4)))}g"


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"VmHWM missing for pid {pid}")


class Session:
    """Owns the SparkSession and the JVM behind it."""

    def __init__(self, work: str, nproc: int, trace_dir: str | None) -> None:
        from cortex_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if trace_dir else "false",
        }
        if trace_dir:
            conf["spark.eventLog.dir"] = "file://" + trace_dir
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark("cortex-perfbench", master=f"local[{nproc}]", extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


# -- workloads ------------------------------------------------------------------


class Run:
    """State of one benchmark run."""

    def __init__(self, args, work: str, nproc: int) -> None:
        self.work = work
        self.nproc = nproc
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.failures: list[str] = []
        self.attempted = 0
        self.lat: dict[str, list[float]] = {"update": [], "hybrid": [], "vector": [], "dsl": []}
        self.digests: dict = {}
        self.ratio: dict[str, float] = {}
        self.counts: dict = {}
        self.pins = load_json(PINS).get(args.workload) if self.seed == PIN_SEED else None
        self.seen_path = os.path.join(os.path.dirname(work), ".perfbench_digests", f"{args.workload}-{self.seed}.json")
        self.seen = load_json(self.seen_path) if os.path.exists(self.seen_path) else {}
        self.trace_dir = os.path.join(work, "eventlog") if self.trace else None
        if self.trace_dir:
            os.makedirs(self.trace_dir, exist_ok=True)
        self.session = Session(work, nproc, self.trace_dir)
        self.tr = H.Tracer(self.session.sc, self.trace)

    @property
    def spark(self):
        return self.session.spark

    def attempt(self, what: str, fn):
        """Run one checked operation; a raised error or failed check counts
        as a failed attempt."""
        self.attempted += 1
        try:
            return fn()
        except H.CheckFailed as e:
            self.failures.append(f"{what}: {e}")
        except Exception as e:  # an engine error is a failed op, not a crash
            self.failures.append(f"{what}: {type(e).__name__}: {str(e)[:300]}")
        return None

    def record(self, key: str, digest: dict) -> None:
        """Keep an output digest and check it against the pins (seed 42)
        and against earlier runs of the same workload and seed in this
        checkout, traced or not."""
        self.digests[key] = digest
        if self.pins is not None:
            H.compare_pins(digest, self.pins.get(key), f"{key}.")
        H.compare_pins(digest, self.seen.get(key), f"{key} (earlier run) ")

    def save_digests(self) -> None:
        os.makedirs(os.path.dirname(self.seen_path), exist_ok=True)
        with open(self.seen_path, "w") as f:
            json.dump({**self.seen, **self.digests}, f, indent=1, sort_keys=True)


class BatchWeb(Run):
    """Repeated full builds of the default corpus, each checked against the
    graph it wrote."""

    def setup(self) -> None:
        path = os.path.join(self.work, "pages")
        with self.tr.in_phase("setup"):
            H.write_pages(path, self.seed, 0, H.BATCH_PAGES, self.nproc)
            self.pages = H.read_pages(self.spark, path)
        self.out = os.path.join(self.work, "batch")
        self.reference = None

    def has_input(self) -> bool:
        return True

    def read_graph(self):
        nodes = self.spark.read.parquet(os.path.join(self.out, "nodes"))
        edges = self.spark.read.parquet(os.path.join(self.out, "edges"))
        return nodes, edges

    def verify_build(self, b: dict) -> dict:
        from pyspark.sql import functions as F

        nodes, edges = self.read_graph()
        c = b["counts"]
        check = H.check
        check(c["nodes"] > 0 and c["edges"] > 0, "empty build")
        check(nodes.count() == c["canonical_nodes"], "canonical node table lost rows on write")
        ids = nodes.select(F.col("node_id").alias("x"))
        dangling = edges.join(ids, edges["src"] == ids["x"], "left_anti").count()
        check(dangling == 0, f"{dangling} canonical edges with unknown src")
        mix = {r["action"]: r["count"] for r in b["actions"].groupBy("action").count().collect()}
        self.counts = dict(c, dedup_mix=mix)
        return {"counts": self.counts, "nodes": H.table_hash(nodes), "edges": H.table_hash(edges)}

    def step(self, verify: bool = True) -> None:
        t0 = time.perf_counter()
        b = H.build(self.tr, self.pages, self.out)
        self.lat["update"].append(time.perf_counter() - t0)
        if not verify:
            return
        with self.tr.in_phase("verify"):
            got = self.verify_build(b)
            if self.reference is None:
                self.reference = got
                self.record("build", got)
            H.check(got == self.reference, f"build differs from the first build: {got} vs {self.reference}")
            if self.trace and not self.ratio:
                self.ratios(b)

    def ratios(self, b: dict) -> None:
        from pyspark.sql import functions as F

        from cortex_spark.linker.pipeline import _attach_attrs
        from cortex_spark.linker.rules import apply_link_rules

        live = b["nodes"].filter(~F.coalesce(F.col("deleted"), F.lit(False)))
        proposals = apply_link_rules(_attach_attrs(b["cands"], live)).count()
        pairs = b["counts"]["candidate_pairs"]
        self.counts = dict(self.counts, proposals=proposals)
        self.ratio = {
            "link.fire_ratio": proposals / pairs,
            "dedup.action_ratio": b["counts"]["dedup_actions"] / pairs,
        }


class RefreshServe(Run):
    """Fresh pages → incremental cycle over a persisted LSH index → edge
    append → queries. The base pages are the first fresh batch: the warm-up
    cycle ingests them into an empty graph and starts the index with them."""

    def setup(self) -> None:
        from cortex_spark.linker.index import LshIndexStore
        from cortex_spark.schemas import EDGES

        self.out = os.path.join(self.work, "refresh")
        self.nodes_dir = os.path.join(self.out, "nodes")
        self.edges_dir = os.path.join(self.out, "edges")
        self.meta = os.path.join(self.out, "cycle_meta.json")
        self.fresh_dir = os.path.join(self.work, "fresh_pages")
        self.texts = H.query_texts(self.seed)
        self.k = 0
        self.probe_pairs = self.probe_queries = 0
        bounds = [0, *(H.BASE_PAGES + k * H.FRESH_PAGES for k in range(H.FRESH_BATCHES + 1))]
        with self.tr.in_phase("setup"):
            for k, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
                H.write_pages(os.path.join(self.fresh_dir, str(k)), self.seed, lo, hi, self.nproc, fresh=True)
            self.spark.createDataFrame([], EDGES).write.parquet(self.edges_dir)
        self.store = LshIndexStore(os.path.join(self.out, "index"), self.spark, dim=H.DIM)
        self.anchor = None

    def has_input(self) -> bool:
        return self.k <= H.FRESH_BATCHES

    def graph(self):
        nodes = self.spark.read.parquet(self.nodes_dir)
        edges = self.spark.read.parquet(self.edges_dir)
        return nodes, edges

    def cycle(self) -> dict:
        """Ingest the next fresh batch, run one cycle, append its edges."""
        from cortex_spark.extract.fused import pages_to_nodes_fused
        from cortex_spark.pipeline.incremental import run_cycle
        from cortex_spark.schemas import EDGES

        tr = self.tr
        pages = H.read_pages(self.spark, os.path.join(self.fresh_dir, str(self.k)))
        self.k += 1
        with tr.layer("ingest"):
            fresh = pages_to_nodes_fused(pages, embed_dim=H.DIM).localCheckpoint()
            n_fresh = fresh.count()
            fresh.write.mode("append").parquet(self.nodes_dir)
        nodes, edges = self.graph()
        with tr.layer("cycle"):
            new_edges, m = run_cycle(nodes, edges, self.meta, now=H.NOW, index_store=self.store)
        with tr.layer("edges_append"):
            new_edges.select(*EDGES.fieldNames()).write.mode("append").parquet(self.edges_dir)
        tr.add_rows("ingest", n_fresh)
        tr.add_rows("cycle", m["edges_created"])
        tr.add_rows("edges_append", m["edges_created"])
        return {"fresh": fresh, "n_fresh": n_fresh, "new_edges": new_edges, "metrics": m}

    def verify_cycle(self, cyc: dict) -> dict:
        from pyspark.sql import functions as F

        from cortex_spark.pipeline.incremental import MAX_NODES_PER_CYCLE

        m, ne = cyc["metrics"], cyc["new_edges"]
        check = H.check
        check(cyc["n_fresh"] > 0, "fresh batch produced no nodes")
        check(m["nodes_processed"] == min(cyc["n_fresh"], MAX_NODES_PER_CYCLE),
              f"cycle processed {m['nodes_processed']} of {cyc['n_fresh']} fresh nodes")
        check(m["edges_created"] > 0 and ne.count() == m["edges_created"], "cycle edge count mismatch")
        fresh_ids = cyc["fresh"].select(F.col("node_id").alias("f"))
        stray = ne.join(fresh_ids, (ne["src"] == fresh_ids["f"]) | (ne["dst"] == fresh_ids["f"]), "left_anti").count()
        check(stray == 0, f"{stray} new edges touch no fresh node")
        self.counts.setdefault("cycles", []).append(
            {"nodes_processed": m["nodes_processed"], "edges_created": m["edges_created"]}
        )
        return {
            "nodes_processed": m["nodes_processed"],
            "edges_created": m["edges_created"],
            "fresh_nodes": H.table_hash(cyc["fresh"]),
            "new_edges": H.table_hash(ne),
        }

    def step(self, verify: bool = True) -> None:
        tr = self.tr
        t0 = time.perf_counter()
        cyc = self.cycle()
        self.lat["update"].append(time.perf_counter() - t0)
        if self.trace and tr.phase is None:
            # diagnostic only: a read-only probe of the batch just indexed
            with tr.layer("index.probe"):
                n_pairs = self.store.probe(cyc["fresh"], k=100).count()
            tr.add_rows("index.probe", n_pairs)
            self.probe_pairs += n_pairs
            self.probe_queries += cyc["n_fresh"]
        nodes, edges = self.graph()
        if self.anchor is None:
            with tr.in_phase("verify"):
                self.anchor = cyc["new_edges"].agg({"src": "min"}).first()[0]
        lat, res = H.serve(tr, nodes, edges, self.texts, self.anchor, index=self.store)
        for k, v in lat.items():
            self.lat[k].extend(v)
        if not verify:
            return
        with tr.in_phase("verify"):
            self.record(f"cycle{self.k - 1}", self.verify_cycle(cyc))
            live = {r[0] for r in nodes.filter("not coalesce(deleted, false)").select("node_id").collect()}
            self.record(f"queries{self.k - 1}", H.check_queries(res, self.texts, live))
        if self.trace and tr.phase is None:
            self.ratio = {
                "cycle.edges_per_node": tr.rows["cycle"] / tr.rows["ingest"],
                "index.probe.pairs_per_query": self.probe_pairs / self.probe_queries,
            }


# -- reporting --------------------------------------------------------------------


def summary(xs: list[float]) -> dict:
    """Median, sample count, and the highest percentile with at least ten
    samples beyond it (none below 20 samples)."""
    out = {"n": len(xs), "median": H.median(xs)}
    s = sorted(xs)
    for p in (99, 95, 90):
        beyond = len(s) - int(len(s) * p / 100)
        if beyond >= 10 and len(s) >= 20:
            out[f"p{p}"] = s[int(len(s) * p / 100)]
            break
    return out


def layer_metrics(run: Run, folded: dict) -> dict:
    all_layers = [*H.LAYERS["batch_web"], *H.LAYERS["refresh_serve"], *H.QUERY_LAYERS]
    out: dict[str, float] = {}
    for layer in all_layers:
        f = folded.get(layer, dict.fromkeys(eventlog.KEYS, 0.0))
        vals = {
            "wall_s": run.tr.wall.get(layer, 0.0),
            "jobs": f["jobs"],
            "task_s": f["task_s"],
            "gc_s": f["gc_s"],
            "shuffle_write_mb": f["shuffle_write_mb"],
            "spill_mb": f["spill_mb"],
            "rows_out": run.tr.rows.get(layer, 0),
        }
        for k in METRIC_KEYS:
            out[f"{layer}.{k}"] = vals[k]
    for ph in ("setup", "verify"):
        out[f"{ph}.task_s"] = folded.get(ph, {}).get("task_s", 0.0)
    out["unattributed.task_s"] = folded.get(None, {}).get("task_s", 0.0)
    out["total.task_s"] = eventlog.total(folded)
    out["driver.peak_rss_mb"] = run.peak_rss_mb
    for k in ("link.fire_ratio", "dedup.action_ratio", "cycle.edges_per_node", "index.probe.pairs_per_query"):
        out[k] = run.ratio.get(k, 0.0)
    return out


UNITS = {"wall_s": "s", "task_s": "s", "gc_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "peak_rss_mb": "MB", "jobs": "count", "rows_out": "count"}


def unit_of(name: str) -> str:
    if name.endswith("_ratio") or name.endswith("per_node") or name.endswith("per_query"):
        return "ratio"
    return UNITS.get(name.rsplit(".", 1)[-1], "s")


def run_all(args) -> int:
    """Run every workload in turn, each in its own process, and print each
    result line with its metrics prefixed by the workload name."""
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"perfbench: {w} exited with {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        print(lines[-2] if len(lines) > 1 else "")
        r = json.loads(lines[-1])
        merged["correct"] &= r["correct"]
        merged["attempted"] += r["attempted"]
        merged["failed"] += r["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(merged))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=PIN_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cortex_spark", "session.py")) or not os.path.isfile(
        os.path.join(root, "bench.py")
    ):
        print("perfbench: run from the root of a cortex_spark checkout", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    sys.path.insert(0, root)

    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    total_kb = mem_total_kb()
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEM": driver_mem(total_kb),
        "PYSPARK_PYTHON": sys.executable,
        # the launcher JVM that spark-submit starts first: keep its temp and
        # perf-data files out of /tmp too (the driver JVM gets the same flags)
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "OPENBLAS_NUM_THREADS": "1", "OMP_NUM_THREADS": "1", "MKL_NUM_THREADS": "1",
    })
    from bench import host_probe

    host = {"nproc": nproc, "mem_total_mb": round(total_kb / 1024), "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "gemm_per_s_before": host_probe(nproc, 0.5)}

    t_start = time.perf_counter()
    run = (BatchWeb if args.workload == "batch_web" else RefreshServe)(args, work, nproc)
    t_session = time.perf_counter() - t_start
    tr = run.tr
    run.setup()
    t_inputs = tr.phase_wall["setup"]

    # The first operation warms the JVM, the Python workers and every code
    # path; it is checked like the others but charged to set-up.
    with tr.in_phase("setup"):
        run.attempt("warmup", lambda: run.step(verify=False))
    run.lat = {k: [] for k in run.lat}
    t_loop = time.perf_counter()
    n = 0
    while run.has_input():
        run.attempt(f"step{n}", run.step)
        n += 1
        if time.perf_counter() - t_loop >= args.seconds:
            break
    run.attempted += sum(len(run.lat[k]) for k in ("hybrid", "vector", "dsl"))
    run.peak_rss_mb = vm_hwm_mb(run.session.jvm_pid)
    setup_s = t_session + tr.phase_wall["setup"]
    setup_parts = {"session_s": t_session, "inputs_s": t_inputs, "warmup_s": tr.phase_wall["setup"] - t_inputs}

    extra: dict = {}
    if run.trace:
        run.session.stop()  # flushes the event log
        folded = eventlog.fold(run.trace_dir)
        metrics = layer_metrics(run, folded)
        metrics["trace.update_s"] = H.median(run.lat["update"])
        layer_sum = sum(f["task_s"] for g, f in folded.items() if g is not None)
        extra["fold_check"] = {"grouped_task_s": layer_sum, "total_task_s": metrics["total.task_s"]}
        extra["folded"] = {str(g): v for g, v in folded.items()}
        if metrics["total.task_s"] > 0 and layer_sum < 0.95 * metrics["total.task_s"]:
            run.failures.append(
                f"fold: grouped task time {layer_sum:.1f} s is under 95% of {metrics['total.task_s']:.1f} s"
            )
        out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()}
    else:
        e2e = {
            "setup_s": (setup_s, "s"),
            "update_s": (H.median(run.lat["update"]), "s"),
        }
        out_metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items() if v is not None}
        if len(out_metrics) != len(e2e):
            run.failures.append("no successful operation to time")
    run.session.stop()
    shutdown_jvm()
    host["gemm_per_s_after"] = host_probe(nproc, 0.5)

    if not run.failures:
        run.save_digests()
    failed = len(run.failures)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host,
        "samples": {k: summary(v) for k, v in run.lat.items() if v}, "update_s": run.lat["update"],
        "counts": run.counts, "digests": run.digests, "failures": run.failures,
        "pinned": run.pins is not None, "phase_wall_s": dict(tr.phase_wall), "setup_parts": setup_parts,
        "driver_peak_rss_mb": run.peak_rss_mb,
        "run_wall_s": time.perf_counter() - t_start, **extra,
    }
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(run.attempted, 1),
        "failed": failed,
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
