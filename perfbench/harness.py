"""Workloads of the benchmark: seeded inputs, the timed operations, and the
checks on their outputs.

Both workloads run in one process on one `local[<nproc>]` SparkSession and
call the engine's public functions from outside:

- ``batch_web``: a full build of the default synthetic corpus, pages →
  extract → candidates → link → dedup → canonicalize → parquet.
- ``refresh_serve``: each step ingests a batch of fresh pages, runs one
  incremental cycle over the persisted LSH index, appends the new edges,
  then serves the query mix. The first batch is the base graph's pages.

The pages are made by the benchmark from the seed and written as parquet
during set-up; the engine is handed only those files.

Every Spark call of a layer runs inside ``Tracer.layer(name)``. With tracing
on, that sets the Spark job group to the layer name, so the event log can be
folded per layer (eventlog.py); with tracing off it only times the call.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import statistics
import time
from collections import defaultdict
from datetime import datetime, timedelta, timezone

DIM = 64  # embedding width of every workload (the sizing runs in bench.py use 64 too)
NOW = datetime(2026, 6, 2, tzinfo=timezone.utc)
# fresh pages are stamped after the cursor of the first cycle (NOW - 24 h)
FRESH_T0 = datetime(2026, 6, 1)

# Sizes keep one run near a minute on a 4-core, 15 GB host. Every run is a
# fresh JVM: session start (~8 s) and the warm-up operation (~30 s) cost
# more than a timed operation (~10 s), and at these sizes a warm build or
# cycle is dominated by per-job costs, not by rows.
BATCH_PAGES = 400
BASE_PAGES = 100  # ≈210 nodes: the first cycle takes them all (cap 500)
FRESH_PAGES = 20  # ≈40 fresh nodes per cycle, under the cycle's 500-node cap
# fresh batches written in set-up: the warm-up cycle plus at most this many
# timed ones, far more than a run of BENCHMARK.json's run_seconds uses
FRESH_BATCHES = 40
QUERY_K = 10
HYBRID_DEPTH = 1

LAYERS = {
    "batch_web": ("extract", "candidates", "link", "dedup", "canon", "write"),
    "refresh_serve": ("ingest", "cycle", "edges_append", "index.probe"),
}
QUERY_LAYERS = ("query.hybrid", "query.vector", "query.dsl")


class CheckFailed(Exception):
    """An output did not match its pin or broke an invariant."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


class Tracer:
    """Times each layer call; with `enabled`, also tags its Spark jobs.

    While `phase` is set ("setup", "verify"), every call is charged to that
    phase instead: its jobs carry the phase as their group and its time and
    rows are not added to any layer."""

    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.wall: dict[str, float] = defaultdict(float)
        self.rows: dict[str, int] = defaultdict(int)
        self.phase_wall: dict[str, float] = defaultdict(float)
        self.phase: str | None = None
        self.group: str | None = None

    @contextlib.contextmanager
    def layer(self, name: str):
        prev = self.group
        self._set(self.phase or name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self.phase is None:
                self.wall[name] += time.perf_counter() - t0
            self._set(prev)

    @contextlib.contextmanager
    def in_phase(self, phase: str):
        prev = self.phase
        self.phase = phase
        t0 = time.perf_counter()
        try:
            with self.layer(phase):
                yield
        finally:
            self.phase_wall[phase] += time.perf_counter() - t0
            self.phase = prev

    def add_rows(self, layer: str, n: int) -> None:
        if self.phase is None:
            self.rows[layer] += n

    def _set(self, group: str | None) -> None:
        self.group = group
        if self.enabled:
            if group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(group, group)


# -- inputs -----------------------------------------------------------------


def write_pages(path: str, seed: int, lo: int, hi: int, n_files: int, fresh: bool = False) -> None:
    """Pages lo..hi of the seed's default corpus (cortex_spark.corpus), made
    here in the benchmark and written as n_files parquet files of
    consecutive pages, so the engine is handed only the pages. With `fresh`,
    page i is stamped FRESH_T0 + (i + 1) s, after the cycle cursor."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cortex_spark.corpus import gen_row

    schema = pa.schema([
        pa.field("url", pa.string(), nullable=False),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    os.makedirs(path)
    bounds = [lo + (hi - lo) * j // n_files for j in range(n_files + 1)]
    for j in range(n_files):
        rows = []
        for i in range(bounds[j], bounds[j + 1]):
            r = gen_row(seed, i)
            if fresh:
                r["warc_ts"] = FRESH_T0 + timedelta(seconds=i + 1)
            rows.append(r)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(path, f"part-{j:05d}.parquet"))


def read_pages(spark, path: str):
    from cortex_spark.schemas import PAGES

    return spark.read.schema(PAGES).parquet(path)


def query_texts(seed: int) -> dict:
    """Seeded query strings: words and an entity the corpus generator uses."""
    from cortex_spark.corpus import _BASE_WORDS, _ENTITIES

    rng = random.Random(seed)
    words = lambda n: " ".join(rng.sample(_BASE_WORDS, n))  # noqa: E731
    ent = rng.choice(_ENTITIES)
    return {
        "hybrid": f"{words(3)} {ent}",
        "vector": [f"{words(4)} {rng.choice(_ENTITIES)}" for _ in range(3)],
        "dsl": [
            "kind:decision,goal AND limit:20",
            f"tags:{ent} AND limit:50",
            "created_after:2026-02-01 AND kind:fact,observation AND limit:30",
        ],
    }


# -- output digests -----------------------------------------------------------


def table_hash(df) -> str:
    """Order-independent digest of a table: row count and the sum of one
    64-bit hash per row, over every column (maps as sorted entry arrays)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f.name)
        if isinstance(f.dataType, T.MapType):
            c = F.array_sort(F.map_entries(c))
        cols.append(c)
    row = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("s")
    ).first()
    s = int(row["s"] or 0) % (1 << 64)
    return f"{row['n']}:{s:016x}"


def rows_hash(rows, cols) -> str:
    """Digest of an ordered query result (scores rounded to 6 places)."""
    import hashlib

    h = hashlib.sha256()
    for r in rows:
        vals = [round(r[c], 6) if isinstance(r[c], float) else r[c] for c in cols]
        h.update(json.dumps(vals, default=str).encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


# -- timed operations ---------------------------------------------------------


def linked(tr: Tracer, pages) -> dict:
    """extract → candidates → link, each layer materialized in its span."""
    from cortex_spark.extract.fused import pages_to_nodes_fused
    from cortex_spark.linker.pipeline import ann_candidates, link_nodes

    with tr.layer("extract"):
        nodes = pages_to_nodes_fused(pages, embed_dim=DIM).localCheckpoint()
        n_nodes = nodes.count()
    with tr.layer("candidates"):
        cands = ann_candidates(nodes, lsh_kwargs={"dim": DIM, "n_rows": n_nodes}).localCheckpoint()
        n_cands = cands.count()
    with tr.layer("link"):
        edges = link_nodes(nodes, candidates=cands).localCheckpoint()
        n_edges = edges.count()
    tr.add_rows("extract", n_nodes)
    tr.add_rows("candidates", n_cands)
    tr.add_rows("link", n_edges)
    return {"nodes": nodes, "cands": cands, "edges": edges,
            "counts": {"nodes": n_nodes, "candidate_pairs": n_cands, "edges": n_edges}}


def build(tr: Tracer, pages, out_dir: str) -> dict:
    """One full batch build, pages → canonical node/edge parquet under
    out_dir."""
    from cortex_spark.canon.dedup import dedup_actions, dedup_pairs
    from cortex_spark.canon.merge import canonicalize

    g = linked(tr, pages)
    nodes, cands, edges = g["nodes"], g["cands"], g["edges"]
    with tr.layer("dedup"):
        actions = dedup_actions(dedup_pairs(nodes, candidates=cands), nodes, edges).localCheckpoint()
        n_actions = actions.count()
    with tr.layer("canon"):
        cnodes, cedges = canonicalize(nodes, edges, actions)
        cnodes = cnodes.localCheckpoint()
        cedges = cedges.localCheckpoint()
        n_cnodes, n_cedges = cnodes.count(), cedges.count()
    with tr.layer("write"):
        cnodes.write.mode("overwrite").parquet(os.path.join(out_dir, "nodes"))
        cedges.write.mode("overwrite").parquet(os.path.join(out_dir, "edges"))
    tr.add_rows("dedup", n_actions)
    tr.add_rows("canon", n_cedges)
    tr.add_rows("write", n_cnodes + n_cedges)
    g["actions"] = actions
    g["counts"].update(dedup_actions=n_actions, canonical_nodes=n_cnodes, canonical_edges=n_cedges)
    return g


def serve(tr: Tracer, nodes, edges, texts: dict, anchor: str, index=None) -> tuple[dict, dict]:
    """The query mix: the vector searches, the DSL queries, then one hybrid
    search with an anchor. Returns (latencies per query type, results).

    Searches are given the index, if any, and pick their path themselves:
    an exact scan below hybrid.INDEX_ABOVE_CORPUS live nodes, as at this
    benchmark's sizes, an index probe above it."""
    from cortex_spark import query_dsl
    from cortex_spark.hybrid import hybrid_search, vector_search

    lat: dict[str, list[float]] = defaultdict(list)
    res: dict = {"vector": [], "dsl": []}
    for text in texts["vector"]:
        t0 = time.perf_counter()
        with tr.layer("query.vector"):
            res["vector"].append(vector_search(
                nodes, text, k=QUERY_K, embed_dim=DIM, index=index
            ).select("node_id", "kind", "vector_score").collect())
        lat["vector"].append(time.perf_counter() - t0)
    for q in texts["dsl"]:
        t0 = time.perf_counter()
        with tr.layer("query.dsl"):
            res["dsl"].append(query_dsl.query(nodes, q, now=NOW).select(
                "node_id", "kind", "tags", "created_at", "deleted"
            ).collect())
        lat["dsl"].append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    with tr.layer("query.hybrid"):
        res["hybrid"] = hybrid_search(
            nodes, edges, texts["hybrid"], anchors=[anchor], limit=QUERY_K,
            max_anchor_depth=HYBRID_DEPTH, embed_dim=DIM, index=index,
        ).collect()
    lat["hybrid"].append(time.perf_counter() - t0)
    tr.add_rows("query.hybrid", len(res["hybrid"]))
    tr.add_rows("query.vector", sum(len(r) for r in res["vector"]))
    tr.add_rows("query.dsl", sum(len(r) for r in res["dsl"]))
    return lat, res


# -- checks -------------------------------------------------------------------


def check_queries(res: dict, texts: dict, live_ids: set) -> dict:
    """Invariants every seed must meet; returns the result digests."""
    from cortex_spark import query_dsl

    hyb = res["hybrid"]
    check(0 < len(hyb) <= QUERY_K, f"hybrid returned {len(hyb)} rows")
    sc = [r["combined_score"] for r in hyb]
    check(sc == sorted(sc, reverse=True), "hybrid not ordered by combined_score")
    for vec in res["vector"]:
        check(len(vec) == QUERY_K, f"vector returned {len(vec)} rows")
        vs = [r["vector_score"] for r in vec]
        check(vs == sorted(vs, reverse=True) and all(-1.0001 <= s <= 1.0001 for s in vs),
              "vector scores out of order or range")
        check(all(r["node_id"] in live_ids for r in vec), "vector hit is not a live node")
    for q, rows in zip(texts["dsl"], res["dsl"]):
        ast = query_dsl.parse(q, now=NOW)
        nf = query_dsl.compile_filter(ast)
        check(nf.limit is None or len(rows) <= nf.limit, f"dsl {q!r} over its limit")
        for r in rows:
            check(not r["deleted"], f"dsl {q!r} returned a deleted node")
            check(not nf.kinds or r["kind"] in nf.kinds, f"dsl {q!r} kind filter broken")
            check(not nf.tags or bool(set(r["tags"] or ()) & set(nf.tags)), f"dsl {q!r} tag filter broken")
            check(nf.created_after is None or r["created_at"] > nf.created_after.replace(tzinfo=None),
                  f"dsl {q!r} created_after filter broken")
        ts = [(r["created_at"], r["node_id"]) for r in rows]
        check(ts == sorted(ts, key=lambda t: (-t[0].timestamp(), t[1])), f"dsl {q!r} misordered")
    return {
        "hybrid": rows_hash(hyb, ("node_id", "vector_score", "graph_score", "combined_score")),
        "vector": [rows_hash(v, ("node_id", "vector_score")) for v in res["vector"]],
        "dsl": [rows_hash(rows, ("node_id",)) for rows in res["dsl"]],
    }


def compare_pins(observed: dict, pinned: dict | None, where: str = "") -> None:
    """Every key present in `pinned` must match `observed` exactly."""
    if pinned is None:
        return
    for k, v in pinned.items():
        check(k in observed, f"pin {where}{k} not produced")
        if isinstance(v, dict):
            compare_pins(observed[k], v, f"{where}{k}.")
        else:
            check(observed[k] == v, f"pin {where}{k}: expected {v!r}, got {observed[k]!r}")


def median(xs):
    return statistics.median(xs) if xs else None
