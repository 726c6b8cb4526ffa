"""The traced run: spans around every op and every layer call, Spark's
event log, and the per-layer metrics derived from them.

A traced invocation runs, after the usual set-up and warm-up:
  1. one untraced op of the workload (the tracing-overhead reference);
  2. a session restart with the event log on, then one traced op;
  3. one traced op of the other workload (so both workloads' traced runs
     report every per-layer metric);
  4. direct calls into each layer's public functions, one span each.
Event-log jobs are attributed to the span whose interval holds them.
End-to-end numbers never come from this run.
"""

from __future__ import annotations

import glob
import os
import statistics
import time


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def _tree_files(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _link_metrics(prefix: str, surfaces_df, tracer) -> tuple[dict, list]:
    """Exercise operators.link on one surface set: candidate pairs, then
    the full link (pairs + embeddings + cosine + best match)."""
    from informers_spark.operators.link import candidate_pairs, link_entities

    surfaces = surfaces_df.localCheckpoint()
    n = surfaces.count()
    with tracer.span(f"{prefix}.candidate_pairs"):
        t_pairs, pairs = _timed(lambda: candidate_pairs(surfaces).count())
    with tracer.span(f"{prefix}.link_entities"):
        t_link, edges = _timed(
            lambda: link_entities(surfaces, threshold=0.75, backend="hash").collect()
        )
    return {
        f"{prefix}.surfaces": (n, "count"),
        f"{prefix}.candidate_pairs": (pairs, "count"),
        f"{prefix}.same_as_edges": (len(edges), "count"),
        f"{prefix}.useful_ratio": (len(edges) / pairs if pairs else 0.0, "ratio"),
        f"{prefix}.candidate_pairs_s": (t_pairs, "s"),
        f"{prefix}.link_entities_s": (t_link, "s"),
    }, edges


def layer_calls(spark, kg, ops, cores: int, seed: int, kg_n: int, lsh_surfaces: int, tracer) -> dict:
    """Direct calls into each module's public functions."""
    from pyspark.sql import functions as F

    from informers_spark.backend.base import get_backend
    from informers_spark.functions.similarity import minhash_signature, shingle_fingerprints
    from informers_spark.operators.canon import connected_components
    from informers_spark.operators.extract import extract_structural_triples
    from informers_spark.pipelines.embed import embed
    from informers_spark.pipelines.ner import ner
    from informers_spark.sources.corpus import ORGS, generate_files
    from informers_spark.sources.warehouse import Warehouse

    from perfbench.inputs import org_surfaces

    L: dict[str, tuple] = {}

    with tracer.span("sources.corpus"):
        t, _ = _timed(_noop, generate_files(spark, n=kg_n, seed=seed))
    L["corpus.gen_rows_per_s"] = (kg_n / t, "rows/s")

    wh = Warehouse(spark, kg.wh)
    n_files, n_bytes = _tree_files(kg.wh)
    L["warehouse.files_written"] = (n_files, "count")
    L["warehouse.bytes_written"] = (n_bytes, "bytes")
    rows = sum(wh.manifest(t)["rows"] for t in ("files", "mentions"))
    with tracer.span("sources.warehouse.read"):
        t, _ = _timed(lambda: [_noop(wh.read(t)) for t in ("files", "mentions")])
    L["warehouse.read_rows_per_s"] = (rows / t, "rows/s")

    be = get_backend("hash")
    texts = kg.sample_texts
    rates = {}
    for name, fn in (("ner", be.token_classify), ("embed", be.mean_encode)):
        with tracer.span(f"backend.{name}"):
            ts = [_timed(fn, texts)[0] for _ in range(3)]
        rates[name] = len(texts) / statistics.median(ts)
        L[f"backend.{name}_rows_per_s"] = (rates[name], "rows/s")

    text_df = wh.read("files").select(F.col("content").alias("text"))
    for name, fn in (("ner", ner), ("embed", embed)):
        with tracer.span(f"pipelines.{name}"):
            t, _ = _timed(_noop, fn(text_df, backend="hash"))
        L[f"pipelines.{name}_rows_per_s"] = (kg_n / t, "rows/s")
        L[f"pipelines.{name}_udf_efficiency"] = (kg_n / t / (cores * rates[name]), "ratio")

    with tracer.span("operators.extract"):
        t, _ = _timed(_noop, extract_structural_triples(wh.read("files")))
    L["extract.rows_per_s"] = (kg_n / t, "rows/s")

    kg_surfaces = (
        wh.read("mentions").filter(F.col("entity_group").isin("PER", "ORG", "LOC"))
        .select(F.col("word").alias("surface")).distinct()
    )
    with tracer.span("operators.link.exact"):
        m, _ = _link_metrics("link", kg_surfaces, tracer)
    L.update(m)
    words = " ".join(ORGS).split()
    lsh_df = spark.createDataFrame(
        [(s,) for s in org_surfaces(seed, lsh_surfaces, words)], "surface string"
    )
    with tracer.span("operators.link.lsh"):
        m, edges = _link_metrics("link_lsh", lsh_df, tracer)
    L.update(m)

    edges_df = spark.createDataFrame(
        [(e.src, e.dst) for e in edges], "src string, dst string"
    ).localCheckpoint()
    edges_df.count()
    with tracer.span("operators.canon.union_find"):
        t, _ = _timed(lambda: connected_components(edges_df).collect())
    L["canon.union_find_s"] = (t, "s")
    # the distributed tier runs on the KG job's own same_as edges: on the
    # LSH edges above it can stop at max_iter before its labels settle,
    # which would cost the traced run most of its time budget
    kg_edges = wh.read("same_as").select("src", "dst").localCheckpoint()
    kg_edges.count()
    cm: dict = {}
    with tracer.span("operators.canon.distributed"):
        t, _ = _timed(
            lambda: connected_components(kg_edges, small_cutoff=0, metrics=cm).collect()
        )
    L["canon.distributed_s"] = (t, "s")
    L["canon.distributed_iterations"] = (cm["iterations"], "count")

    docs = spark.read.parquet(os.path.join(ops.dir, "documents.parquet"))
    for name, portable in (("portable", True), ("xxhash", False)):
        with tracer.span(f"functions.similarity.{name}"):
            # fingerprints projected first, as minhash_pairs does, so the
            # signature's 16 minima share one fingerprint array
            t, _ = _timed(_noop, docs.select(
                shingle_fingerprints(F.col("text"), 3, portable=portable).alias("fps")
            ).select(minhash_signature(F.col("fps"), k=16)))
        L[f"similarity.signature_{name}_s"] = (t, "s")
    return L


def kg_stage_metrics(m: dict, wall: float) -> dict:
    st = {k: m[k].get("stage_wall_sec", 0.0) for k in
          ("files", "mentions", "embeddings", "triples_raw", "same_as", "components",
           "triples", "nodes", "edges")}
    crit = (st["files"] + max(st["mentions"], st["embeddings"])
            + max(st["triples_raw"], st["same_as"] + st["components"])
            + st["triples"] + max(st["nodes"], st["edges"]))
    out = {f"kg.{k}_s": (v, "s") for k, v in st.items()}
    out["kg.critical_path_s"] = (crit, "s")
    out["kg.driver_gap_s"] = (wall - crit, "s")
    return out


def _broadcast_joins(plan: str) -> int:
    final = plan.split("== Initial Plan ==")[0]
    return final.count("BroadcastHashJoin") + final.count("BroadcastNestedLoopJoin")


def traced_run(args, session, wl, other, record, *, kg_n: int, queries: list[str],
               graph_query: str, lsh_surfaces: int, spans_path: str) -> dict:
    from perfbench.probe import Tracer, op_stats, read_event_log

    kg, ops = (wl, other) if wl.name == "kg_build" else (other, wl)
    spark = session.spark
    t0 = time.perf_counter()
    other.prepare(spark)
    record["input_prep_s"] += time.perf_counter() - t0
    samples: dict = {}
    failed = attempted = 0

    untraced, _, f, a = wl.op(spark, samples)
    failed, attempted = failed + f, attempted + a

    events = os.path.join(os.path.dirname(kg.wh), "events")
    os.makedirs(events, exist_ok=True)
    session.start({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + events,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    spark = session.spark
    tracer = Tracer(f"{wl.name}-seed{args.seed}")
    walls = {}
    for w in (wl, other):
        with tracer.span(f"op.{w.name}") as sp:
            walls[w.name], _, f, a = w.op(spark, samples, tracer)
        failed, attempted = failed + f, attempted + a
        sp["wall_s"] = walls[w.name]
    with tracer.span("operators.graph"):
        _, _, f, a = ops.op(spark, samples, tracer, queries=[graph_query])
    failed, attempted = failed + f, attempted + a
    kg_wall = walls["kg_build"]
    kg_span = next(s for s in tracer.spans if s["name"] == "op.kg_build")
    try:
        L = layer_calls(spark, kg, ops, session.env["cores"], args.seed, kg_n, lsh_surfaces, tracer)
    finally:
        tracer.write(spans_path)
    session.spark.stop()
    session.spark = None

    logs = [p for p in glob.glob(os.path.join(events, "*")) if not p.endswith(".inprogress")]
    ev = read_event_log(logs[0])
    op_spans = {"kg_build": (kg_span["start"], kg_span["start"] + kg_wall)}
    op_spans.update(ops.query_spans)
    for op, (s, e) in op_spans.items():
        for k, v in op_stats(ev, s, e).items():
            unit = {"executor_cpu_s": "s", "driver_gap_s": "s", "shuffle_bytes": "bytes",
                    "spill_bytes": "bytes", "tasks": "count", "task_skew": "ratio"}[k]
            L[f"{op}.{k}"] = (v, unit)
    for q in queries + [graph_query]:
        L[f"q.{q}_s"] = (op_spans[q][1] - op_spans[q][0], "s")
    L["q.minhash_pairs_fast_broadcast_joins"] = (_broadcast_joins(ops.minhash_plan), "count")
    L.update(kg_stage_metrics(kg.last_metrics, kg_wall))
    L["kg.wall_s"] = (kg_wall, "s")
    L["session.start_s"] = (record["setups_s"][0], "s")
    L["trace.overhead_s"] = (walls[wl.name] - untraced, "s")

    record["samples"] = samples
    record["trace_walls"] = {"untraced": untraced, **walls}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(L.items())},
    }
