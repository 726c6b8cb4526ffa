#!/usr/bin/env python3
"""informers_spark benchmark: seeded, closed-loop workloads with one client.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads:

  kg_build   one op = a fresh `plans.kg.build_kg` over a stored
             (repo, path, commit, lang, content) corpus of KG_N files
  ops_proxy  one op = one pass over eight registry queries (MinHash,
             SimHash, IVF, PageRank, PPR, connected components) on a
             seeded proxy of the warehouse tables

Each op starts after the previous op's output is fully materialised; the
output checks (perfbench/checks.py) run outside the timed interval.

--trace 0 prints the end-to-end metrics; --trace 1 makes a separate,
traced invocation that prints the per-layer metrics (see
perfbench/layers.py). Both print a readable table first and, as the last
line of standard output, one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
A full record (host facts, per-query samples, spans) goes to
perfbench/.out/.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")

KG_N = 10_000  # files per KG build
MIN_OPS = 3  # measured ops per run, however short --seconds is
PROXY = dict(docs=600, vecs=500, customers=1500, suppliers=100, copies=4)
# one pass = these registry queries, one per operator family
QUERIES = [
    "q_minhash_pairs_fast",   # dedup: MinHash banded self-join + Jaccard verify
    "q_knn_ivf",              # ann: IVF probe
    "q_cc_components",        # canon: connected components
]
# traced run only: one pass costs about 5 s more than a run can spend
GRAPH_QUERY = "q_ppr_region"
SETUPS = 3  # session set-ups per run; setup_s is their median
LSH_SURFACES = 1200  # traced run: organisation names linked past the exact tier


def configure_env() -> dict:
    """Fit Spark to the host before the JVM starts: local[nproc], a driver
    heap of a quarter of RAM (1-8 GB), the package on the Python workers'
    path, and every scratch file inside the checkout."""
    from perfbench.probe import cpu_count, mem_total_bytes

    heap = f"{max(1, min(8, mem_total_bytes() // 4 // 2**30))}g"
    os.environ["SPARK_DRIVER_MEM"] = heap
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p
    )
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    return {
        "cores": cpu_count(),
        "conf": {
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
            # a fixed-size heap, so G1's heap sizing is the same in every
            # run: left to grow, the heap reached a different size in each
            # run, and runs with the larger heap ran faster
            "spark.driver.extraJavaOptions": (
                f"-Djava.net.preferIPv4Stack=true -XX:-UsePerfData -Xms{heap} "
                f"-Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    }


class Session:
    """Owns the SparkSession: cold start, restarts and final shutdown."""

    def __init__(self, env: dict):
        self.env = env
        self.spark = None

    def start(self, extra: dict | None = None) -> float:
        """(Re)start the session and run its first job. Returns the seconds
        taken, not counting the stop of the previous session."""
        from informers_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", cores=self.env["cores"],
            extra_conf={**self.env["conf"], **(extra or {})},
        )
        self.spark.range(1000).selectExpr("sum(id)").collect()
        return time.perf_counter() - t0

    def close(self):
        """Stop Spark, end the JVM and wait for every child process."""
        from pyspark import SparkContext

        from perfbench.probe import tree_pids

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 60
        while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.2)


# ------------------------------------------------------------- workloads


class KgBuild:
    name = "kg_build"

    def __init__(self, seed: int):
        self.seed = seed
        self.corpus = os.path.join(WORK, "corpus")
        self.wh = os.path.join(WORK, "kg")

    def prepare(self, spark):
        from informers_spark.sources.corpus import generate_files

        from perfbench.checks import kg_expected_triples
        from perfbench.inputs import digest_rows

        cols = ["repo", "path", "commit", "lang", "content"]
        generate_files(spark, n=KG_N, seed=self.seed).select(*cols).write.mode(
            "overwrite"
        ).parquet(self.corpus)
        rows = spark.read.parquet(self.corpus).select("repo", "content").collect()
        shas = [hashlib.sha256(r.content.encode()).hexdigest() for r in rows]
        self.sha_range = [min(shas), max(shas)]
        self.digest = digest_rows((sha,) for sha in shas)
        self.expected = kg_expected_triples((r.repo, r.content) for r in rows)
        self.sample_texts = [r.content for r in rows[:1024]]

    def build(self, spark) -> dict:
        from informers_spark.plans.kg import build_kg

        shutil.rmtree(self.wh, ignore_errors=True)
        return build_kg(spark, spark.read.parquet(self.corpus), self.wh, backend="hash",
                        resume=False)

    def warmup(self, spark):
        self.build(spark)

    def op(self, spark, samples: dict, tracer=None):
        """One fresh build. Returns (seconds, output rows, failed, attempted)."""
        from perfbench.checks import check_kg

        shutil.rmtree(self.wh, ignore_errors=True)
        t0 = time.time()
        m = self.build(spark)
        wall = time.time() - t0
        self.last_metrics = m
        if tracer is not None:
            for stage, sm in m.items():
                end = sm.get("written_at", t0 + wall)
                tracer.add(f"kg.{stage}", end - sm.get("stage_wall_sec", 0.0), end)
        rows = spark.read.parquet(os.path.join(self.wh, "triples")).select(
            "subj", "pred", "obj"
        ).collect()
        problems = check_kg(rows, self.expected, self.sha_range, m["files"])
        report(problems)
        samples.setdefault("kg_build", []).append(wall)
        return wall, m["triples"]["rows"], int(bool(problems)), 1


class OpsProxy:
    name = "ops_proxy"

    def __init__(self, seed: int):
        self.seed = seed
        self.dir = os.path.join(WORK, "proxy")
        self.query_spans: dict[str, tuple[float, float]] = {}

    def prepare(self, spark):
        import numpy as np

        from perfbench import inputs
        from perfbench.checks import cc_edges

        tables = inputs.proxy_tables(self.seed, **PROXY)
        inputs.write_tables(tables, self.dir)
        self.digest = inputs.digest_tables(tables)
        docs = tables["documents"]
        self.texts = dict(zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()))
        self.planted_docs = inputs.planted_doc_pairs(tables, PROXY["copies"])
        emb = tables["embeddings"]
        self.vectors = {
            i: np.asarray(v, dtype=np.float32)
            for i, v in zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist())
        }
        self.planted_knn = {
            q: [q + c * inputs.STRIDE for c in range(1, PROXY["copies"])] for q in range(10)
        }
        self.cc_edges = cc_edges(self.vectors)
        cust, supp, nat = tables["customer"], tables["supplier"], tables["nation"]
        self.entity_edges = (
            [(f"customer:{k}", f"nation:{n}")
             for k, n in zip(cust["c_custkey"].to_pylist(), cust["c_nationkey"].to_pylist())]
            + [(f"supplier:{k}", f"nation:{n}")
               for k, n in zip(supp["s_suppkey"].to_pylist(), supp["s_nationkey"].to_pylist())]
            + [(f"nation:{k}", f"region:{n}")
               for k, n in zip(nat["n_nationkey"].to_pylist(), nat["n_regionkey"].to_pylist())]
        )

    def warmup(self, spark):
        from informers_spark.queries import QUERIES as REG

        for q in QUERIES:
            REG[q](spark, self.dir).toArrow()

    def check(self, q: str, t) -> list[str]:
        from perfbench import checks

        cols = [t.column(i).to_pylist() for i in range(t.num_columns)]
        rows = list(zip(*cols))
        if q == "q_minhash_pairs_fast":
            return checks.check_minhash_pairs(rows, self.texts, self.planted_docs)
        if q == "q_knn_ivf":
            return checks.check_knn(rows, self.vectors, self.planted_knn)
        if q == "q_cc_components":
            return checks.check_components(rows, self.cc_edges)
        if q == "q_ppr_region":
            rev = [(d, s) for s, d in self.entity_edges]
            return checks.check_ranks(rows, checks.pagerank(rev, 4, seeds=["region:0"]), q)
        raise KeyError(q)

    def op(self, spark, samples: dict, tracer=None, queries=QUERIES):
        """One pass over `queries`, each collected to Arrow (every column and
        the final sort computed). Returns (seconds, output rows, failed,
        attempted), counting each query as one attempt."""
        from informers_spark.queries import QUERIES as REG

        wall, rows, failed, outs = 0.0, 0, 0, {}
        for q in queries:
            t0 = time.time()
            try:
                df = REG[q](spark, self.dir)
                outs[q] = df.toArrow()
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            finally:
                dt = time.time() - t0
                wall += dt
                self.query_spans[q] = (t0, t0 + dt)
                if tracer is not None:
                    tracer.add(f"q.{q}", t0, t0 + dt)
            samples.setdefault(q, []).append(dt)
            rows += outs[q].num_rows
            if q == "q_minhash_pairs_fast":
                self.minhash_plan = df._jdf.queryExecution().executedPlan().toString()
        for q, t in outs.items():
            problems = self.check(q, t)
            report(problems)
            failed += int(bool(problems))
        return wall, rows, failed, len(queries)


WORKLOADS = {"kg_build": KgBuild, "ops_proxy": OpsProxy}


def report(problems: list[str]):
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def metric(value, unit):
    return {"value": value, "unit": unit}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "informers_spark")):
        print(f"perfbench: no informers_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.makedirs(OUT, exist_ok=True)

    from perfbench.probe import HostWatch, log

    host = HostWatch()
    env = configure_env()
    session = Session(env)
    wl = WORKLOADS[args.workload](args.seed)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace}
    try:
        setups = [session.start() for _ in range(SETUPS)]
        record["setups_s"] = setups
        log(f"set-ups {[round(s, 2) for s in setups]} s")
        spark = session.spark
        t0 = time.perf_counter()
        wl.prepare(spark)
        record["input_prep_s"] = time.perf_counter() - t0
        record["input_digest"] = wl.digest
        log(f"inputs prepared in {record['input_prep_s']:.2f} s")
        t0 = time.perf_counter()
        wl.warmup(spark)
        record["warmup_s"] = time.perf_counter() - t0
        log(f"warm-up op {record['warmup_s']:.2f} s")

        if args.trace:
            from perfbench.layers import traced_run

            other = next(w for n, w in WORKLOADS.items() if n != args.workload)(args.seed)
            result = traced_run(
                args, session, wl, other, record, kg_n=KG_N, queries=QUERIES,
                graph_query=GRAPH_QUERY, lsh_surfaces=LSH_SURFACES,
                spans_path=os.path.join(OUT, f"{args.workload}-seed{args.seed}-spans.json"),
            )
        else:
            result = measured_run(args, session, wl, record)
    finally:
        session.close()
    record["host"] = host.report()
    record["result"] = result
    with open(os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print_table(record)
    print(json.dumps(result), flush=True)
    return 0


def measured_run(args, session, wl, record) -> dict:
    """Closed loop with one client: ops back to back until their summed
    time reaches --seconds and MIN_OPS have run; checks run between ops,
    untimed. Ops still speed up from one to the next after the warm-up,
    so a fixed count keeps the median at the same point of that curve."""
    from perfbench.probe import RssSampler, log

    spark = session.spark
    walls, rows, failed, attempted, samples = [], [], 0, 0, {}
    with RssSampler() as rss:
        while len(walls) < MIN_OPS or sum(walls) < args.seconds:
            try:
                wall, n, f, a = wl.op(spark, samples)
            except Exception:
                if not walls:
                    raise  # no op finished: there is no latency to report
                traceback.print_exc()
                failed, attempted = failed + 1, attempted + 1
                break
            failed, attempted = failed + f, attempted + a
            log(f"op {len(walls) + 1}: {wall:.2f} s, {f}/{a} failed")
            walls.append(wall)
            rows.append(n)
    record["samples"] = samples
    record["op_walls"] = walls
    metrics = {
        "setup_s": metric(statistics.median(record["setups_s"]), "s"),
        "wall_s": metric(statistics.median(walls), "s"),
        "rows_per_s": metric(statistics.median(r / w for r, w in zip(rows, walls)), "rows/s"),
    }
    # reported, not gated: with the heap fixed at full size it mostly
    # shows that size
    record["peak_rss_mb"] = rss.peak / 2**20
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def print_table(record):
    res = record["result"]
    h = record["host"]
    print(f"workload {record['workload']}  seed {record['seed']}  trace {record['trace']}")
    print(f"host: cores {h['cores']}  heap {h['driver_heap']}  spark {h['spark']}  "
          f"python {h['python']}  loadavg {h['loadavg_start']} -> {h['loadavg_end']}  "
          f"steal {h['steal_pct']}%")
    print(f"input_prep_s {record['input_prep_s']:.3f}  warmup_s {record['warmup_s']:.3f}  "
          f"setups_s {[round(s, 3) for s in record['setups_s']]}")
    print(f"failed/attempted {res['failed']}/{res['attempted']}  "
          f"failed_ratio {res['failed'] / res['attempted']:.4f}")
    if "peak_rss_mb" in record:
        print(f"peak_rss_mb {record['peak_rss_mb']:.1f} (driver + JVM + Python workers)")
    for name, s in sorted(record.get("samples", {}).items()):
        print(f"  {name + '_s':<28} median {statistics.median(s):10.4f} s   n={len(s)}")
    for name, m in res["metrics"].items():
        print(f"  {name:<40} {m['value']:>16.6g} {m['unit']}")


if __name__ == "__main__":
    sys.exit(main())
