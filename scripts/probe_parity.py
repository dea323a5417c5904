"""Dump ANN probe outputs so two source trees can be compared bit for bit.

Builds seeded persisted indexes over a seeded 1,024-vector, 64-dim
corpus (flat IVF-PQ at ks=16 and ks=256, and a two-level IMI index at
k1=k2=8), then serves N seeded four-query requests against each three
times: with a ``local_frame`` query set, with a ``createDataFrame(list)``
query set (an RDD-backed frame, as a serving client builds it), and
with a ``local_frame`` query set and ``quantization._PROBE_COLLECT_SCALARS``
set to 1, which sends every probe down the Spark cell selection and the
Spark scoring tail instead of the driver path (frame kind ``tail``). Each
request is served three times: cold, with ``ann_index``'s resident store
cleared first, so the probe collects its slice; fill, the version's second
probe, which collects the whole index into the store; and warm, from the
store (a tree without the store serves all three the same way). For each
probe it records the rows
``(query_id, neighbor_id, cosine bits, rank)``, the result schema with
nullability, the Spark jobs the probe started (construct and collect), its
wall time, and the index rows in the probed cells (slice rows), and prints a
summary per index, frame kind and state: median ms, median jobs, and slice
rows per result.

    python scripts/probe_parity.py --out new.json
    python scripts/probe_parity.py --tree ../parent --out old.json
    python scripts/probe_parity.py --compare old.json new.json

``--tree`` imports the package from another checkout (default: the tree
holding this script). ``--compare`` exits 1 if any probe's rows or
schema differ, in any state. One local session, ``--cpus`` cores
(default: all).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

N_VECTORS = 1024
DIM = 64
BATCH = 4
POOL = 64
K = 5
N_PROBE = 4


def _corpus(seed: int):
    """Unit vectors in 10 weak clusters (the gen_scale.py geometry), and
    a pool of queries: corpus vectors moved by a little noise."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 0.07 / np.sqrt(DIM), (10, DIM))
    x = centers[rng.integers(0, 10, N_VECTORS)] + rng.normal(0, 0.125, (N_VECTORS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    q = x[rng.choice(N_VECTORS, POOL, replace=False)] + rng.normal(0, 0.02, (POOL, DIM))
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype(np.float32)
    return x, q


def _jobs(sc, group: str, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _probed_cells(Q, S, meta: dict, q) -> list:
    """The cells a probe scans, by the package's own Spark selectors."""
    if meta.get("quantizer") == "imi":
        probes = Q.imi_probe_cells(
            q, meta["centroids"], meta["centroids2"], meta["dim"], N_PROBE, N_PROBE,
            meta["id_col"], meta["vec_col"], stride=meta.get("imi_stride"),
        )
    else:
        probes = S._spark_probe_cells(
            S._query_frame(q, meta["dim"], meta["id_col"], meta["vec_col"]),
            S._centroid_df(q.sparkSession, meta["centroids"]),
            meta["dim"],
            N_PROBE,
        )
    return sorted({r["cell"] for r in probes.select("cell").collect()})


def run(args, work: str) -> dict:
    sys.path.insert(0, args.tree)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(args.cpus))
    from project_clinical_data_etl_pipeline_spark.operators import ann_index as AI
    from project_clinical_data_etl_pipeline_spark.operators import quantization as Q
    from project_clinical_data_etl_pipeline_spark.operators import similarity as S
    from project_clinical_data_etl_pipeline_spark.session import get_spark, local_frame

    spark = get_spark(app_name="probe_parity", cpus=args.cpus)
    sc = spark.sparkContext
    schema = "vec_id bigint, embedding array<float>"
    x, pool = _corpus(args.seed)
    corpus = local_frame(spark, [(i, x[i].tolist()) for i in range(N_VECTORS)], schema)
    builders = {
        "ks16": lambda p: AI.build_ivfpq_index(spark, corpus, p, dim=DIM, ks=16, n_iter=1),
        "ks256": lambda p: AI.build_ivfpq_index(spark, corpus, p, dim=DIM, ks=256, n_iter=1),
        "imi": lambda p: AI.build_imi_index(spark, corpus, p, dim=DIM, k1=8, k2=8, ks=16, n_iter=1),
    }
    frames = {
        "local": lambda rows: local_frame(spark, rows, schema),
        "rdd": lambda rows: spark.createDataFrame(rows, schema),
        "tail": lambda rows: local_frame(spark, rows, schema),
    }
    budget = Q._PROBE_COLLECT_SCALARS
    store = getattr(AI, "_RESIDENT", None)
    states = ("cold", "fill", "warm")
    probes, schemas = [], {}
    for name in args.indexes.split(","):
        path = os.path.join(work, name)
        builders[name](path)
        meta = AI.load_index_meta(path)
        cell_rows = {
            r["cell"]: r["count"]
            for r in AI.read_index(spark, path).groupBy("cell").count().collect()
        }
        for kind, make in frames.items():
            Q._PROBE_COLLECT_SCALARS = 1 if kind == "tail" else budget
            warm = make([(1_000_000 + j, pool[j].tolist()) for j in range(BATCH)])
            AI.probe_index(spark, path, warm, k=K).collect()
            for req in range(args.requests):
                idx = [(req * BATCH + j) % POOL for j in range(BATCH)]
                q = make([(1_000_000 + i, pool[i].tolist()) for i in idx])
                slice_rows = sum(cell_rows.get(c, 0) for c in _probed_cells(Q, S, meta, q))
                for state in states:
                    if state == "cold" and store is not None:
                        store.clear()
                    t0 = time.perf_counter()
                    out, jobs = _jobs(
                        sc, f"parity_{name}_{kind}_{req}_{state}",
                        lambda: AI.probe_index(spark, path, q, k=K).collect(),
                    )
                    ms = (time.perf_counter() - t0) * 1e3
                    rows = sorted(
                        (r["query_id"], r["neighbor_id"], float(r["cosine"]).hex(), r["rank"])
                        for r in out
                    )
                    probes.append({
                        "index": name, "frame": kind, "state": state, "request": req,
                        "rows": rows, "jobs": jobs, "ms": round(ms, 1),
                        "slice_rows": slice_rows,
                    })
                df = AI.probe_index(spark, path, q, k=K)
                schemas[f"{name}/{kind}"] = df.schema.jsonValue()
    Q._PROBE_COLLECT_SCALARS = budget
    summary = {}
    for name in args.indexes.split(","):
        for kind in frames:
            for state in states:
                ps = [
                    p for p in probes
                    if (p["index"], p["frame"], p["state"]) == (name, kind, state)
                ]
                summary[f"{name}/{kind}/{state}"] = {
                    "median_ms": statistics.median(p["ms"] for p in ps),
                    "median_jobs": statistics.median(p["jobs"] for p in ps),
                    "slice_rows_per_result": round(
                        sum(p["slice_rows"] for p in ps)
                        / max(1, sum(len(p["rows"]) for p in ps)),
                        2,
                    ),
                }
    return {
        "tree": os.path.abspath(args.tree),
        "seed": args.seed,
        "cpus": args.cpus,
        "probes": probes,
        "schemas": schemas,
        "summary": summary,
    }


def compare(a_path: str, b_path: str) -> int:
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    key = lambda p: (p["index"], p["frame"], p["state"], p["request"])  # noqa: E731
    rows_a = {key(p): p["rows"] for p in a["probes"]}
    rows_b = {key(p): p["rows"] for p in b["probes"]}
    bad = [k for k in sorted(set(rows_a) | set(rows_b)) if rows_a.get(k) != rows_b.get(k)]
    bad += [s for s in sorted(set(a["schemas"]) | set(b["schemas"]))
            if a["schemas"].get(s) != b["schemas"].get(s)]
    n_rows = sum(len(r) for r in rows_a.values())
    print(f"{len(rows_a)} probes, {n_rows} rows: {'identical' if not bad else 'DIFFER'}")
    for k in bad:
        print("  differs:", k)
    for s in sorted(set(a["summary"]) & set(b["summary"])):
        print(f"  {s}: {a['summary'][s]} -> {b['summary'][s]}")
    return 1 if bad else 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tree", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    ap.add_argument("--out")
    ap.add_argument("--requests", type=int, default=16)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--indexes", default="ks16,ks256,imi")
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        sys.exit(compare(*args.compare))
    work = tempfile.mkdtemp(prefix="probe_parity_")
    try:
        res = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for s, v in res["summary"].items():
        print(s, v)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(res, f)


if __name__ == "__main__":
    main()
