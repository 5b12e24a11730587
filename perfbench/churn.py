"""index-churn: writes beside reads on the same ANN index files.

For each family (IVF, IVF-PQ, IVF+SQ8) the run bootstraps
``incremental_ann_sink`` with a seeded batch, then alternates appending a
drifting batch (the sink's own drift and mass triggers decide when to
retrain) and a probed top-k search through the family's public load and
search functions. Checks: each query's served ids are distinct and were
ingested, and recall@k against exact cosine search meets the family's
bound.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np

from common import StatusReader, median

DIM, N_LIST, K, N_PROBE = 32, 8, 5, 4
BOOT, APPEND, N_APPENDS, N_QUERIES = 800, 200, 3, 20
#: recall@5 floors; PQ ranks by lossy codes, so its floor is lower.
RECALL_FLOOR = {"ivf": 0.8, "ivfpq": 0.3, "ivfsq": 0.8}
FAMILIES = ("ivf", "ivfpq", "ivfsq")


def _search(spark, family: str, path: str, queries):
    if family == "ivf":
        from dipa_collaborative_pulsar_idps_spark.functions.ivf import ivf_search, load_ivf_index

        assigned, cents = load_ivf_index(spark, path)
        return ivf_search(assigned, cents, queries, k=K, n_probe=N_PROBE)
    if family == "ivfpq":
        from dipa_collaborative_pulsar_idps_spark.functions.pq import ivfpq_search_encoded, load_ivfpq_index

        enc, cents, cb = load_ivfpq_index(spark, path)
        return ivfpq_search_encoded(enc, cents, cb, queries, k=K, n_probe=N_PROBE)
    from dipa_collaborative_pulsar_idps_spark.functions.sq import ivf_sq_search, load_ivfsq_index

    enc, cents, bounds = load_ivfsq_index(spark, path)
    return ivf_sq_search(enc, cents, bounds, queries, k=K, n_probe=N_PROBE)


def _generations(path: str) -> int:
    return sum(1 for d in os.listdir(path) if d.startswith("gen-"))


def _index_shape(path: str) -> tuple[int, int]:
    """(bytes of the index files, excluding the raw-vector corpus copy;
    delta directories in the tree)."""
    size, deltas = 0, 0
    for dirpath, dirnames, filenames in os.walk(path):
        if "_corpus" in dirpath.split(os.sep):
            continue
        deltas += sum(1 for d in dirnames if d.startswith("batch_id="))
        size += sum(os.path.getsize(os.path.join(dirpath, f)) for f in filenames)
    return size, deltas


def _df(spark, batch, schema: str = "vec_id long, e array<double>"):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(batch["vec_id"], batch["e"])], schema
    )


def run(spark, seed: int, out: str, traced: bool, tracer) -> dict:
    from datagen import ann_batches
    from dipa_collaborative_pulsar_idps_spark.streaming.pipelines import incremental_ann_sink

    work = os.path.join(out, "churn", uuid.uuid4().hex[:8])
    status = StatusReader(spark) if traced else None
    sc = spark.sparkContext
    boots, appends, retrains, searches = [], [], [], []
    attempted = failed = 0
    failed_names: list[str] = []
    layers: dict = {}

    def timed(group: str, fn):
        sc.setJobGroup(group, "")
        with tracer.span(group.split(":")[0], group) as sp:
            res = fn()
        sc.setJobGroup("idle", "")
        jobs = len(status.job_ids(group)) if status else 0
        return res, sp.seconds, jobs

    for fi, family in enumerate(FAMILIES):
        path = os.path.join(work, family)
        sink = incremental_ann_sink(index_path=path, dim=DIM, n_list=N_LIST, family=family)
        batches = ann_batches(seed * 10 + fi, DIM, [BOOT] + [APPEND] * N_APPENDS + [N_QUERIES])
        q_pdf = batches.pop()
        queries = _df(spark, q_pdf, "query_id long, qe array<double>")
        qmat = np.stack(q_pdf["e"].to_list())
        ingested: list[np.ndarray] = []
        ids: list[np.ndarray] = []
        jobs = {"append": [], "retrain": [], "search": []}
        for bi, batch in enumerate(batches):
            df = _df(spark, batch)
            gens = _generations(path) if bi else 0
            attempted += 1
            try:
                _, sec, nj = timed(f"{'boot' if bi == 0 else 'append'}:{family}:{bi}", lambda: sink(df, bi))
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                failed += 1
                failed_names.append(f"{family}:append{bi}:{type(e).__name__}")
                break
            ingested.append(np.stack(batch["e"].to_list()))
            ids.append(batch["vec_id"].to_numpy())
            if bi == 0:
                boots.append(sec)
            elif _generations(path) > gens:
                retrains.append(sec)
                jobs["retrain"].append(nj)
            else:
                appends.append(sec)
                jobs["append"].append(nj)
            if bi == 0:
                continue
            attempted += 1
            try:
                rows, sec, nj = timed(
                    f"search:{family}:{bi}", lambda: _search(spark, family, path, queries).collect()
                )
            except Exception as e:  # noqa: BLE001 - counted as a failed operation
                failed += 1
                failed_names.append(f"{family}:search{bi}:{type(e).__name__}")
                continue
            searches.append(sec)
            jobs["search"].append(nj)
            if not _served_ok(rows, q_pdf["vec_id"].to_numpy(), qmat, np.concatenate(ingested), np.concatenate(ids), RECALL_FLOOR[family]):
                failed += 1
                failed_names.append(f"{family}:search{bi}:check")
        if traced and os.path.isdir(path):
            size, deltas = _index_shape(path)
            layers[f"functions.{family}.append_jobs"] = median(jobs["append"]) if jobs["append"] else 0
            layers[f"functions.{family}.retrain_jobs"] = median(jobs["retrain"]) if jobs["retrain"] else 0
            layers[f"functions.{family}.search_jobs"] = median(jobs["search"]) if jobs["search"] else 0
            layers[f"functions.{family}.index_bytes_per_vec"] = size / max(1, sum(len(i) for i in ids))
            layers[f"functions.{family}.delta_dirs"] = deltas
    shutil.rmtree(work, ignore_errors=True)
    total = sum(appends) + sum(retrains) + sum(searches)
    return {
        "attempted": attempted,
        "failed": failed,
        "failed_names": failed_names,
        "cold_s": sum(boots),
        "op_ms": median(searches) * 1e3 if searches else 0.0,
        "total_s": total,
        "workload_metrics": {
            "append_p50_s": median(appends) if appends else None,
            "search_p50_s": median(searches) if searches else None,
            "retrain_s": sum(retrains),
            "retrains": len(retrains),
        },
        "layers": layers,
    }


def _served_ok(rows, qids, qmat, corpus, corpus_ids, floor: float) -> bool:
    """Each query's served ids are distinct ingested ids, and mean
    recall@K against exact cosine search is at least *floor*."""
    served: dict[int, list[int]] = {int(q): [] for q in qids}
    for r in rows:
        served.setdefault(int(r["query_id"]), []).append(int(r["neighbor_id"]))
    known = set(corpus_ids.tolist())
    if any(len(v) != len(set(v)) or not set(v) <= known or len(v) > K for v in served.values()):
        return False
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    top = np.argsort(-(qn @ cn.T), axis=1)[:, :K]
    recall = np.mean(
        [len(set(served[int(q)]) & set(corpus_ids[top[i]].tolist())) / K for i, q in enumerate(qids)]
    )
    return bool(recall >= floor)
