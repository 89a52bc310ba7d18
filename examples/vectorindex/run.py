"""Runnable persisted-ANN-index lifecycle — the round-5 vector stack
end-to-end on the embeddings table:

    python examples/vectorindex/run.py [sf_dir]

1. **build** — IVF coarse quantizer + RESIDUAL PQ codebooks (the FAISS
   IVFPQ layout: codes quantize v − centroid[cid], a tighter
   distribution than raw vectors at identical m/ksub);
2. **persist** — `save_ann_index` writes centroids, codebooks, and the
   coded corpus `partitionBy("cid")` (inverted lists as directories),
   recording the residual layout in the manifest;
3. **serve** — `knn_ivfpq(prune_scan=True)` over the loaded artifacts:
   the probed cid set lands in the scan's PartitionFilters, so
   unprobed lists are skipped at the file-listing level — shown by
   grepping the physical plan;
4. **append** — `pq_append` encodes a new batch with the FROZEN
   artifacts (O(batch) incremental cost, history never re-read) and
   serving continues over base ∪ appends;
5. **recall check** — top-5 agreement vs exact brute force;
6. **OPQ** — learn the orthogonal pre-rotation on a hash-sample
   (`opq_train`, monotone objective printed), persist it beside its
   codebooks, and serve flat OPQ-PQ from the loaded artifacts.

Everything distributed-side is the tested operator surface; this file
only composes it.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

from pyspark.sql import functions as F

from cosmap_spark.operators.index_store import (
    load_ann_index,
    pq_append,
    save_ann_index,
)
from cosmap_spark.operators.knn import ivf_build, knn_bruteforce
from cosmap_spark.operators.pq import (
    ivf_residuals,
    knn_ivfpq,
    pq_encode,
    pq_train,
)
from cosmap_spark.session import get_spark
from cosmap_spark.tables import load_table


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="vectorindex-example", master="local[8]",
                      extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") % 5 != 0)   # day-0 corpus
    late = emb.where(F.col("vec_id") % 5 == 0)   # tomorrow's batch
    queries = emb.where(F.col("vec_id") < 8)

    # 1. build (residual layout)
    cents, assigned = ivf_build(base, nlist=16, iters=1)
    assigned = assigned.localCheckpoint(eager=True)
    res = ivf_residuals(assigned, cents)
    books = pq_train(res, m=16, ksub=64, iters=1, id_col="nid",
                     vec_col="rvec")
    coded = pq_encode(res, books, id_col="nid", vec_col="rvec",
                      keep=["cid"])

    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "ann_index")
        # 2. persist (cid-partitioned coded store + residual flag +
        # the binary-quantization words for the compressed-scan path)
        from cosmap_spark.operators.knn import binarize_vectors, knn_binary

        bits = binarize_vectors(base, dim=64)
        save_ann_index(path, index=(cents, assigned), codebooks=books,
                       coded=coded, residual=True, bq_bits=bits)
        loaded = load_ann_index(spark, path)
        print(f"== persisted components: residual={loaded['residual']}, "
              f"coded lists on disk: "
              f"{len([d for d in os.listdir(os.path.join(path, 'pq_coded')) if d.startswith('cid=')])} ==")

        # 3. serve with static list pruning
        topk = knn_ivfpq(
            base, queries, k=5, nlist=16, nprobe=4, m=16, ksub=64,
            rerank=50, prebuilt=loaded["index"],
            codebooks=loaded["codebooks"], coded=loaded["coded"],
            residual=loaded["residual"], prune_scan=True,
        )
        plan = topk._sc._jvm.PythonSQLUtils.explainString(
            topk._jdf.queryExecution(), "formatted"
        )
        pf = [ln.strip() for ln in plan.splitlines()
              if "PartitionFilters" in ln]
        print("== scan PartitionFilters (probed lists only) ==")
        for ln in pf[:2]:
            print("  ", ln[:120])
        topk.orderBy("qid", "rn").show(10)

        # 4. append tomorrow's batch with frozen artifacts
        idx2, coded2 = pq_append(
            loaded["index"], loaded["codebooks"], loaded["coded"], late,
            residual=True,
        )
        print(f"== coded corpus after append: {coded2.count()} rows "
              f"(base {coded.count()}) ==")
        served = knn_ivfpq(
            emb, queries, k=5, nlist=16, nprobe=8, m=16, ksub=64,
            rerank=50, prebuilt=idx2, codebooks=loaded["codebooks"],
            coded=coded2, residual=True,
        )

        # 5. recall vs exact brute force over the FULL corpus
        exact = knn_bruteforce(emb, queries, k=5)
        got = {(r["qid"], r["nid"]) for r in served.collect()}
        want = {(r["qid"], r["nid"]) for r in exact.collect()}
        recall = len(got & want) / max(len(want), 1)
        print(f"== recall@5 vs brute force after append: {recall:.2f} ==")
        assert recall >= 0.5, "persisted+appended index recall degraded"

        # 5b. binary-quantized compressed scan off the SAME store:
        # Hamming over the persisted sign-bit words shortlists, exact
        # cosine re-ranks — no training, no bucketing, no recall cliff
        bq = knn_binary(base, queries, k=5, rerank=100,
                        prebuilt_bits=loaded["bq_bits"])
        got_bq = {(r["qid"], r["nid"]) for r in bq.collect()}
        want_base = {(r["qid"], r["nid"])
                     for r in knn_bruteforce(base, queries, k=5).collect()}
        r_bq = len(got_bq & want_base) / max(len(want_base), 1)
        print(f"== binary-quantized recall@5 (20% shortlist): {r_bq:.2f} ==")
        assert r_bq >= 0.8, "binary-quantized scan recall degraded"

        # 6. OPQ (round 6): learn an orthogonal rotation on a
        # deterministic hash-sample (the FAISS OPQ pre-transform),
        # persist it beside the codebooks, and serve the rotated
        # pipeline — L2 is rotation-invariant, so recall is directly
        # comparable with the exact brute force above
        from cosmap_spark.operators.pq import opq_train_gate, rotate_vectors

        # opq_train_gate is the SINGLE source of the gate sample +
        # params (CLAUDE.md: never re-type them at a call site) — the
        # example must train IDENTICAL artifacts to the gate
        rot, obooks, errs = opq_train_gate(emb, return_stats=True)
        print(f"== OPQ objective per iteration (monotone): "
              f"{[round(e, 4) for e in errs]} ==")
        opq_coded = pq_encode(rotate_vectors(emb, rot), obooks)
        opath = os.path.join(tmp, "opq_index")
        save_ann_index(opath, opq=rot, opq_codebooks=obooks,
                       opq_coded=opq_coded)
        oload = load_ann_index(spark, opath)
        from cosmap_spark.operators.pq import pq_adc_topk

        oserved = pq_adc_topk(
            oload["opq_coded"],
            rotate_vectors(queries, oload["opq_rot"]),
            oload["opq_books"], k=5, rerank=100,
            vectors=rotate_vectors(emb, oload["opq_rot"]),
        )
        ogot = {(r["qid"], r["nid"]) for r in oserved.collect()}
        orecall = len(ogot & want) / max(len(want), 1)
        print(f"== OPQ-PQ recall@5 from the persisted rotation: "
              f"{orecall:.2f} ==")

    spark.stop()


if __name__ == "__main__":
    main()
