"""ANN index persistence: save → load → serve is row-identical to
serving from in-memory artifacts; ivf_append equals assign-at-build
for the same centroids; manifest records components/params."""

from __future__ import annotations

from pyspark.sql import functions as F

from cosmap_spark.operators.index_store import (
    ivf_append,
    load_ann_index,
    save_ann_index,
)
from cosmap_spark.operators.knn import ivf_build, lsh_build
from cosmap_spark.operators.pq import pq_encode, pq_train
from cosmap_spark.queries.llm_ops import knn_ann_union
from cosmap_spark.sinks.commit import ManifestStore
from cosmap_spark.tables import load_table

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r["method"], r["qid"], r["nid"], r["score"], r["rn"])
        for r in df.collect()
    )


def _opq_artifacts(spark, emb):
    """Prebuilt OPQ rotation/codebooks/coded table at the gate's
    parameters — shared by the parity tests so the ivf/pq assertions
    don't pay (or depend on) an OPQ retrain per call."""
    from cosmap_spark.operators.pq import (
        opq_train_gate, pq_encode, rotate_vectors,
    )

    rot, books = opq_train_gate(emb)
    coded = pq_encode(
        rotate_vectors(emb, rot), books
    ).localCheckpoint(eager=True)
    return {"opq_rot": rot, "opq_books": books, "opq_coded": coded}


def test_save_load_serve_identical(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    cents, assigned = ivf_build(emb, nlist=16, iters=1)
    assigned = assigned.localCheckpoint(eager=True)
    books = pq_train(emb, m=16, ksub=64, iters=1, dim=64)
    coded = pq_encode(
        assigned, books, id_col="nid", vec_col="nvec", keep=["cid"]
    ).localCheckpoint(eager=True)
    lsh_idx = lsh_build(emb, dim=64).localCheckpoint(eager=True)
    from cosmap_spark.operators.knn import binarize_vectors

    bits = binarize_vectors(emb, dim=64).localCheckpoint(eager=True)

    p = str(tmp_path / "index")
    save_ann_index(
        p, index=(cents, assigned), codebooks=books,
        lsh_index=lsh_idx, coded=coded, bq_bits=bits,
    )
    loaded = load_ann_index(spark, p)
    assert set(loaded) == {"index", "codebooks", "lsh_index", "coded",
                           "bq_bits"}
    assert loaded["codebooks"] == [[list(map(float, c)) for c in s] for s in books]
    # ivf_build returns centroids in collect order; identity is the
    # cid→vector mapping, not the list order
    assert dict(loaded["index"][0]) == {
        c: list(map(float, v)) for c, v in cents
    }

    # prebuilt OPQ artifacts passed to BOTH sides: this test pins the
    # ivf/pq/lsh persistence parity; the OPQ save/load roundtrip has
    # its own test below
    opq_art = _opq_artifacts(spark, emb)
    mem = knn_ann_union(
        spark, SF, index=(cents, assigned), codebooks=books,
        lsh_index=lsh_idx, coded=coded, bq_bits=bits,
        **opq_art,
    )
    disk = knn_ann_union(spark, SF, **loaded, **opq_art)
    assert _rows(mem) == _rows(disk) and mem.count() > 0

    manifest = ManifestStore(p).latest()[1]
    assert manifest["nlist"] == 16 and manifest["m"] == 16
    assert manifest["ksub"] == 64


def test_residual_flag_round_trips_and_serves(spark, tmp_path):
    """A residual-layout index must carry its flag in the manifest:
    serving **loaded then routes knn_ivfpq(residual=True), and the
    result is row-identical to serving the in-memory residual
    artifacts (codes decoded under the wrong layout would differ)."""
    from cosmap_spark.operators.pq import ivf_residuals

    emb = load_table(spark, SF, "embeddings")
    cents, assigned = ivf_build(emb, nlist=16, iters=1)
    assigned = assigned.localCheckpoint(eager=True)
    res = ivf_residuals(assigned, cents)
    books = pq_train(res, m=16, ksub=64, iters=1, dim=64,
                     id_col="nid", vec_col="rvec")
    coded = pq_encode(
        res, books, id_col="nid", vec_col="rvec", keep=["cid"]
    ).localCheckpoint(eager=True)
    lsh_idx = lsh_build(emb, dim=64).localCheckpoint(eager=True)

    p = str(tmp_path / "res_index")
    save_ann_index(
        p, index=(cents, assigned), codebooks=books,
        lsh_index=lsh_idx, coded=coded, residual=True,
    )
    loaded = load_ann_index(spark, p)
    assert loaded["residual"] is True
    opq_art = _opq_artifacts(spark, emb)
    mem = knn_ann_union(
        spark, SF, index=(cents, assigned), codebooks=books,
        lsh_index=lsh_idx, coded=coded, residual=True,
        **opq_art,
    )
    disk = knn_ann_union(spark, SF, **loaded, **opq_art)
    assert _rows(mem) == _rows(disk) and mem.count() > 0
    # a raw-layout save has no flag at all
    p2 = str(tmp_path / "raw_index")
    save_ann_index(p2, lsh_index=lsh_idx)
    assert "residual" not in load_ann_index(spark, p2)


def test_pq_append_matches_full_encode(spark, tmp_path):
    """Appending a batch to a coded corpus (frozen centroids AND
    codebooks) must produce code-identical rows to encoding the full
    corpus from scratch with the same artifacts — in both layouts —
    and serving from the appended index equals serving from the
    rebuilt one."""
    from cosmap_spark.operators.index_store import pq_append
    from cosmap_spark.operators.knn import ivf_assign
    from cosmap_spark.operators.pq import ivf_residuals, knn_ivfpq

    emb = load_table(spark, SF, "embeddings")
    old = emb.where(F.col("vec_id") % 4 != 0)
    new = emb.where(F.col("vec_id") % 4 == 0)
    for residual in (False, True):
        cents, assigned = ivf_build(old, nlist=8, iters=1)
        assigned = assigned.localCheckpoint(eager=True)
        if residual:
            src, vec = ivf_residuals(assigned, cents), "rvec"
        else:
            src, vec = assigned, "nvec"
        books = pq_train(src, m=8, ksub=16, iters=1, id_col="nid", vec_col=vec)
        coded = pq_encode(src, books, id_col="nid", vec_col=vec, keep=["cid"])
        idx2, coded2 = pq_append(
            (cents, assigned), books, coded, new, residual=residual
        )
        # from-scratch: assign + encode the FULL corpus with the same
        # frozen artifacts
        full = ivf_assign(emb, cents)
        fsrc, fvec = (
            (ivf_residuals(full, cents), "rvec") if residual else (full, "nvec")
        )
        want = sorted(
            (r["nid"], r["cid"], tuple(r["codes"]))
            for r in pq_encode(
                fsrc, books, id_col="nid", vec_col=fvec, keep=["cid"]
            ).collect()
        )
        got = sorted(
            (r["nid"], r["cid"], tuple(r["codes"])) for r in coded2.collect()
        )
        assert got == want, f"residual={residual}"
        # serve equivalence
        queries = emb.where(F.col("vec_id") < 5)
        a = sorted(map(tuple, knn_ivfpq(
            emb, queries, k=5, nlist=8, nprobe=6, m=8, ksub=16,
            prebuilt=idx2, codebooks=books, coded=coded2, residual=residual,
        ).collect()))
        b = sorted(map(tuple, knn_ivfpq(
            emb, queries, k=5, nlist=8, nprobe=6, m=8, ksub=16,
            prebuilt=(cents, full.localCheckpoint(eager=True)),
            codebooks=books, residual=residual,
        ).collect()))
        assert a == b, f"residual={residual}"


def test_prune_scan_partition_filters_on_persisted_store(spark, tmp_path):
    """The 100 TB serve story made mechanical: save_ann_index writes
    the coded corpus partitionBy("cid"); knn_ivfpq(prune_scan=True)
    pushes the probed cid set into the scan as a STATIC
    PartitionFilter, so unprobed inverted lists are skipped at the
    file-listing level.  Results must be identical with and without
    pruning (membership is re-checked by the join)."""
    from cosmap_spark.operators.pq import knn_ivfpq

    emb = load_table(spark, SF, "embeddings")
    cents, assigned = ivf_build(emb, nlist=8, iters=1)
    assigned = assigned.localCheckpoint(eager=True)
    books = pq_train(emb, m=8, ksub=16, iters=1)
    coded = pq_encode(assigned, books, id_col="nid", vec_col="nvec",
                      keep=["cid"])
    p = str(tmp_path / "pruned_index")
    save_ann_index(p, index=(cents, assigned), codebooks=books, coded=coded)
    loaded = load_ann_index(spark, p)
    queries = emb.where(F.col("vec_id") < 4)

    pruned = knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=2, m=8, ksub=16,
        prebuilt=loaded["index"], codebooks=loaded["codebooks"],
        coded=loaded["coded"], prune_scan=True,
    )
    plain = knn_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=2, m=8, ksub=16,
        prebuilt=loaded["index"], codebooks=loaded["codebooks"],
        coded=loaded["coded"],
    )
    assert sorted(map(tuple, pruned.collect())) == sorted(
        map(tuple, plain.collect())
    )
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted"
    )
    # the probed-cid literal must land in the scan's PartitionFilters
    # (file-level pruning), not just a post-scan Filter
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any(
        "cid" in ln and ("inset" in ln.lower() or " in " in ln.lower())
        for ln in pf
    ), pf


def test_partial_save_round_trips(spark, tmp_path):
    emb = load_table(spark, SF, "embeddings")
    p = str(tmp_path / "lsh_only")
    save_ann_index(p, lsh_index=lsh_build(emb, dim=64))
    loaded = load_ann_index(spark, p)
    assert set(loaded) == {"lsh_index"}
    assert loaded["lsh_index"].count() == lsh_build(emb, dim=64).count()


def test_ivf_append_matches_full_assign(spark, tmp_path):
    from cosmap_spark.operators.knn import ivf_assign

    emb = load_table(spark, SF, "embeddings")
    old = emb.where(F.col("vec_id") % 5 != 0)
    new = emb.where(F.col("vec_id") % 5 == 0)
    cents, assigned_old = ivf_build(old, nlist=8, iters=1)
    cents2, appended = ivf_append((cents, assigned_old), new)
    assert cents2 == cents  # frozen centroids
    want = {
        (r["nid"], r["cid"])
        for r in ivf_assign(emb, cents).collect()
    }
    got = {(r["nid"], r["cid"]) for r in appended.collect()}
    assert got == want


# --- lexical (BM25) index persistence -------------------------------

def _bm25_rows(df):
    return sorted(
        (r["query_id"], r["doc_id"], r["score"], r["n_hit"])
        for r in df.collect()
    )


QUERIES = {
    "q1": "the quick fox",
    "q2": "lazy dog jumps",
    "q3": "missing vocabulary entirely",
}


def _corpus(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_BASE = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick quick fox"),
    (3, "lazy dog sleeps all day the dog"),
    (4, "an unrelated document about spark plans"),
    (5, "fox fox fox dog"),
]


def test_lex_save_load_serve_identical(spark, tmp_path):
    from cosmap_spark.operators.index_store import (
        load_lex_index, save_lex_index,
    )
    from cosmap_spark.operators.retrieval import bm25_search, build_lex_index

    docs = _corpus(spark, _BASE)
    p = str(tmp_path / "lex")
    save_lex_index(p, *build_lex_index(docs))
    loaded = load_lex_index(spark, p)
    assert loaded["n_docs"] == 5
    mem = bm25_search(docs, QUERIES, top_n=3)
    disk = bm25_search(None, QUERIES, top_n=3, prebuilt=loaded)
    assert _bm25_rows(mem) == _bm25_rows(disk) and mem.count() > 0


def test_lex_append_fresh_ids_equals_rebuild(spark, tmp_path):
    from cosmap_spark.operators.index_store import (
        lex_append, load_lex_index, save_lex_index,
    )
    from cosmap_spark.operators.retrieval import bm25_search, build_lex_index

    p = str(tmp_path / "lex")
    save_lex_index(p, *build_lex_index(_corpus(spark, _BASE)))
    batch = [(6, "fresh dog fox arrives"), (7, "the quick end")]
    lex_append(spark, p, _corpus(spark, batch))
    loaded = load_lex_index(spark, p)
    rebuilt = bm25_search(_corpus(spark, _BASE + batch), QUERIES, top_n=4)
    served = bm25_search(None, QUERIES, top_n=4, prebuilt=loaded)
    assert _bm25_rows(served) == _bm25_rows(rebuilt)
    man = ManifestStore(p).latest()[1]
    assert man["n_docs"] == 7
    # total token count over the merged corpus
    want = sum(len(t.split(" ")) for _, t in _BASE + batch)
    assert man["total_len"] == want


def test_lex_append_resubmitted_doc_equals_rebuild(spark, tmp_path):
    """A re-submitted doc id REPLACES its old rows at doc granularity:
    terms the old version had but the new one lacks must vanish from
    the index (the group-replacement contract)."""
    from cosmap_spark.operators.index_store import (
        lex_append, load_lex_index, save_lex_index,
    )
    from cosmap_spark.operators.retrieval import bm25_search, build_lex_index

    p = str(tmp_path / "lex")
    save_lex_index(p, *build_lex_index(_corpus(spark, _BASE)))
    # doc 5 loses every 'fox' and shrinks; doc 8 is new in the same batch
    batch = [(5, "only dog now"), (8, "quick fox encore")]
    lex_append(spark, p, _corpus(spark, batch))
    loaded = load_lex_index(spark, p)
    merged = [r for r in _BASE if r[0] != 5] + batch
    rebuilt = bm25_search(_corpus(spark, merged), QUERIES, top_n=5)
    served = bm25_search(None, QUERIES, top_n=5, prebuilt=loaded)
    assert _bm25_rows(served) == _bm25_rows(rebuilt)
    assert loaded["n_docs"] == 6
    # the stale (5, 'fox') rows are gone from the tf table itself
    assert (
        loaded["tf"].where((F.col("__d") == 5) & (F.col("term") == "fox"))
        .count() == 0
    )


def test_lex_load_rejects_non_lex_dir(spark, tmp_path):
    from cosmap_spark.operators.index_store import load_lex_index

    emb = load_table(spark, SF, "embeddings")
    cents, assigned = ivf_build(emb, nlist=4, iters=1)
    p = str(tmp_path / "ann")
    save_ann_index(p, index=(cents, assigned))
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not a lexical index"):
        load_lex_index(spark, p)


def test_lex_prebuilt_serve_pushes_query_vocab_to_scan(spark, tmp_path):
    """The serve-time ``term IN (query vocabulary)`` filter must reach
    the persisted tf table's parquet scan as a PushedFilter — that is
    the mechanism the term-sorted save layout exists for (row-group
    min/max pruning); a plan that filters post-scan would read the
    whole index per query batch."""
    from cosmap_spark.operators.index_store import (
        load_lex_index, save_lex_index,
    )
    from cosmap_spark.operators.retrieval import bm25_search, build_lex_index

    docs = spark.createDataFrame(
        [(i, f"tok{i} common word{i % 3}") for i in range(50)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "lex")
    save_lex_index(p, *build_lex_index(docs))
    res = bm25_search(
        None, {"q": "tok7 word1"}, prebuilt=load_lex_index(spark, p)
    )
    plan = res._jdf.queryExecution().toString()
    # identify tf-table scans by their read columns (the Location
    # string is metadata-truncated, so the path is unreliable)
    tf_scans = [
        ln for ln in plan.splitlines()
        if "FileScan parquet" in ln and "term#" in ln
    ]
    assert tf_scans, "expected parquet scans of the persisted tf table"
    assert all("In(term," in ln for ln in tf_scans), tf_scans


def test_opq_save_load_serve_identical(spark, tmp_path):
    """The OPQ family rides the same persistence contract as every
    other artifact: save rotation + codebooks + coded rotated corpus,
    load, serve — row-identical to serving the in-memory artifacts
    (codes under a different rotation would silently differ)."""
    emb = load_table(spark, SF, "embeddings")
    art = _opq_artifacts(spark, emb)
    p = str(tmp_path / "opq_index")
    save_ann_index(
        p, opq=art["opq_rot"], opq_codebooks=art["opq_books"],
        opq_coded=art["opq_coded"],
    )
    loaded = load_ann_index(spark, p)
    assert set(loaded) == {"opq_rot", "opq_books", "opq_coded"}
    assert loaded["opq_books"] == [
        [list(map(float, c)) for c in s] for s in art["opq_books"]
    ]
    mem = knn_ann_union(spark, SF, **art)
    disk = knn_ann_union(spark, SF, **loaded)
    assert (
        [r for r in _rows(mem) if r[0] == "opq"]
        == [r for r in _rows(disk) if r[0] == "opq"]
    )
    assert mem.where(F.col("method") == "opq").count() > 0
    manifest = ManifestStore(p).latest()[1]
    assert manifest["opq_m"] == 8 and manifest["opq_ksub"] == 16
    assert manifest["opq_dim"] == 64


def test_lex_append_null_text_retracts_doc(spark, tmp_path):
    """Regression (round-6 review #4): resubmitting a doc with NULL
    text must RETRACT it — tokenization emits nothing, so without the
    explicit delete its stale tokens would serve forever."""
    from cosmap_spark.operators.index_store import (
        lex_append,
        load_lex_index,
        save_lex_index,
    )
    from cosmap_spark.operators.retrieval import bm25_search, build_lex_index

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    p = str(tmp_path / "lex_retract")
    save_lex_index(p, *build_lex_index(base))
    lex_append(
        spark, p,
        spark.createDataFrame([(1, None)], "doc_id long, text string"),
    )
    loaded = load_lex_index(spark, p)
    assert loaded["n_docs"] == 1
    got = bm25_search(None, {"q": "beta alpha"}, prebuilt=loaded).collect()
    assert {r["doc_id"] for r in got} == {2}


def test_lex_positional_save_load_append_phrase_identity(spark, tmp_path):
    """Positional index round trip: phrase results from a LOADED store
    equal the in-memory path; lex_append reads the manifest flag and
    maintains the pos column; a bag-of-words store refuses phrase
    serving loudly."""
    import pytest

    from cosmap_spark.operators.index_store import (
        lex_append, load_lex_index, save_lex_index,
    )
    from cosmap_spark.operators.retrieval import (
        build_lex_index, phrase_search,
    )

    docs = _corpus(spark, _BASE)
    p = str(tmp_path / "plex")
    save_lex_index(p, *build_lex_index(docs, positions=True))
    loaded = load_lex_index(spark, p)
    assert loaded["positional"] is True and "pos" in loaded["tf"].columns

    queries = {"q1": "quick fox", "q2": "lazy dog"}
    mem = phrase_search(docs, queries, top_n=5)
    disk = phrase_search(None, queries, top_n=5, prebuilt=loaded)
    key = lambda df: sorted(  # noqa: E731
        (r["query_id"], r["doc_id"], r["score"]) for r in df.collect()
    )
    assert key(mem) == key(disk) and mem.count() > 0

    # append keeps positions: doc 6 adds a new 'quick fox' phrase hit
    batch = [(6, "a very quick fox indeed")]
    lex_append(spark, p, _corpus(spark, batch))
    loaded2 = load_lex_index(spark, p)
    assert loaded2["positional"] is True
    rebuilt = phrase_search(
        _corpus(spark, _BASE + batch), queries, top_n=5
    )
    served = phrase_search(None, queries, top_n=5, prebuilt=loaded2)
    assert key(served) == key(rebuilt)
    assert any(r["doc_id"] == 6 for r in served.collect())

    # a plain store declares positional=False and refuses phrases
    p2 = str(tmp_path / "bow")
    save_lex_index(p2, *build_lex_index(docs))
    bow = load_lex_index(spark, p2)
    assert bow["positional"] is False
    with pytest.raises(ValueError, match="positional"):
        phrase_search(None, queries, top_n=5, prebuilt=bow)


def test_token_bags_manifest_backend(spark, tmp_path):
    """The plaid index store through the commit protocol (round-10):
    saves commit by CAS-publishing a version — loads return exactly
    the saved artifacts, re-saves publish the next version with the
    previous still readable until expiry, and a crash before publish
    leaves the OLD version serving and only a vacuumable orphan."""
    import os

    import pytest

    import cosmap_spark.sinks.commit as C
    from cosmap_spark.operators.index_store import (
        load_token_bags,
        save_token_bags,
    )

    bags = spark.createDataFrame(
        [(0, [0, 1]), (1, [1])], "nid long, bag array<int>"
    )
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]

    mstore = str(tmp_path / "m")
    save_token_bags(mstore, cents, bags)
    loaded = load_token_bags(spark, mstore)
    assert loaded["centroids"] == cents
    assert loaded["normalize"] is True
    assert sorted(map(tuple, loaded["bags"].collect())) == \
        sorted(map(tuple, bags.collect()))

    # re-save publishes v2 (normalize flips); no rename happened
    save_token_bags(mstore, cents, bags, normalize=False)
    ms = ManifestStore(os.path.join(mstore, "plaid"))
    assert ms.versions() == [1, 2]
    assert load_token_bags(spark, mstore)["normalize"] is False

    # crash before publish: v2 keeps serving, orphans vacuumable
    real = C.LocalFS.publish_exclusive

    def dying(self, p, content):
        raise RuntimeError("injected crash before publish")

    C.LocalFS.publish_exclusive = dying
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            save_token_bags(mstore, cents, bags)
    finally:
        C.LocalFS.publish_exclusive = real
    assert ms.versions() == [1, 2]
    assert load_token_bags(spark, mstore)["normalize"] is False
    assert len(ms.vacuum(min_age_seconds=0)) == 2  # centroids + bags


def test_ann_index_manifest_backend(spark, tmp_path):
    """The ANN index store through the commit protocol (round-10):
    loads serve row-identically to the in-memory artifacts; a RE-save
    publishes a complete new generation atomically — a mix of
    component generations (new codebooks under the old coded corpus)
    structurally cannot happen: a crash before the publish leaves the
    previous generation serving intact, orphans vacuumable, and the
    superseded generation stays loadable by version until expiry."""
    import pytest

    import cosmap_spark.sinks.commit as C

    emb = load_table(spark, SF, "embeddings")
    cents, assigned = ivf_build(emb, nlist=16, iters=1)
    assigned = assigned.localCheckpoint(eager=True)
    books = pq_train(emb, m=16, ksub=64, iters=1, dim=64)
    coded = pq_encode(
        assigned, books, id_col="nid", vec_col="nvec", keep=["cid"]
    ).localCheckpoint(eager=True)
    lsh_idx = lsh_build(emb, dim=64).localCheckpoint(eager=True)
    art = dict(index=(cents, assigned), codebooks=books,
               lsh_index=lsh_idx, coded=coded)

    mpath = str(tmp_path / "m")
    save_ann_index(mpath, **art)

    opq_art = _opq_artifacts(spark, emb)
    ref = knn_ann_union(spark, SF, **art, **opq_art)
    got = knn_ann_union(
        spark, SF, **load_ann_index(spark, mpath), **opq_art)
    assert _rows(ref) == _rows(got) and got.count() > 0

    # a crashed RE-save (new components written, publish dies) leaves
    # the v1 generation serving — never a component mix
    books2 = pq_train(emb, m=16, ksub=32, iters=1, dim=64)
    coded2 = pq_encode(
        assigned, books2, id_col="nid", vec_col="nvec", keep=["cid"]
    )
    real = C.LocalFS.publish_exclusive

    def dying(self, p, content):
        raise RuntimeError("injected crash before publish")

    C.LocalFS.publish_exclusive = dying
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            save_ann_index(mpath, index=(cents, assigned),
                           codebooks=books2, lsh_index=lsh_idx,
                           coded=coded2)
    finally:
        C.LocalFS.publish_exclusive = real
    ms = ManifestStore(mpath)
    assert ms.versions() == [1]
    still = load_ann_index(spark, mpath)
    assert still["codebooks"] == [
        [list(map(float, c)) for c in s] for s in books
    ]  # ksub=64 generation, untouched
    orphans = ms.vacuum(min_age_seconds=0, dry_run=True)
    # the crashed save's five component dirs (ivf contributes two)
    assert len(orphans) == 5

    # a completed RE-save: v2 serves, v1 stays loadable by version
    save_ann_index(mpath, index=(cents, assigned), codebooks=books2,
                   lsh_index=lsh_idx, coded=coded2)
    assert ms.versions() == [1, 2]
    assert load_ann_index(spark, mpath)["codebooks"][0].__len__() == 32
    assert len(load_ann_index(spark, mpath, version=1)
               ["codebooks"][0]) == 64


def test_lex_index_manifest_backend(spark, tmp_path):
    """The lexical index through the commit protocol: loads return the
    saved tf and its corpus stats; a crashed RE-save leaves the old
    generation intact (a tf/lens generation mix cannot happen);
    version-pinned loads work."""
    import pytest

    import cosmap_spark.sinks.commit as C
    from cosmap_spark.operators.index_store import (
        load_lex_index, save_lex_index,
    )
    from cosmap_spark.operators.retrieval import build_lex_index

    docs = spark.createDataFrame(
        [(1, "red fox jumps high"), (2, "lazy dog sleeps")],
        "doc_id long, text string",
    )
    tf, lens = build_lex_index(docs, id_col="doc_id", text_col="text")

    mpath = str(tmp_path / "m")
    save_lex_index(mpath, tf)
    got = load_lex_index(spark, mpath)
    assert sorted(map(tuple, got["tf"].collect())) == \
        sorted(map(tuple, tf.collect()))
    assert got["n_docs"] == 2
    assert got["avgdl"] == lens.agg(F.avg("dl")).collect()[0][0]

    # crashed re-save: old generation serves, version count unchanged
    docs2 = docs.union(spark.createDataFrame(
        [(3, "quick red dog")], "doc_id long, text string"))
    tf2, _ = build_lex_index(docs2, id_col="doc_id", text_col="text")
    real = C.LocalFS.publish_exclusive

    def dying(self, p, content):
        raise RuntimeError("injected crash before publish")

    C.LocalFS.publish_exclusive = dying
    try:
        with pytest.raises(RuntimeError, match="injected crash"):
            save_lex_index(mpath, tf2)
    finally:
        C.LocalFS.publish_exclusive = real
    ms = ManifestStore(mpath)
    assert ms.versions() == [1]
    assert load_lex_index(spark, mpath)["n_docs"] == 2

    # completed re-save: v2 serves, v1 pinnable
    save_lex_index(mpath, tf2)
    assert load_lex_index(spark, mpath)["n_docs"] == 3
    assert load_lex_index(spark, mpath, version=1)["n_docs"] == 2


def test_lex_segment_stack_appends_equal_rebuild(spark, tmp_path):
    """Incremental maintenance — the segment stack
    (round-10): appends write ONE immutable segment each (tf + lens +
    drop list) and the reconciled view equals an index rebuilt from
    scratch on the merged corpus, through fresh ids, a re-submitted
    doc (wholesale replacement), and a NULL-text retraction; corpus
    stats track the reconciled view; every prior version stays
    pinnable; re-saving the loaded tf folds the stack (compaction)."""
    from cosmap_spark.operators.index_store import (
        lex_append, load_lex_index, save_lex_index,
    )
    from cosmap_spark.operators.retrieval import build_lex_index
    from cosmap_spark.sinks.commit import ManifestStore

    def lex_rows(d):
        return sorted(map(tuple, d["tf"].collect()))

    d1 = spark.createDataFrame(
        [(1, "red fox jumps"), (2, "lazy dog sleeps")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "seg")
    tf1, _ = build_lex_index(d1, id_col="doc_id", text_col="text")
    save_lex_index(path, tf1)

    # fresh-id append
    d2 = spark.createDataFrame([(3, "quick red dog barks")],
                               "doc_id long, text string")
    lex_append(spark, path, d2, id_col="doc_id", text_col="text")
    # re-submit doc 1 with NEW text + retract doc 2 (NULL text)
    d3 = spark.createDataFrame([(1, "red red wine"), (2, None)],
                               "doc_id long, text string")
    lex_append(spark, path, d3, id_col="doc_id", text_col="text")

    merged = spark.createDataFrame(
        [(1, "red red wine"), (3, "quick red dog barks")],
        "doc_id long, text string",
    )
    tf_want, _ = build_lex_index(merged, id_col="doc_id",
                                 text_col="text")
    got = load_lex_index(spark, path)
    assert lex_rows(got) == sorted(map(tuple, tf_want.collect()))
    assert got["n_docs"] == 2
    assert got["avgdl"] == (3 + 4) / 2  # dl(1)=3, dl(3)=4

    # history: v1 (2 docs), v2 (+doc 3), v3 (resubmit+retract)
    ms = ManifestStore(path)
    assert ms.versions() == [1, 2, 3]
    assert load_lex_index(spark, path, version=1)["n_docs"] == 2
    assert load_lex_index(spark, path, version=2)["n_docs"] == 3
    assert len(ms.latest()[1]["segments"]) == 2

    # serving through bm25 works on the reconciled frames
    from cosmap_spark.operators.retrieval import bm25_search

    hits = bm25_search(None, {"q0": "red"}, top_n=5, prebuilt=got)
    assert {r["doc_id"] for r in hits.collect()} == {1, 3}

    # compaction: re-save the loaded reconciled tf — folded, no
    # segments, same view; old versions expire + vacuum cleanly
    want_rows = lex_rows(got)  # materialize BEFORE vacuuming the
    # segment dirs this frame's lineage reads
    save_lex_index(path, got["tf"])
    folded = load_lex_index(spark, path)
    assert lex_rows(folded) == want_rows
    assert "segments" not in ms.latest()[1] \
        or ms.latest()[1]["segments"] == []
    ms.expire_versions(keep_last=1)
    removed = ms.vacuum(min_age_seconds=0)
    assert len(removed) >= 6  # base pair + two segments' dirs
    assert lex_rows(load_lex_index(spark, path)) == want_rows


def test_lex_append_refuses_null_doc_ids(spark, tmp_path):
    """A NULL doc id is unaddressable (doc-keyed equi-joins never
    match NULL): without the guard each append would silently
    accumulate another copy of the NULL-id postings that no re-submit
    or retraction could ever replace.  Refused; a NULL-TEXT row with a
    real id (the retraction form) stays legal."""
    import pytest

    from cosmap_spark.operators.index_store import lex_append, save_lex_index
    from cosmap_spark.operators.retrieval import build_lex_index

    base = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    bad = spark.createDataFrame([(None, "ghost doc")],
                                "doc_id long, text string")
    p = str(tmp_path / "lex")
    save_lex_index(p, *build_lex_index(base))
    with pytest.raises(ValueError, match="NULL values in id column"):
        lex_append(spark, p, bad)
    # a retraction (real id, NULL text) still goes through
    lex_append(spark, p, spark.createDataFrame(
        [(1, None)], "doc_id long, text string"))
